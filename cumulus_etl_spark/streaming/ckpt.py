"""The fold contract shared by every persistent sketch: a checkpointed
``availableNow`` stream folds each micro-batch into a state root.

- **The driver** — :func:`fold_stream` runs a stream to completion with
  ``foreachBatch(fold)``, a checkpoint location and ``availableNow``:
  each run folds exactly the files that arrived since the last one,
  and an interrupted run resumes where it left off.
- **The replay watermark** — :func:`batch_to_fold`. A crash between the
  state merge and the stream's offset commit replays that micro-batch.
  Count-addition folds (CMS cells, HDR buckets, drift histograms) are
  NON-idempotent, so they write the stream's batch id into their state
  rows (``last_batch``) and skip any batch at or below the stored one.
  :func:`add_counts` is that fold's arithmetic.
- **Checkpoint identity** — :func:`pin_checkpoint_identity`. Batch ids
  are PER-CHECKPOINT: pointing an established sketch at a fresh
  ``--checkpoint`` dir restarts ids at 0, so the watermark silently
  drops the early batches as "replays" — and a later id above it
  re-folds files already counted; for a count-addition fold that is
  silent state corruption with no error. The first checkpoint path
  used against a state root is pinned in a sidecar there (via the
  Hadoop FileSystem API, like the rest of the sidecar state); any
  later mismatch is rejected loudly. Re-baseline by starting a fresh
  state root.

Folds that are idempotent need neither the watermark nor the pin: a
replayed batch — or every file re-read under a fresh checkpoint —
re-folds to the same state. That covers the reservoir (top-k after a
dedup by row id), the dedup index (keyed inserts) and
``incremental_etl``: its MERGE of the same resources, its tombstone
delete (by id) and its Encounter completion merge are all keyed, so a
replay rewrites the same rows. Only its append-only logs repeat a
replayed batch: the quarantined lines, and the codebook mappings,
which readers dedupe. The ANN index keeps its checkpoint INSIDE its
own root, so the pair can never diverge — the other safe design.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cumulus_etl_spark.sources import hadoop_io

CHECKPOINT_IDENTITY_FILE = "_checkpoint_identity.json"


def fold_stream(
    stream: DataFrame, checkpoint_dir: str, fold: Callable[[DataFrame, int], None]
) -> None:
    """Run ``stream`` until the input available now is consumed, calling
    ``fold(batch_df, batch_id)`` once per micro-batch."""
    (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def batch_to_fold(state: DataFrame | None, batch_id: int | None) -> int | None:
    """The batch id to stamp on a fold of ``state`` (rows carrying
    ``last_batch``), or None when ``batch_id`` was already folded.

    The stored batch is ``max(last_batch)``, and -1 for a missing OR
    zero-row state (max() over zero rows is NULL — a zero-row first
    micro-batch must not wedge ingest). Direct callers without a
    ``batch_id`` get the stored batch + 1."""
    stored = -1
    if state is not None:
        got = state.agg(F.max("last_batch")).collect()[0][0]
        stored = -1 if got is None else got
    if batch_id is None:
        return stored + 1
    return None if batch_id <= stored else batch_id


def add_counts(
    delta: DataFrame, prior: DataFrame | None, keys: Sequence[str], count: str = "n"
) -> DataFrame:
    """Cell-wise sum of two count tables over the cell ``keys`` — the
    mergeable-summary fold (counts over disjoint data add)."""
    if prior is None:
        return delta
    return (
        delta.unionByName(prior.select(*keys, count))
        .groupBy(*keys)
        .agg(F.sum(count).cast("bigint").alias(count))
    )


def pin_checkpoint_identity(
    spark: SparkSession, state_root: str, checkpoint_dir: str
) -> None:
    """Record ``checkpoint_dir`` as ``state_root``'s checkpoint on
    first use; raise ValueError if the root was built against a
    different one."""
    sidecar = os.path.join(state_root, CHECKPOINT_IDENTITY_FILE)
    if hadoop_io.exists(spark, sidecar):
        stored = json.loads(hadoop_io.read_text(spark, sidecar))
        if stored["checkpoint_dir"] != checkpoint_dir:
            raise ValueError(
                f"state root {state_root!r} was built against checkpoint "
                f"{stored['checkpoint_dir']!r}; reopened with "
                f"{checkpoint_dir!r} — stream batch ids are per-checkpoint, "
                "so a new checkpoint would corrupt the replay watermark "
                "(early batches dropped as replays, later ids re-folded). "
                "Keep the original checkpoint dir or start a fresh root."
            )
    else:
        hadoop_io.write_text(
            spark, sidecar, json.dumps({"checkpoint_dir": checkpoint_dir})
        )
