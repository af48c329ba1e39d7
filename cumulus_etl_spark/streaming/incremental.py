"""Incremental / streaming execution (SURVEY §2.10).

The reference is batch-only but resumable: batch-at-a-time writes,
re-runs skip completed work via caches and sidecars. Structured
Streaming gives the same semantics natively:

- ``Trigger.AvailableNow`` + file-source checkpointing = resumable
  batch runs (an interrupted run re-starts where it left off; files
  already processed are never re-read)
- each micro-batch is the reference's batch-upsert unit and runs the
  ``etl`` task body on its lines, so both load the same lake
- watermark + windowed aggregation covers late/changed event data —
  beyond the reference's parity needs but free on this architecture

At scale the same code runs continuously (drop ``availableNow``) over
an object-store landing zone; ``maxFilesPerTrigger`` bounds micro-batch
size the way ``--batch-size`` bounded the reference's memory
(docs/performance.md:35-38).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from cumulus_etl_spark.deid import Codebook, Scrubber
from cumulus_etl_spark.etl.pipeline import _run_task
from cumulus_etl_spark.etl.tasks import select_tasks
from cumulus_etl_spark.sources.ndjson import census, parse_lines, read_lines, tombstones
from cumulus_etl_spark.streaming.ckpt import fold_stream


def incremental_etl(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    phi_dir: str,
    resource_type: str,
    checkpoint_dir: str,
    philter: bool = False,
    max_files_per_trigger: int | None = None,
    athena=None,
) -> dict:
    """Checkpointed ``etl`` of one resource type over an NDJSON landing
    directory; returns ``{rows, quarantined}`` summed over the batches.

    Each invocation processes exactly the files that arrived since the
    last run (file-source checkpoint), then stops. Each micro-batch runs
    ``etl``'s task body (``etl/pipeline.py:_run_task``) on its own lines,
    parsed under that batch's census, and appends its malformed lines to
    ``<phi_dir>/errors/<task>``. The batch's ``deleted/`` tombstones apply
    after its merge, as an ``etl`` run's apply after its merge: they
    delete what this and earlier batches loaded, not a later arrival.

    ``athena``: optional :class:`~cumulus_etl_spark.sinks.catalog_ddl.
    AthenaRegistrar` — fired after each committed micro-batch; registers
    the external table once, after the FIRST batch, so progress is
    queryable immediately (ref formats/nlp.py:50-57).
    """
    codebook = Codebook(phi_dir)
    scrubber = Scrubber(salt=codebook.salt, philter_enabled=philter)
    (task,) = select_tasks([resource_type])
    errors_dir = os.path.join(phi_dir, "errors", task.name)
    total = {"rows": 0, "quarantined": 0}

    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))

    def fold(lines: DataFrame, batch_id: int) -> None:
        good, bad = parse_lines(lines, [resource_type], task.fields(census(lines)))
        # The batch's session, a clone: the rows Observation completes only there.
        summary = _run_task(
            lines.sparkSession, task, good, bad, tombstones(lines), output_dir, codebook,
            scrubber, None, errors_dir=errors_dir, errors_mode="append",
        )
        for key in total:
            total[key] += summary[key]
        if athena is not None:
            athena.on_batch(batch_id)

    fold_stream(read_lines(reader, input_dir), checkpoint_dir, fold)
    return total


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = (),
    slide: str | None = None,
) -> DataFrame:
    """Event-time windowed counts with late-data tolerance.

    Works on a streaming OR batch DataFrame (same plan); with a stream,
    the watermark bounds state: events later than ``watermark`` are
    dropped instead of growing the state store forever.

    ``slide``: overlapping (sliding) windows — e.g. a 1-hour window
    sliding every 15 minutes emits each event into 4 windows. State per
    key grows by the overlap factor, still bounded by the watermark.
    """
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window_duration, slide)
        if slide is not None
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        events.groupBy(win.alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_cols,
            "n_events",
        )
    )


def _checkpoint_seen_version(checkpoint_dir: str) -> int | None:
    """The stream's resume position: highest change-feed version already
    delivered according to the checkpoint's FileStreamSource metadata
    log (``<ckpt>/sources/0``, one JSON-per-line entry per seen file,
    plus ``.compact`` rollups — both carry full paths).

    Returns None for a FRESH stream (no source log yet: late subscribers
    legitimately start at the retention horizon); 0 for a checkpoint
    that subscribed before any commit (it expects v1 next)."""
    src_log = os.path.join(checkpoint_dir, "sources", "0")
    if not os.path.isdir(src_log):
        return None
    seen = -1
    found_log = False
    pat = re.compile(r"changes/v(\d+)/")
    for name in os.listdir(src_log):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        found_log = True
        with open(os.path.join(src_log, name), encoding="utf-8") as f:
            for line in f:
                m = pat.search(line)
                if m:
                    seen = max(seen, int(m.group(1)))
    if not found_log:
        return None
    return max(seen, 0)


def stream_changes(
    spark: SparkSession, table, checkpoint_dir: str | None = None
) -> DataFrame:
    """Streaming CDC source over a ManagedTable's change feed: a file
    stream tailing ``<table>/changes`` — each new commit's change files
    are one micro-batch input, so downstream consumers (stateful aggs,
    stream-stream joins, foreachBatch appliers) ride the standard
    Structured Streaming machinery with checkpoint/resume for free.

    ``_commit_version`` is parsed from the file path; the schema is the
    table's contractual schema (from the pointer) plus ``_change_type``,
    so the stream starts cleanly even before the first commit.

    Exactly-once delivery: merges STAGE change files in a hidden dir and
    rename them into ``changes/vN`` only after the pointer flip (the
    commit point) — see ``ManagedTable._write_changes``. Paths under
    ``changes/`` therefore always belong to committed versions and are
    never rewritten, so the file stream can neither deliver phantom rows
    from a crashed merge nor re-deliver a version whose number was
    reused. A crash between flip and publish only delays that version's
    delivery until the next feed access completes the rename.

    Retention guard (round-5 verdict ask 3): ``finalize(keep_changes=N)``
    deletes old feed versions; a checkpointed stream BEHIND the horizon
    would silently lose them (a file source never lists deleted files).
    Pass ``checkpoint_dir`` — the same one the writeStream uses — and
    this raises ValueError when the feed versions after the checkpoint's
    resume position are not exactly ``(seen, current]`` (truncation past
    the checkpoint, or a middle hole), mirroring IncrementalRollup's
    contiguity guard instead of dropping commits. A FRESH checkpoint
    (no source log yet) is exempt: late subscribers legitimately start
    at the horizon.

    Delta deployments stream the native feed instead:
    ``spark.readStream.format("delta").option("readChangeFeed", "true")``.
    """
    base_schema = table.schema()
    if base_schema is None:
        raise ValueError(f"table {table.name!r} has no schema yet (never written)")
    schema = StructType(
        list(base_schema.fields) + [StructField("_change_type", StringType())]
    )
    table._publish_pending_changes()  # complete any crash-interrupted publish
    if checkpoint_dir is not None:
        seen = _checkpoint_seen_version(checkpoint_dir)
        if seen is not None:
            cur = table.current_version() or 0
            todo = [v for v in table.change_versions() if v > seen]
            expected = list(range(seen + 1, cur + 1))
            if todo != expected:
                raise ValueError(
                    f"change feed has a hole after the stream's checkpoint "
                    f"position v{seen} (feed entries in (v{seen}, v{cur}]: "
                    f"{todo}) — the feed was truncated past the checkpoint "
                    f"(finalize(keep_changes=N)) or a commit skipped the "
                    f"feed; restart from a fresh checkpoint (full-history "
                    f"reload) instead of silently losing those commits"
                )
    changes_root = os.path.join(table.path, "changes")
    os.makedirs(changes_root, exist_ok=True)
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(changes_root)
    )
    return stream.withColumn(
        "_commit_version",
        F.regexp_extract(F.input_file_name(), r"changes/v(\d+)/", 1).cast("int"),
    )
