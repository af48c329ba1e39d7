"""Streaming weighted reservoir sample (Efraimidis–Spirakis A-ES).

The batch samplers (`operators/sampling.py`, `sample_hash_stratified`)
answer "give me k rows of this table"; a LANDING ZONE wants a
fixed-size sample that stays valid as data keeps arriving, without
rescanning history — e.g. a rolling eval set or a human-inspection
sample drawn from a 100 TB ingest.

The A-ES construction makes this trivially mergeable: each row gets a
score u^(1/w) (u uniform in (0,1], w its weight), and the top-k scores
over ANY union of batches are exactly a weighted sample without
replacement of everything seen — so the streaming state is just the
current top-k rows, and the fold is
``top_k(state ∪ top_k(batch))``. Unweighted sampling is the w = 1
special case.

Two deliberate choices, mirroring the CMS/HDR siblings' discipline:

- **Deterministic u**: the uniform draw is the md5-uniform of the row
  id (a 60-bit hex prefix over 2^60 — the `sample_hash_stratified`
  construction), NOT engine RNG. Same row → same score across
  re-runs, engines, and replays; the whole sample is a pure function
  of the ids+weights seen.
- **Idempotent fold instead of a batch watermark**: a replayed batch
  (crash between state merge and offset commit) re-contributes
  IDENTICAL (id, score) rows; the fold dedups by id before the top-k,
  so replay changes nothing. The watermark the sketches need exists
  there because cell addition is non-idempotent — here the math is
  idempotent by construction, which is strictly stronger.

State is k rows forever, replaced atomically per fold via a
group-replacement merge (one group: the whole reservoir). The
invariant pinned in tests: after any batch split, the streaming
reservoir EQUALS the batch top-k over the concatenated data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
from cumulus_etl_spark.streaming.ckpt import fold_stream

RESERVOIR_TABLE = "reservoir"
_MD5_BITS = 60


def md5_uniform(id_col: Column) -> Column:
    """Deterministic uniform draw in (0, 1]: 60-bit md5 prefix of the id
    over 2^60, with the zero bucket mapped to 1 ulp so weights can't
    divide by a log(0). Pure function of the id — stable everywhere."""
    bucket = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 15), 16, 10)
    u = bucket.cast("double") / F.lit(float(1 << _MD5_BITS))
    return F.greatest(u, F.lit(2.0 ** -_MD5_BITS))


def aes_score(id_col: Column, weight: Column | None = None) -> Column:
    """Efraimidis–Spirakis key u^(1/w); top-k by this score is a
    weighted sample without replacement. weight=None means uniform."""
    u = md5_uniform(id_col)
    if weight is None:
        return u
    return F.pow(u, F.lit(1.0) / weight.cast("double"))


def reservoir_top_k(
    rows: DataFrame, k: int, id_col: str, weight_col: str | None = None
) -> DataFrame:
    """Batch form: the k rows with the highest A-ES scores —
    (rid, weight, score). Deterministic total order (score desc, rid)
    so engine ties can't flap the sample. TakeOrdered(k): no global
    sort materializes."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    score = aes_score(F.col(id_col), F.col(weight_col) if weight_col else None)
    if weight_col is not None:
        # A-ES is defined only for w > 0: u^(1/w) with w <= 0 (or null)
        # yields inf/NaN scores that would silently sit at the top of —
        # and permanently corrupt — the persistent reservoir state.
        # Fail loudly, in the SAME pass (assert_true rides the score
        # projection — no extra scan of the batch).
        guard = F.assert_true(
            w.isNotNull() & (w > 0.0),
            F.concat(
                F.lit(
                    f"reservoir weight column {weight_col!r} must be > 0 "
                    "(A-ES score is u^(1/w)); got "
                ),
                F.coalesce(w.cast("string"), F.lit("NULL")),
                F.lit(" for id "),
                F.col(id_col).cast("string"),
            ),
        )
        score = F.when(guard.isNull(), score)
    scored = rows.select(
        F.col(id_col).cast("string").alias("rid"),
        w.alias("weight"),
        score.alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("rid")).limit(k)


class StreamingReservoir:
    """Persistent fixed-size weighted sample under ``root``.

    State: exactly min(k, rows seen) rows. Fold cost per batch: the
    batch's own top-k (TakeOrdered, no shuffle beyond the reduce) plus
    a merge of 2k bounded rows. The sample is a pure function of the
    (id, weight) multiset seen — fold order, batch boundaries, and
    replays cannot change it."""

    def __init__(self, spark: SparkSession, root: str, k: int):
        self.spark = spark
        self.k = int(k)
        self.table = ManagedTable(spark, root, RESERVOIR_TABLE)
        self._policy = MergePolicy(
            keys=("rid",),
            group_field="grp",
            last_updated_field=None,
        )
        prior = self.table.read()
        if prior is not None:
            stored_k = prior.agg(F.max("k")).collect()[0][0]
            if stored_k is not None and int(stored_k) != self.k:
                raise ValueError(
                    f"reservoir root {root!r} holds a k={stored_k} sample "
                    f"but was opened with k={self.k}; reopen it the way it "
                    "was created"
                )

    def ingest_batch(
        self,
        rows: DataFrame,
        id_col: str,
        weight_col: str | None = None,
        batch_id: int | None = None,  # accepted for foreachBatch symmetry
    ) -> None:
        """Fold one micro-batch: state ∪ batch-top-k → dedup by rid →
        top-k, written back as a whole-group replacement (the merge's
        group-delete semantics evict displaced rows atomically)."""
        batch_top = reservoir_top_k(rows, self.k, id_col, weight_col)
        prior = self.table.read()
        if prior is not None:
            batch_top = batch_top.unionByName(
                prior.select("rid", "weight", "score")
            ).dropDuplicates(["rid"])
        new_top = (
            batch_top.orderBy(F.desc("score"), F.asc("rid"))
            .limit(self.k)
            .withColumn("grp", F.lit("reservoir"))
            .withColumn("k", F.lit(self.k))
            .localCheckpoint(eager=True)  # k rows; pin across the merge
        )
        self.table.merge(new_top, self._policy)

    def sample(self) -> DataFrame | None:
        """The current sample (rid, weight, score), score-descending;
        None before the first ingest."""
        state = self.table.read()
        if state is None:
            return None
        return state.select("rid", "weight", "score").orderBy(
            F.desc("score"), F.asc("rid")
        )


def streaming_reservoir(
    spark: SparkSession,
    input_dir: str,
    sketch_root: str,
    checkpoint_dir: str,
    id_col: str,
    schema: str,
    k: int,
    weight_col: str | None = None,
) -> StreamingReservoir:
    """Checkpointed ingest: NDJSON rows landing in ``input_dir`` fold
    into the persistent reservoir batch by batch (availableNow; same
    shape as streaming_quantiles/streaming_heavy_hitters)."""
    res = StreamingReservoir(spark, sketch_root, k)
    fold_stream(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.ndjson")
        .json(input_dir),
        checkpoint_dir,
        lambda batch_df, batch_id: res.ingest_batch(
            batch_df, id_col, weight_col=weight_col, batch_id=batch_id
        ),
    )
    return res
