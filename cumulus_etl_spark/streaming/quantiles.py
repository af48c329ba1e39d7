"""Streaming quantiles: an incrementally maintained HDR-style histogram.

The batch path answers "p99 inter-arrival gap" with a full-scan rank
formula (`events_interarrival_quantiles`); a LANDING ZONE wants running
latency/size quantiles as data arrives, without rescanning history.
Like the Count-Min sibling (heavy_hitters.py), the trick is a MERGEABLE
bounded-state summary: an integer log-scale histogram — the scheme
production latency trackers use (HdrHistogram; same family as DDSketch's
relative-error guarantee) — whose buckets add cell-wise across batches.

Bucketing (all exact integer arithmetic, ``sub_bits`` = s):

- values in ``[0, 2^s)`` map to themselves (exact linear region);
- larger v with e = ilog2(v) maps to group ``e − s + 1``, sub-bucket
  ``(v >> (e − s)) − 2^s`` → index ``group·2^s + sub``. Each octave
  splits into 2^s sub-buckets, so any reported quantile's bucket lower
  bound is within a ``2^−s`` relative error of the true value — s = 5
  gives ≤ ~3% with ≤ ~1,900 possible buckets for the full non-negative
  int64 range. State is (bucket, n) rows: bounded forever, however much
  data streams through.

ilog2 is ``length(bin(v)) − 1`` — the same exact-integer log the
`text_lm_surprisal` oracle uses, so every bucket id and bound replays
in plain SQL.

Replay safety is the shared fold contract (streaming/ckpt.py), as for
the CMS sketch: the micro-batch id is written into the cells table and
a replayed batch (crash between the cells merge and the stream's
offset commit) is detected by its watermark and skipped instead of
double-counted.

The invariant this buys (pinned in tests/test_streaming.py): after any
sequence of batches, the stored histogram EQUALS the batch-built
histogram over the concatenated data — streaming adds no error beyond
the bucket resolution itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
from cumulus_etl_spark.streaming.ckpt import (
    add_counts,
    batch_to_fold,
    fold_stream,
    pin_checkpoint_identity,
)

HDR_CELLS_TABLE = "hdr_cells"


def hdr_bucket(v: Column, sub_bits: int = 5) -> Column:
    """Integer HDR bucket index of a non-negative bigint value."""
    s = sub_bits
    e = F.length(F.bin(v)) - 1  # ilog2(v) for v >= 1
    group = e - s + 1
    # the pyspark shiftright/shiftleft WRAPPERS take int shift amounts
    # only; the underlying SQL functions accept column shifts
    sub = F.call_function("shiftright", v, (e - s).cast("int")) - F.lit(1 << s)
    return (
        F.when(v < F.lit(1 << s), v)
        .otherwise(group * F.lit(1 << s) + sub)
        .cast("bigint")
    )


def hdr_bucket_lower_bound(bucket: Column, sub_bits: int = 5) -> Column:
    """Smallest value mapping to ``bucket`` (the reported quantile
    value: a deterministic one-sided under-estimate within 2^-s)."""
    s = sub_bits
    group = F.shiftright(bucket, s)  # int shift: the wrapper is fine here
    sub = bucket - F.shiftleft(group, s)
    return (
        F.when(bucket < F.lit(1 << s), bucket)
        .otherwise(
            F.call_function(
                "shiftleft", F.lit(1 << s) + sub, (group - 1).cast("int")
            )
        )
        .cast("bigint")
    )


def hdr_histogram(
    rows: DataFrame,
    value_col: str,
    sub_bits: int = 5,
    key_col: str | None = None,
) -> DataFrame:
    """Batch histogram: (bucket, n) — or (key, bucket, n) with
    ``key_col`` — over non-negative bigint values. Negative values fail
    loudly — silently bucketing them would corrupt every quantile
    downstream."""
    v = F.col(value_col).cast("bigint")
    bucket = (
        F.when(v < 0, F.raise_error(F.lit(
            f"hdr_histogram: negative value in {value_col!r}; "
            "quantile sketches cover [0, 2^63) only"
        ))).otherwise(hdr_bucket(v, sub_bits)).alias("bucket")
    )
    if key_col is None:
        return rows.select(bucket).groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n")
        )
    return (
        rows.select(F.col(key_col).cast("string").alias("key"), bucket)
        .groupBy("key", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


class StreamingHdrHistogram:
    """Persistent mergeable histogram under ``root``; quantiles on demand.

    ``key_col`` selects the per-key variant (per-route latency
    percentiles): cells become (key, bucket, n), state is bounded by
    ``#distinct keys × ~1,900`` — the caller owns the key cardinality,
    the same contract as the Count-Min candidate set. A root must be
    reopened in the mode it was created with (loud guard, mirroring the
    windowed-CMS mode guard)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        sub_bits: int = 5,
        key_col: str | None = None,
    ):
        self.spark = spark
        self.sub_bits = sub_bits
        self.key_col = key_col
        self.cells = ManagedTable(spark, root, HDR_CELLS_TABLE)
        keys = ("key", "bucket") if key_col is not None else ("bucket",)
        self._policy = MergePolicy(keys=keys, last_updated_field=None)
        prior = self.cells.read()
        if prior is not None and ("key" in prior.columns) != (key_col is not None):
            stored = "per-key" if "key" in prior.columns else "global"
            asked = "per-key" if key_col is not None else "global"
            raise ValueError(
                f"histogram root {root!r} holds {stored} state but was "
                f"opened in {asked} mode; reopen it the way it was created"
            )

    # ---- ingest ----

    def ingest_batch(
        self, rows: DataFrame, value_col: str, batch_id: int | None = None
    ) -> None:
        """Fold one micro-batch into the histogram.

        Replay-safe exactly like StreamingCountMin.ingest_batch: the
        batch id is stored on every cell row; a batch at or below the
        stored watermark is skipped (a replayed fold is the only
        non-idempotent operation here)."""
        prior = self.cells.read()
        batch_id = batch_to_fold(prior, batch_id)
        if batch_id is None:
            return  # already folded; nothing derived to refresh
        delta = hdr_histogram(rows, value_col, self.sub_bits, key_col=self.key_col)
        summed = add_counts(delta, prior, self._policy.keys)
        cells = summed.withColumn(
            "last_batch", F.lit(batch_id).cast("bigint")
        ).localCheckpoint(eager=True)  # bounded rows; pin across the merge
        self.cells.merge(cells, self._policy)

    # ---- queries ----

    def histogram(self) -> DataFrame | None:
        """Stored cells + bucket lower bound; None before first ingest."""
        cells = self.cells.read()
        if cells is None:
            return None
        return cells.select(
            *self._policy.keys,
            "n",
            hdr_bucket_lower_bound(F.col("bucket"), self.sub_bits).alias(
                "lower_bound"
            ),
        )

    def quantiles(self, qs: list[float]) -> DataFrame | None:
        """(q, value) — or (key, q, value) in per-key mode — where value
        is the bucket lower bound of the rank-⌈q·total⌉ element
        (one-sided, within 2^-sub_bits relative error). None before
        first ingest.

        The cumulative walk is a window over the CELLS table — bounded
        at ~1,900 rows per key regardless of streamed volume, so the
        per-partition sort is metadata-sized, never data-sized; in
        per-key mode the window partitions by key, so no single-
        partition global sort appears at any key cardinality."""
        cells = self.cells.read()
        if cells is None:
            return None
        from pyspark.sql import Window

        group = ["key"] if self.key_col is not None else []
        cum = cells.select(*group, "bucket", "n").withColumn(
            "cum", F.sum("n").over(Window.partitionBy(*group).orderBy("bucket"))
        )
        totals = cum.groupBy(*group).agg(F.max("cum").alias("t"))
        want = self.spark.createDataFrame([(float(q),) for q in qs], "q double")
        ranked = totals.crossJoin(F.broadcast(want)).select(
            *group,
            "q",
            F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("t"))).alias("rank"),
        )
        hit = (
            ranked.join(cum, group + [], "inner")
            if group
            else ranked.crossJoin(cum)
        )
        hit = (
            hit.filter(F.col("cum") >= F.col("rank"))
            .groupBy(*group, "q", "rank")
            .agg(F.min("bucket").alias("bucket"))
        )
        return hit.select(
            *group,
            "q",
            hdr_bucket_lower_bound(F.col("bucket"), self.sub_bits).alias("value"),
        ).orderBy(*group, "q")


def streaming_quantiles(
    spark: SparkSession,
    input_dir: str,
    sketch_root: str,
    checkpoint_dir: str,
    value_col: str,
    schema: str,
    sub_bits: int = 5,
    key_col: str | None = None,
) -> StreamingHdrHistogram:
    """Checkpointed ingest: NDJSON rows landing in ``input_dir`` fold
    into the persistent histogram batch by batch; each run processes
    exactly the files that arrived since the last one (same shape as
    streaming_heavy_hitters)."""
    # HDR bucket addition is non-idempotent: same checkpoint-identity
    # contract as the CMS / PSI siblings (streaming/ckpt.py)
    pin_checkpoint_identity(spark, sketch_root, checkpoint_dir)
    hdr = StreamingHdrHistogram(
        spark, sketch_root, sub_bits=sub_bits, key_col=key_col
    )
    fold_stream(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.ndjson")
        .json(input_dir),
        checkpoint_dir,
        lambda batch_df, batch_id: hdr.ingest_batch(
            batch_df, value_col, batch_id=batch_id
        ),
    )
    return hdr
