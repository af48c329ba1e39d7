"""Streaming heavy hitters: an incrementally maintained Count-Min sketch.

The batch sketch (operators/sketch.py countmin_table) answers "how often
does key k appear" with one scan; a LANDING ZONE wants the running
answer as data arrives, without rescanning history. Count-Min is
MERGEABLE — two sketches over disjoint data add cell-wise — so the
persistent state is just the d×w cell table plus a bounded candidate
set of the current top keys:

Per micro-batch (foreachBatch, checkpointed — an interrupted ingest
resumes where it left off):

1. build the batch's own d×w delta table (map-side combine; the shuffle
   carries at most d*w rows per input partition),
2. add it cell-wise into the persistent cells table (the table is at
   most d*w rows total, so this is a broadcast-sized join however much
   data has streamed through),
3. re-estimate the union of (current candidates ∪ batch keys) against
   the updated cells and keep the top_k by (estimate, key) — the
   standard CMS+heap heavy-hitter construction, distributed.

The invariant this buys (pinned in tests/test_streaming.py): after any
sequence of batches, the cells table EQUALS the batch-built sketch over
the concatenated data — streaming adds no error beyond CMS itself — and
candidate estimates are the same one-sided overestimates.

Like every CMS, a key's true count is never under-estimated, and a key
can only miss the candidate set if at ingest time it was outside the
top_k estimates; size top_k with headroom over the report size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cumulus_etl_spark.operators.sketch import _cms_bucket, countmin_table
from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
from cumulus_etl_spark.streaming.ckpt import (
    add_counts,
    batch_to_fold,
    fold_stream,
    pin_checkpoint_identity,
)

CELLS_TABLE = "cms_cells"
TOPK_TABLE = "cms_topk"


class StreamingCountMin:
    """Persistent Count-Min sketch + top-k candidates under ``root``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        depth: int = 4,
        width: int = 512,
        salt: str = "cms",
        top_k: int = 50,
    ):
        self.spark = spark
        self.depth = depth
        self.width = width
        self.salt = salt
        self.top_k = top_k
        self.cells = ManagedTable(spark, root, CELLS_TABLE)
        self.topk = ManagedTable(spark, root, TOPK_TABLE)
        self._cell_policy = MergePolicy(keys=("seed", "bucket"), last_updated_field=None)
        self._topk_policy = MergePolicy(keys=("k",), last_updated_field=None)
        if type(self) is StreamingCountMin:
            self._guard_mode(root, WIN_CELLS_TABLE, "WindowedCountMin")

    def _guard_mode(self, root: str, sibling_table: str, sibling_mode: str) -> None:
        """The all-time and windowed sketches keep DISJOINT state tables
        under the same root; reopening a root with the other mode would
        silently start from empty while the prior counts sit orphaned in
        the sibling's tables. Fail loudly on the mismatch instead."""
        if ManagedTable(self.spark, root, sibling_table).current_version() is not None:
            raise ValueError(
                f"sketch root {root!r} holds {sibling_mode} state "
                f"({sibling_table} exists); reopen it with the same "
                "--window-batches mode it was created with"
            )

    # ---- ingest ----

    def ingest_batch(
        self, rows: DataFrame, key_col: str, batch_id: int | None = None
    ) -> None:
        """Fold one batch into the sketch and refresh the candidates.

        Replay-safe: the stream's ``batch_id`` is written INTO the cells
        table (same column on every row), and a merge is one atomic
        pointer flip — so a micro-batch replayed after a crash between
        the cells merge and the stream's offset commit is detected by
        its watermark and skipped instead of double-counted. (The topk
        refresh below is derived purely from cells + candidates, so
        replaying IT is naturally idempotent.) Direct callers without a
        batch_id get monotonically increasing synthetic ids.

        A replayed batch skips ONLY the cells merge (that is the
        non-idempotent half); the candidate/top-k refresh below still
        runs, against the already-folded cells — otherwise a crash
        between the cells merge and the topk merge would permanently
        drop that batch's keys from the candidate set."""
        prior = self.cells.read()
        batch_id = batch_to_fold(prior, batch_id)
        if batch_id is None:
            # Already folded: reuse the stored cells for the (idempotent)
            # candidate refresh instead of double-counting the batch.
            # prior can still be None here if a caller hands a negative
            # batch_id to an empty store — fall back to the empty frame
            # instead of crashing the refresh join.
            cells = prior if prior is not None else self._empty_cells()
        else:
            delta = countmin_table(
                rows, key_col, depth=self.depth, width=self.width, salt=self.salt
            )
            summed = add_counts(delta, prior, ("seed", "bucket"), "cnt")
            # d*w rows max: pin them so estimate() below and the merge don't
            # recompute the union against a table mid-rewrite.
            cells = summed.withColumn(
                "last_batch", F.lit(batch_id).cast("bigint")
            ).localCheckpoint(eager=True)
            self.cells.merge(cells, self._cell_policy)
        self._refresh_topk(rows, key_col, cells)

    # ---- shared machinery (base + windowed subclass) ----

    def _empty_cells(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], "seed int, bucket int, cnt bigint, last_batch bigint"
        )

    def _query_cells(self, cells: DataFrame) -> DataFrame:
        """Hook: the (seed, bucket, cnt) frame estimates run against.
        The all-time sketch queries its cells as stored; the windowed
        subclass overrides this with the recency-filtered ring sum."""
        return cells

    def _refresh_topk(self, rows: DataFrame, key_col: str, cells: DataFrame) -> None:
        """Re-estimate (current candidates ∪ batch keys) against the
        cells and keep the top_k — derived purely from stored state, so
        running it on a replayed batch is idempotent."""
        batch_keys = rows.select(
            F.col(key_col).cast("string").alias("k")
        ).distinct()
        prior_topk = self.topk.read()
        cand = (
            batch_keys
            if prior_topk is None
            else batch_keys.unionByName(prior_topk.select("k")).distinct()
        )
        est = self._estimate_against(cand, self._query_cells(cells))
        new_topk = (
            est.orderBy(F.desc("estimate"), "k").limit(self.top_k)
        ).localCheckpoint(eager=True)
        self.topk.merge(new_topk, self._topk_policy)
        if prior_topk is not None:
            evicted = prior_topk.select("k").join(
                new_topk.select("k"), "k", "left_anti"
            )
            self.topk.delete_ids(evicted, id_col="k")

    def _estimate_against(self, keys: DataFrame, cells: DataFrame) -> DataFrame:
        probes = keys.select(
            "k",
            F.explode(F.sequence(F.lit(0), F.lit(self.depth - 1))).alias("seed"),
        ).withColumn(
            "bucket", _cms_bucket(F.col("k"), F.col("seed"), self.width, self.salt)
        )
        # LEFT join + coalesce 0: a bucket with no cell row means count 0,
        # and CMS takes the min over ALL rows — an inner join would drop
        # the empty bucket and inflate (or lose) never-seen keys.
        return (
            probes.join(F.broadcast(cells), ["seed", "bucket"], "left")
            .groupBy("k")
            .agg(
                F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                .cast("bigint")
                .alias("estimate")
            )
        )

    # ---- queries ----

    def estimate(self, keys: DataFrame | list[str], key_col: str = "k") -> DataFrame:
        """(k, estimate) for the given keys against the current sketch."""
        if isinstance(keys, list):
            keys = self.spark.createDataFrame([(k,) for k in keys], "k string")
        else:
            keys = keys.select(F.col(key_col).cast("string").alias("k"))
        keys = keys.distinct()  # same shape whether the sketch exists yet
        cells = self.cells.read()
        if cells is None:
            return keys.select("k", F.lit(0).cast("bigint").alias("estimate"))
        return self._estimate_against(keys, self._query_cells(cells))

    def heavy_hitters(self) -> DataFrame | None:
        """The current top-k candidates (k, estimate)."""
        t = self.topk.read()
        return None if t is None else t.orderBy(F.desc("estimate"), "k")


WIN_CELLS_TABLE = "cms_win_cells"
WIN_TOPK_TABLE = "cms_win_topk"


class WindowedCountMin(StreamingCountMin):
    """Sliding-window heavy hitters: a RING of ``window_batches``
    mergeable Count-Min sketches (round-6 verdict ask 6). Training-data
    telemetry wants "heavy in the last K batches", not all-time — an
    old flood key must decay out once its batches rotate off.

    Slot ``batch_id % window_batches`` holds batch's OWN sketch; an
    ingest overwrites the slot that just fell out of the window, and
    every query sums the ≤K stored slots cell-wise — CMS is linear, so
    the sum IS the sketch of exactly the last K batches' rows, with the
    usual one-sided error. Slot replacement must be COMPLETE (stale
    buckets the new batch didn't touch have to go), so each ingest
    writes the slot DENSE — all d×w cells, zeros included — which keeps
    the state bounded at window_batches·d·w rows regardless of data
    volume and lets the same atomic ManagedTable merge carry it.

    Replay safety is inherited: the batch watermark rides in the cells
    rows; a replayed batch skips the slot write but still refreshes the
    top-k candidates against the stored ring (idempotent)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        depth: int = 4,
        width: int = 512,
        salt: str = "cms",
        top_k: int = 50,
        window_batches: int = 8,
    ):
        super().__init__(
            spark, root, depth=depth, width=width, salt=salt, top_k=top_k
        )
        if window_batches < 1:
            raise ValueError(f"window_batches must be >= 1, got {window_batches}")
        self.window_batches = window_batches
        self.cells = ManagedTable(spark, root, WIN_CELLS_TABLE)
        self.topk = ManagedTable(spark, root, WIN_TOPK_TABLE)
        self._guard_mode(root, CELLS_TABLE, "StreamingCountMin (all-time)")
        self._cell_policy = MergePolicy(keys=("slot", "seed", "bucket"), last_updated_field=None)

    def _dense_grid(self) -> DataFrame:
        n = self.depth * self.width
        return self.spark.range(n).select(
            (F.col("id") / self.width).cast("int").alias("seed"),
            (F.col("id") % self.width).cast("int").alias("bucket"),
        )

    def _empty_cells(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], "slot int, seed int, bucket int, cnt bigint, last_batch bigint"
        )

    def _query_cells(self, cells: DataFrame) -> DataFrame:
        """Recency-filtered cell-wise sum of the ring = the window's
        sketch. The filter (last_batch within window_batches of the
        newest) matters beyond belt-and-braces: a sketch root reopened
        with a SMALLER window_batches would otherwise keep summing the
        orphaned high slots forever, and a caller-supplied batch-id gap
        > window_batches would leave rotated-off batches in scope —
        with the filter both degrade to exactly 'the last K batch ids
        seen', and slots a smaller ring can no longer overwrite simply
        age out of every estimate."""
        mx = cells.agg(F.max("last_batch").alias("__mx"))
        live = (
            cells.crossJoin(F.broadcast(mx))
            .filter(
                F.col("last_batch") > F.col("__mx") - F.lit(self.window_batches)
            )
        )
        return live.groupBy("seed", "bucket").agg(
            F.sum("cnt").cast("bigint").alias("cnt")
        )

    def ingest_batch(
        self, rows: DataFrame, key_col: str, batch_id: int | None = None
    ) -> None:
        prior = self.cells.read()
        batch_id = batch_to_fold(prior, batch_id)
        if batch_id is None:
            # replay: slot already written; refresh topk only
            stored = prior if prior is not None else self._empty_cells()
        else:
            delta = countmin_table(
                rows, key_col, depth=self.depth, width=self.width, salt=self.salt
            )
            dense = (
                self._dense_grid()
                .join(delta, ["seed", "bucket"], "left")
                .select(
                    F.lit(batch_id % self.window_batches).cast("int").alias("slot"),
                    "seed",
                    "bucket",
                    F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("cnt"),
                    F.lit(batch_id).cast("bigint").alias("last_batch"),
                )
                .localCheckpoint(eager=True)
            )
            self.cells.merge(dense, self._cell_policy)
            stored = self.cells.read()
            if stored is None:  # first-ever batch delivered zero rows
                stored = self._empty_cells()
        self._refresh_topk(rows, key_col, stored)


def streaming_heavy_hitters(
    spark: SparkSession,
    input_dir: str,
    sketch_root: str,
    checkpoint_dir: str,
    key_col: str,
    schema: str,
    window_batches: int = 0,
    **cms_kwargs,
) -> StreamingCountMin:
    """Checkpointed ingest: NDJSON rows landing in ``input_dir`` fold
    into the persistent sketch batch by batch; each run processes
    exactly the files that arrived since the last one.
    ``window_batches > 0`` selects the sliding-window ring
    (WindowedCountMin) instead of the all-time sketch."""
    # CMS cell addition is non-idempotent: the replay watermark only
    # holds if this sketch always folds from the SAME checkpoint
    # (streaming/ckpt.py — batch ids are per-checkpoint)
    pin_checkpoint_identity(spark, sketch_root, checkpoint_dir)
    if window_batches > 0:
        cms: StreamingCountMin = WindowedCountMin(
            spark, sketch_root, window_batches=window_batches, **cms_kwargs
        )
    else:
        cms = StreamingCountMin(spark, sketch_root, **cms_kwargs)
    fold_stream(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.ndjson")
        .json(input_dir),
        checkpoint_dir,
        lambda batch_df, batch_id: cms.ingest_batch(
            batch_df, key_col, batch_id=batch_id
        ),
    )
    return cms
