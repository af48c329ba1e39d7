"""Streaming drift monitors: incrementally maintained histograms
compared against a frozen reference.

The batch operators (operators/drift.py: ``psi_drift``,
``psi_drift_multi``, ``categorical_drift`` — hash-pinned through the
`profile_psi_drift_multi` oracle row, whose per-column slices are
pytest-pinned equal to ``psi_drift``) answer "did snapshot B shift from
snapshot A" in two scans; a LANDING ZONE wants the running answer as
data arrives — "has this week's ingest drifted from the blessed
reference yet?" — without rescanning history.  Bucket counts are
trivially mergeable (two histograms over disjoint data add
bucket-wise), so the persistent state is just the cumulative counts of
the actual side plus the frozen reference histogram.

The three monitors share one base, ``_ReferenceMonitor``, which holds:

- the config sidecar: the monitor's identity (its parameters plus the
  binning convention), reopening with parameters omitted, the loud
  mismatch error, and the optional state ``set_reference`` freezes
  there (none for PSI, the per-column grid for multi-column, the
  category universe for categorical);
- one table with an ``expected`` and an ``actual`` side, each replaced
  as a whole group;
- the fold: ``ingest_batch`` adds a micro-batch's counts into the
  actual side under the replay watermark (streaming/ckpt.py — count
  addition is NON-idempotent, so the stream's batch_id rides in the
  rows and a replayed micro-batch is skipped, never double-counted);
- the report's "no reference" guard and one driver body
  (``_stream``: availableNow, checkpoint identity pinned, and the
  reference resolved only while the table has no expected side).

Each monitor keeps only its cell keys, its histogram, how it derives
its frozen state, and its report arithmetic:

- ``StreamingPsiMonitor`` — one column, caller-fixed bucket width;
  state ≤ 2 × n_buckets rows.
- ``StreamingDriftMonitor`` (r13) — N columns for ONE melt+aggregate
  per batch, reference-derived grid, per-column PSI/KS/JS report;
  state ≤ 2 × n_buckets × |columns| rows.
- ``StreamingCategoricalMonitor`` (r13) — category shares under the
  frozen top-k universe, join-free ``isin`` relabeling per batch, PSI +
  chi-square report; state ≤ 2 × (top_k + 1) rows.

Every report goes through the batch operator's own tail
(``psi_from_counts`` / ``psi_from_counts_multi``), and the invariant
pinned in tests: after ANY batch split, a monitor's report EQUALS its
batch operator over (reference, concat(batches)).  Each monitor's
``report_dict`` (what the ``drift-monitor`` verb prints) quotes its
collected report through the batch ``drift`` verb's own summaries in
operators/drift.py: ``grid_summary`` (PSI, ``verdict``, KS, JS),
``multi_summary`` (per column, plus the worst) and
``categorical_summary`` (PSI, chi-square, Cramér's V).

Scale shape: per batch, one map-side-combined hash aggregate (the
shuffle carries ≤ |cells| rows per input partition) plus a merge of a
≤ |cells|-row frame.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cumulus_etl_spark.operators.drift import (
    OTHER_CATEGORY,
    bucket_hist,
    categorical_summary,
    grid_summary,
    multi_hist,
    multi_summary,
    psi_from_counts,
    psi_from_counts_multi,
    reference_grid,
)
from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
from cumulus_etl_spark.sources import hadoop_io
from cumulus_etl_spark.streaming.ckpt import (
    add_counts,
    batch_to_fold,
    fold_stream,
    pin_checkpoint_identity,
)

# binning-semantics version: the histogram state is only mergeable with
# batches binned the SAME way, so the convention itself is part of a
# numeric monitor's identity.  "clamp-low-v2" = below-range values clamp
# into bucket 0 (operators/drift.py:bucketize, r12); a monitor created
# under the earlier unclamped convention mismatches and is rejected
# loudly instead of silently mixing bins.
BINNING_VERSION = "clamp-low-v2"


class _ReferenceMonitor:
    """Persistent drift monitor under ``root``: a frozen reference
    histogram plus cumulative actual-side counts, in one table whose
    rows are ``(side, *KEYS, n, last_batch)``.

    A subclass names its table, sidecar and cell ``KEYS`` and supplies
    ``_configure`` (validate the parameters, set them, return the
    identity dict), ``_hist`` (cell counts of a frame) and its report;
    one that freezes state at ``set_reference`` also names it
    (``FROZEN``, its sidecar key) and supplies ``_derive``.

    The config sidecar goes through the Hadoop FileSystem API
    (sources/hadoop_io.py) like the ANN index's centroid state; the
    histogram table itself is a ManagedTable, whose versioned-parquet
    backend is POSIX-local by design (hardlinks) — so the monitor root
    follows the lake's locality, with the sidecar never the blocker."""

    TABLE: str
    CONFIG_FILE: str
    KEYS: tuple[str, ...]
    FROZEN: str | None = None
    REFREEZE: str  # with FROZEN: why a changed frozen state is refused

    def __init__(self, spark: SparkSession, root: str, **params):
        # Reopen convenience (r12 advice): an ESTABLISHED monitor
        # persists its parameters in the config sidecar, so the caller
        # may omit any of them and inherit the stored values — the
        # documented "pass None once the baseline exists" call shape.
        # A NEW monitor must state all of them; omitting them there is
        # a loud error, not a guessed default.
        cfg_path = os.path.join(root, self.CONFIG_FILE)
        stored = None
        if hadoop_io.exists(spark, cfg_path):
            stored = json.loads(hadoop_io.read_text(spark, cfg_path))
        missing = [n for n, v in params.items() if v is None]
        if missing:
            if stored is None:
                raise ValueError(
                    f"new monitor root {root!r} has no config sidecar: "
                    f"{missing} must be given explicitly on first open"
                )
            params = {n: stored[n] if v is None else v for n, v in params.items()}
        self.spark = spark
        self.root = root
        self._cfg_path = cfg_path
        self._identity = self._configure(**params)
        self._frozen = None
        if stored is None:
            self._write_config()
        else:
            created = {k: stored.get(k) for k in self._identity}
            if created != self._identity:
                raise ValueError(
                    f"monitor root {root!r} was created with {created}; "
                    f"reopened with {self._identity} — mismatched binning "
                    "would corrupt the cumulative histograms"
                )
            if self.FROZEN is not None and stored.get(self.FROZEN):
                self._frozen = self._thaw(stored[self.FROZEN])
        self.table = ManagedTable(spark, root, self.TABLE)
        self._policy = MergePolicy(
            keys=("side", *self.KEYS),
            group_field="side",
            last_updated_field=None,
        )

    def _configure(self, **params) -> dict:
        raise NotImplementedError

    def _hist(self, rows: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _derive(self, reference: DataFrame):
        """The state a reference freezes; None when nothing is frozen."""
        return None

    def _thaw(self, stored):
        """The frozen state as read back from the sidecar's JSON."""
        return stored

    def _write_config(self) -> None:
        cfg = dict(self._identity)
        if self.FROZEN is not None:
            cfg[self.FROZEN] = self._frozen
        hadoop_io.write_text(self.spark, self._cfg_path, json.dumps(cfg))

    def _side(self, side: str) -> DataFrame | None:
        state = self.table.read()
        if state is None:
            return None
        return state.filter(F.col("side") == side).select(
            *self.KEYS, "n", "last_batch"
        )

    def _merge_side(self, hist: DataFrame, side: str, batch_id: int) -> None:
        """Replace ``side`` with ``hist`` (≤ |cells| rows, pinned across
        the merge) stamped with ``batch_id``."""
        self.table.merge(
            hist.withColumn("side", F.lit(side))
            .withColumn("last_batch", F.lit(batch_id).cast("bigint"))
            .localCheckpoint(eager=True),
            self._policy,
        )

    def _expected(self) -> DataFrame | None:
        """The reference side; None until a ``set_reference`` merge
        has committed one."""
        expected = self._side("expected")
        if expected is None or expected.limit(1).count() == 0:
            return None
        return expected

    # ---- reference ---------------------------------------------------------

    def set_reference(self, reference: DataFrame) -> None:
        """Freeze the reference: derive and persist the frozen state (if
        the monitor has one), then replace the whole 'expected' group
        with the reference histogram atomically; the cumulative actual
        side is untouched.  On an ESTABLISHED monitor the new reference
        must derive the SAME frozen state — cumulative actual counts
        were folded under it."""
        frozen = self._derive(reference)
        if frozen is not None:
            if self._frozen is not None and frozen != self._frozen:
                raise ValueError(
                    f"monitor root {self.root!r} has a frozen {self.FROZEN} "
                    f"{self._frozen}; the new reference derives {frozen} — "
                    f"re-baseline with a changed {self.FROZEN} by starting "
                    f"a fresh monitor root ({self.REFREEZE})"
                )
            self._frozen = frozen
            self._write_config()
        self._merge_side(self._hist(reference), "expected", -1)

    # ---- ingest ------------------------------------------------------------

    def ingest_batch(self, rows: DataFrame, batch_id: int | None = None) -> None:
        """Fold one micro-batch's histogram into the cumulative actual
        side (whole-group replacement).  The batch_id watermark rides in
        the rows: a replayed batch is skipped, not double-counted."""
        if self.FROZEN is not None and self._frozen is None:
            raise ValueError(
                f"no frozen reference {self.FROZEN}: call set_reference first"
            )
        prior = self._side("actual")
        batch_id = batch_to_fold(prior, batch_id)
        if batch_id is None:
            return  # replay: already folded
        summed = add_counts(self._hist(rows), prior, self.KEYS)
        self._merge_side(summed, "actual", batch_id)

    # ---- report ------------------------------------------------------------

    def _counts(self) -> tuple[DataFrame, DataFrame]:
        """(*KEYS, n_expected) and (*KEYS, n_actual)."""
        expected = self._expected()
        if expected is None:
            raise ValueError("no reference histogram: call set_reference first")
        return (
            expected.select(*self.KEYS, F.col("n").alias("n_expected")),
            self._side("actual").select(*self.KEYS, F.col("n").alias("n_actual")),
        )

    # ---- driver ------------------------------------------------------------

    @classmethod
    def _stream(cls, spark: SparkSession, input_dir: str, monitor_root: str,
                checkpoint_dir: str, schema: str, reference, **params):
        """Checkpointed ingest: parquet rows landing in ``input_dir``
        fold into the monitor batch by batch.  ``reference`` (a
        DataFrame or a zero-arg loader) resolves only while the table
        has no expected side; the checkpoint is pinned first
        (streaming/ckpt.py)."""
        pin_checkpoint_identity(spark, monitor_root, checkpoint_dir)
        mon = cls(spark, monitor_root, **params)
        if mon._expected() is None:
            if reference is None:
                raise ValueError(
                    "new monitor has no frozen baseline: pass a reference "
                    "snapshot (DataFrame or loader) on first open"
                )
            mon.set_reference(reference() if callable(reference) else reference)
        fold_stream(
            spark.readStream.schema(schema).parquet(input_dir),
            checkpoint_dir,
            lambda batch_df, batch_id: mon.ingest_batch(batch_df, batch_id=batch_id),
        )
        return mon


# ---- single-column monitor ------------------------------------------------

HIST_TABLE = "psi_hist"
_CONFIG_FILE = "_psi_config.json"


class StreamingPsiMonitor(_ReferenceMonitor):
    """Single-column drift monitor: caller-fixed bucket width, cells
    keyed by bucket; the report is ``psi_from_counts``, i.e.
    bit-for-bit the batch operator's arithmetic over the same counts."""

    TABLE = HIST_TABLE
    CONFIG_FILE = _CONFIG_FILE
    KEYS = ("bucket",)

    def __init__(self, spark: SparkSession, root: str,
                 value_col: str | None = None,
                 bucket_width: float | None = None,
                 n_buckets: int | None = None):
        super().__init__(spark, root, value_col=value_col,
                         bucket_width=bucket_width, n_buckets=n_buckets)

    def _configure(self, value_col, bucket_width, n_buckets) -> dict:
        if bucket_width <= 0:
            raise ValueError(f"bucket_width must be > 0, got {bucket_width}")
        if n_buckets < 2:
            raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
        self.value_col = value_col
        self.bucket_width = float(bucket_width)
        self.n_buckets = int(n_buckets)
        return {
            "value_col": value_col,
            "bucket_width": self.bucket_width,
            "n_buckets": self.n_buckets,
            "binning": BINNING_VERSION,
        }

    def _hist(self, rows: DataFrame) -> DataFrame:
        return bucket_hist(rows, self.value_col, self.bucket_width, self.n_buckets, "n")

    def report(self, min_pct: float = 1e-6) -> DataFrame:
        """Per-bucket PSI contributions of everything ingested so far vs
        the frozen reference."""
        return psi_from_counts(*self._counts(), min_pct)

    def psi(self, min_pct: float = 1e-6) -> float:
        """The scalar PSI (sum of contributions)."""
        got = self.report(min_pct).agg(F.sum("psi_contrib")).collect()[0][0]
        return round(float(got or 0.0), 6)

    def report_dict(self, min_pct: float = 1e-6) -> dict:
        """The ``drift-monitor --column`` quote from ONE collected
        ≤ n_buckets-row report: ``grid_summary``, the actual-side total
        and the per-bucket contributions."""
        rows = self.report(min_pct).collect()
        return {
            "column": self.value_col,
            **grid_summary(rows),
            "n_actual_total": sum(r["n_actual"] for r in rows),
            "buckets": [
                {"bucket": r["bucket"], "n_expected": r["n_expected"],
                 "n_actual": r["n_actual"], "psi_contrib": r["psi_contrib"]}
                for r in rows
            ],
        }


def streaming_psi(
    spark: SparkSession,
    input_dir: str,
    monitor_root: str,
    checkpoint_dir: str,
    schema: str,
    value_col: str | None = None,
    reference=None,
    bucket_width: float | None = None,
    n_buckets: int | None = None,
) -> StreamingPsiMonitor:
    """Checkpointed ingest: parquet rows landing in ``input_dir`` fold
    into the persistent monitor batch by batch (availableNow).

    ``reference`` may be a DataFrame or a zero-arg loader returning one
    — it is resolved ONLY when the monitor has no frozen baseline yet
    (first open, or a first open that crashed before the reference
    histogram committed).  An established monitor ignores it entirely,
    so the original reference snapshot may be moved or deleted without
    breaking re-runs; pass None once the baseline exists.  The same
    holds for ``value_col``/``bucket_width``/``n_buckets``: on reopen
    they load from the monitor's config sidecar when omitted; a FIRST
    open must state them.

    The checkpoint dir is part of the monitor's identity: stream batch
    ids are PER-CHECKPOINT, so the first checkpoint path is pinned and
    any later mismatch is rejected loudly (streaming/ckpt.py — shared
    with every non-idempotent sketch); re-baseline by starting a fresh
    monitor_root."""
    return StreamingPsiMonitor._stream(
        spark, input_dir, monitor_root, checkpoint_dir, schema, reference,
        value_col=value_col, bucket_width=bucket_width, n_buckets=n_buckets,
    )


# ---- multi-column monitor (r13, round-12 verdict ask 5) -------------------

MULTI_HIST_TABLE = "drift_hist_multi"
_MULTI_CONFIG_FILE = "_drift_config.json"


class StreamingDriftMonitor(_ReferenceMonitor):
    """Multi-column streaming drift monitor: the batch side went
    multi-column in r12 (``psi_drift_multi``, oracled); a real
    landing-dir audit wants the same N-columns-for-one-scan shape
    INCREMENTALLY.  Cells are (column, bucket): per batch, ONE
    generator-projection melt + ONE map-side-combined hash aggregate
    however many columns are watched.

    All four binning pieces are the batch operator's own definitions
    (operators/drift.py: ``melt_columns`` / ``reference_grid`` /
    ``multi_hist`` / ``psi_from_counts_multi``), so the pinned
    invariant carries over verbatim: after ANY batch split, the
    monitor's report EQUALS ``psi_drift_multi(reference,
    concat(batches))``.

    Grid semantics: the per-column (lo, width) grid derives from the
    REFERENCE at ``set_reference`` time (one bounded aggregate) and is
    frozen in the config sidecar — later batches bin identically
    without ever rescanning the reference.  Because the cumulative
    actual-side counts are binned UNDER that grid, re-pointing an
    established monitor at a reference that yields a DIFFERENT grid is
    rejected loudly; re-baseline by starting a fresh monitor root."""

    TABLE = MULTI_HIST_TABLE
    CONFIG_FILE = _MULTI_CONFIG_FILE
    KEYS = ("column", "bucket")
    FROZEN = "grid"
    REFREEZE = "cumulative counts cannot be rebinned"

    def __init__(self, spark: SparkSession, root: str,
                 value_cols: list[str] | None = None,
                 n_buckets: int | None = None):
        super().__init__(spark, root, value_cols=value_cols, n_buckets=n_buckets)

    def _configure(self, value_cols, n_buckets) -> dict:
        value_cols = list(value_cols)
        if not value_cols:
            raise ValueError("StreamingDriftMonitor needs at least one column")
        if n_buckets < 2:
            raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
        self.value_cols = value_cols
        self.n_buckets = int(n_buckets)
        return {
            "value_cols": value_cols,
            "n_buckets": self.n_buckets,
            "binning": BINNING_VERSION,
        }

    @property
    def grid(self) -> dict | None:
        """column -> (lo, width), frozen at ``set_reference``."""
        return self._frozen

    def _derive(self, reference: DataFrame) -> dict:
        return reference_grid(reference, self.value_cols, self.n_buckets)

    def _thaw(self, stored: dict) -> dict:
        return {c: (lo, w) for c, (lo, w) in stored.items()}

    def _hist(self, rows: DataFrame) -> DataFrame:
        return multi_hist(rows, self.value_cols, self.grid, self.n_buckets, "n")

    def report(self, min_pct: float = 1e-6) -> DataFrame:
        """Per-(column, bucket) PSI contributions of everything ingested
        so far vs the frozen reference — ``psi_from_counts_multi``,
        i.e. bit-for-bit the arithmetic the ``profile_psi_drift_multi``
        oracle row hash-pins, over the same counts."""
        return psi_from_counts_multi(*self._counts(), min_pct)

    def report_dict(self, min_pct: float = 1e-6) -> dict:
        """The ``drift --columns`` verb's per-column summary — PSI, KS,
        JS, totals — quoted from ONE collected grid (|columns| ×
        |buckets| rows, the bounded-collect discipline) by the batch
        verb's own ``multi_summary``."""
        return multi_summary(self.report(min_pct).collect(), self.value_cols)


def streaming_drift_multi(
    spark: SparkSession,
    input_dir: str,
    monitor_root: str,
    checkpoint_dir: str,
    schema: str,
    value_cols: list[str] | None = None,
    reference=None,
    n_buckets: int | None = None,
) -> StreamingDriftMonitor:
    """Checkpointed multi-column ingest: the ``streaming_psi`` driver
    over the (column, bucket) state.  ``reference`` resolves only while
    there is no frozen baseline (DataFrame or zero-arg loader);
    ``value_cols``/``n_buckets`` load from the sidecar when omitted on
    reopen."""
    return StreamingDriftMonitor._stream(
        spark, input_dir, monitor_root, checkpoint_dir, schema, reference,
        value_cols=value_cols, n_buckets=n_buckets,
    )


# ---- categorical monitor (r13) --------------------------------------------

CAT_HIST_TABLE = "drift_hist_cat"
_CAT_CONFIG_FILE = "_catdrift_config.json"


class StreamingCategoricalMonitor(_ReferenceMonitor):
    """Streaming counterpart of ``categorical_drift``: an incrementally
    maintained category histogram ("has the source mix shifted yet?")
    against a frozen reference.

    The category UNIVERSE (the reference's top-k by count, category
    tiebreak, everything else → ``__other__``) freezes at
    ``set_reference`` and persists in the sidecar, so later batches
    fold identically without rescanning the reference; batch-side
    relabeling is a literal ``isin`` over ≤ top_k strings — no join at
    all on the ingest path.  A re-baseline whose reference derives a
    DIFFERENT universe is rejected loudly, the multi monitor's grid
    rule.

    The report goes through ``psi_from_counts`` — literally the same
    function the oracled numeric operator ends with, joined on the
    category as the bucket key — so the pinned invariant carries over:
    after ANY batch split the report EQUALS
    ``categorical_drift(reference, concat(batches))``."""

    TABLE = CAT_HIST_TABLE
    CONFIG_FILE = _CAT_CONFIG_FILE
    KEYS = ("category",)
    FROZEN = "universe"
    REFREEZE = "folded counts cannot be re-split"
    FOLD_VERSION = "topk-other-v1"  # universe/fold convention

    def __init__(self, spark: SparkSession, root: str,
                 category_col: str | None = None,
                 top_k: int | None = None):
        super().__init__(spark, root, category_col=category_col, top_k=top_k)

    def _configure(self, category_col, top_k) -> dict:
        if top_k < 1:
            raise ValueError(f"top_k must be >= 1, got {top_k}")
        self.category_col = category_col
        self.top_k = int(top_k)
        return {
            "category_col": category_col,
            "top_k": self.top_k,
            "fold": self.FOLD_VERSION,
        }

    @property
    def universe(self) -> list[str] | None:
        """The reference's top-k categories, frozen at ``set_reference``."""
        return self._frozen

    def _derive(self, reference: DataFrame) -> list[str]:
        """Top-k by reference count, count DESC / category ASC — exactly
        ``categorical_drift``'s rule."""
        cat = F.col(self.category_col).cast("string")
        counted = (
            reference.filter(F.col(self.category_col).isNotNull())
            .groupBy(cat.alias("category"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        return [
            r["category"]
            for r in counted.orderBy(F.desc("n"), F.asc("category"))
            .limit(self.top_k)
            .collect()  # <= top_k rows, the bounded-collect discipline
        ]

    def _hist(self, rows: DataFrame) -> DataFrame:
        cat = F.col(self.category_col).cast("string")
        # literal isin over <= top_k strings (Column API, no SQL text,
        # no join): the ingest path's whole relabel is one expression
        label = (
            F.when(cat.isin(self.universe), cat)
            .otherwise(F.lit(OTHER_CATEGORY))
        )
        return (
            rows.filter(F.col(self.category_col).isNotNull())  # null policy
            .groupBy(label.alias("category"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )

    def report(self, min_pct: float = 1e-6) -> DataFrame:
        """``categorical_drift``'s output schema over everything
        ingested so far — the arithmetic is ``psi_from_counts`` itself
        with the category as the bucket key (one shared definition,
        the monitors' never-bin-apart rule)."""
        e, a = self._counts()
        return psi_from_counts(
            e.withColumnRenamed("category", "bucket"),
            a.withColumnRenamed("category", "bucket"),
            min_pct,
        ).withColumnRenamed("bucket", "category")

    def report_dict(self, min_pct: float = 1e-6) -> dict:
        """PSI + chi-square + Cramér's V from ONE collected
        ≤ (top_k + 1)-row report — the batch verb's
        ``categorical_summary``, incremental.  The per-category list
        has no shares (the batch verb prints ``pct_*``)."""
        rows = self.report(min_pct).collect()
        return {
            "column": self.category_col,
            "mode": "categorical",
            **categorical_summary(rows),
            "categories": [
                {"category": r["category"], "n_expected": r["n_expected"],
                 "n_actual": r["n_actual"], "psi_contrib": r["psi_contrib"]}
                for r in rows
            ],
        }


def streaming_categorical_drift(
    spark: SparkSession,
    input_dir: str,
    monitor_root: str,
    checkpoint_dir: str,
    schema: str,
    category_col: str | None = None,
    reference=None,
    top_k: int | None = None,
) -> StreamingCategoricalMonitor:
    """Checkpointed categorical ingest — the ``streaming_psi`` driver;
    ``reference`` resolves only while there is no frozen baseline,
    ``category_col``/``top_k`` load from the sidecar when omitted on
    reopen."""
    return StreamingCategoricalMonitor._stream(
        spark, input_dir, monitor_root, checkpoint_dir, schema, reference,
        category_col=category_col, top_k=top_k,
    )
