"""Distribution-drift detection between two dataset snapshots: PSI.

A 100-TB training-data pipeline re-ingests continuously; the question
"did this month's data shift under the model?" is answered by comparing
the feature distribution of a new snapshot against a reference one.
The Population Stability Index is the standard industry test:

    PSI = sum_buckets (pct_actual - pct_expected) * ln(pct_actual / pct_expected)

with the conventional reading PSI < 0.1 stable, 0.1-0.25 moderate
drift, > 0.25 action required.

Scale shape: each side collapses to its bucket histogram in ONE hash
aggregate (map-side combine makes the shuffle |buckets|-sized, not
row-count-sized), then a |buckets|-row full outer join computes the
per-bucket contributions — the only data movement proportional to the
input is the two scans.  No UDFs, no collects; fixed-width bucketing is
floor division, so both engines (and any two runs) bin identically,
which quantile-edge bucketing cannot promise across engines.

NULL policy: NULLs are excluded from every histogram (single-column,
multi-column, and the streaming monitor all filter them before
binning).  Without the filter Spark's ``least`` would silently bin a
NULL into the LAST bucket (floor(null/w) is null; least skips null
arguments) while the multi path's ``greatest`` would bin it into
bucket 0 — phantom edge-bucket drift, and the two modes would disagree
on identical data.  A drift audit that cares about null-rate drift
should watch it as its own metric (the `expect` verb's null_fraction),
not as histogram mass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucketize(value_col: str, bucket_width: float, n_buckets: int):
    """The shared fixed-width bucket expression: floor division clamped
    into ``n_buckets`` buckets, the last open-ended.  One definition so
    the batch operator and the streaming monitor can never bin apart.
    Callers MUST filter NULLs first (the module null policy): on a NULL
    this expression yields ``n_buckets - 1`` because ``least`` skips
    null arguments, which would masquerade as edge-bucket mass.
    Below-range values clamp into bucket 0 (both edge buckets are
    open-ended), the same convention as the multi-column grid — so
    single-column and multi-column modes bin identically everywhere."""
    return F.least(
        F.greatest(F.floor(F.col(value_col) / bucket_width), F.lit(0)).cast("int"),
        F.lit(n_buckets - 1),
    )


def bucket_hist(
    df: DataFrame, value_col: str, bucket_width: float, n_buckets: int, n_alias: str
) -> DataFrame:
    """``(bucket, n_alias)`` counts of ``df``'s non-null ``value_col``
    under ``bucketize``: the one fixed-width histogram of the batch
    operators and the streaming monitor (NULLs filtered first, the
    module null policy)."""
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be > 0, got {bucket_width}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(bucketize(value_col, bucket_width, n_buckets).alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias(n_alias))
    )


def psi_from_counts(
    hist_expected: DataFrame,
    hist_actual: DataFrame,
    min_pct: float = 1e-6,
) -> DataFrame:
    """PSI contributions from two pre-computed bucket histograms —
    ``(bucket, n_expected)`` and ``(bucket, n_actual)`` frames.  This is
    the |buckets|-row tail of ``psi_drift`` split out so an
    incrementally-maintained histogram (streaming/drift.py) reports
    through EXACTLY the same arithmetic as the batch operator."""
    from pyspark.sql.window import Window

    joined = hist_expected.join(hist_actual, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_expected", F.lit(0)).cast("bigint").alias("n_expected"),
        F.coalesce("n_actual", F.lit(0)).cast("bigint").alias("n_actual"),
    )
    # side totals come from the |buckets|-row frame itself (an
    # unpartitioned window over ~n_buckets rows), NOT from extra
    # .count() actions — each input is scanned exactly once
    everything = Window.partitionBy()
    e_total = F.sum("n_expected").over(everything).cast("double")
    a_total = F.sum("n_actual").over(everything).cast("double")
    pe = F.greatest(F.col("n_expected") / e_total, F.lit(min_pct))
    pa = F.greatest(F.col("n_actual") / a_total, F.lit(min_pct))
    return joined.select(
        "bucket",
        "n_expected",
        "n_actual",
        F.round(pe, 6).alias("pct_expected"),
        F.round(pa, 6).alias("pct_actual"),
        F.round((pa - pe) * F.log(pa / pe), 6).alias("psi_contrib"),
    ).orderBy("bucket")


def psi_drift(
    expected: DataFrame,
    actual: DataFrame,
    value_col: str,
    bucket_width: float,
    n_buckets: int = 20,
    min_pct: float = 1e-6,
) -> DataFrame:
    """Per-bucket PSI contributions between a reference (``expected``)
    and a new (``actual``) snapshot of ``value_col``.

    Values bin by fixed-width floor division into ``n_buckets`` buckets
    (the last is open-ended, the histogram convention shared with the
    release count tables); a bucket empty on one side gets the
    ``min_pct`` floor (the standard PSI epsilon) so the log stays
    finite while the contribution still registers the appearance or
    disappearance of mass.

    Output, one row per occupied bucket ordered by bucket id:
    ``bucket``, ``n_expected``, ``n_actual`` (bigint counts),
    ``pct_expected``, ``pct_actual`` (6-decimal shares) and
    ``psi_contrib`` (6-decimal contribution).  ``sum(psi_contrib)`` is
    the PSI; rounding is for cross-engine hash stability of ln (same
    discipline as the reservoir scores: adjacent contributions differ
    by far more than one ulp of libm ln).
    """
    return psi_from_counts(
        bucket_hist(expected, value_col, bucket_width, n_buckets, "n_expected"),
        bucket_hist(actual, value_col, bucket_width, n_buckets, "n_actual"),
        min_pct,
    )


def melt_columns(df: DataFrame, value_cols: list[str]) -> DataFrame:
    """MELT many numeric columns to (column, value) rows: explode of an
    array of (name, value) structs — a generator projection, no
    shuffle, no UDF, and the column names ride as Column-API literals
    (never parsed SQL text), so any legal name — backticks, quotes,
    dots — is safe.  NULLs are dropped here (the module null policy).
    One definition shared by the batch multi-column operator and the
    streaming multi-column monitor (r13) so the two can never melt
    apart — the ``bucketize`` discipline applied to the melt."""
    missing = [c for c in value_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"psi_drift_multi: column(s) {missing} not in the "
            f"snapshot; it has {df.columns}"
        )

    def ref(c: str):
        # literal name resolution: backtick-quote with doubled
        # backticks, so dots / quotes / backticks never parse as
        # attribute syntax (df[c] and F.col(c) both would)
        return F.col("`" + c.replace("`", "``") + "`")

    kv = F.explode(
        F.array(*[
            F.struct(
                F.lit(c).alias("column"),
                ref(c).cast("double").alias("value"),
            )
            for c in value_cols
        ])
    )
    return (
        df.select(kv.alias("kv"))
        .select("kv.column", "kv.value")
        .where(F.col("value").isNotNull())  # module null policy
    )


def reference_grid(
    reference: DataFrame, value_cols: list[str], n_buckets: int
) -> dict[str, tuple[float, float]]:
    """The per-column fixed-width grid derived from the REFERENCE
    side's min/max: ``{column: (lo, width)}`` with width
    (max − min) / (n_buckets − 1), or 1.0 for a constant column so the
    math stays finite.  ONE bounded aggregate, |columns| rows collected
    (the centroid-collect discipline).  The reference is the frozen
    baseline, so its range — not the drifting snapshot's — defines the
    grid; the streaming monitor persists this dict in its sidecar so
    later batches bin identically without rescanning the reference."""
    ranges = {
        r["column"]: (
            float(r["__lo"]),
            (float(r["__hi"]) - float(r["__lo"])) / float(n_buckets - 1)
            if r["__hi"] > r["__lo"]
            else 1.0,
        )
        for r in melt_columns(reference, value_cols)
        .groupBy("column")
        .agg(F.min("value").alias("__lo"), F.max("value").alias("__hi"))
        .collect()
    }
    missing = [c for c in value_cols if c not in ranges]
    if missing:
        raise ValueError(
            f"reference snapshot has no non-null values for {missing}; "
            "a drift grid needs a populated baseline"
        )
    return ranges


def multi_hist(
    df: DataFrame,
    value_cols: list[str],
    ranges: dict[str, tuple[float, float]],
    n_buckets: int,
    n_alias: str,
) -> DataFrame:
    """The (column, bucket, count) histogram of ``df`` under a
    reference-derived grid: melt → per-column scale (grid constants
    inlined as literals, so the histogram carries NO join) → ONE hash
    aggregate keyed by (column, bucket).  N columns cost the same scan
    as one."""
    scaled = None
    for c, (lo, width) in ranges.items():
        branch = (F.col("value") - F.lit(lo)) / F.lit(width)
        scaled = (
            F.when(F.col("column") == c, branch)
            if scaled is None
            else scaled.when(F.col("column") == c, branch)
        )
    bucket = F.least(
        F.greatest(F.floor(scaled), F.lit(0)).cast("int"),
        F.lit(n_buckets - 1),
    )
    return (
        melt_columns(df, value_cols)
        .groupBy("column", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias(n_alias))
    )


def psi_from_counts_multi(
    hist_expected: DataFrame,
    hist_actual: DataFrame,
    min_pct: float = 1e-6,
) -> DataFrame:
    """PSI contributions from two pre-computed (column, bucket)
    histograms — the multi-column twin of ``psi_from_counts``, split
    out (r13) so the streaming multi-column monitor reports through
    EXACTLY the arithmetic the ``profile_psi_drift_multi`` oracle row
    hash-pins.  Per-column side totals come from windows over the
    |columns|×|buckets|-row frame — no extra actions."""
    from pyspark.sql.window import Window

    joined = hist_expected.join(
        hist_actual, ["column", "bucket"], "full_outer"
    ).select(
        "column",
        "bucket",
        F.coalesce("n_expected", F.lit(0)).cast("bigint").alias("n_expected"),
        F.coalesce("n_actual", F.lit(0)).cast("bigint").alias("n_actual"),
    )
    per_col = Window.partitionBy("column")
    e_total = F.sum("n_expected").over(per_col).cast("double")
    a_total = F.sum("n_actual").over(per_col).cast("double")
    pe = F.greatest(F.col("n_expected") / e_total, F.lit(min_pct))
    pa = F.greatest(F.col("n_actual") / a_total, F.lit(min_pct))
    return joined.select(
        "column",
        "bucket",
        "n_expected",
        "n_actual",
        F.round(pe, 6).alias("pct_expected"),
        F.round(pa, 6).alias("pct_actual"),
        F.round((pa - pe) * F.log(pa / pe), 6).alias("psi_contrib"),
    ).orderBy("column", "bucket")


def psi_drift_multi(
    expected: DataFrame,
    actual: DataFrame,
    value_cols: list[str],
    n_buckets: int = 20,
    min_pct: float = 1e-6,
) -> DataFrame:
    """Per-column PSI for MANY numeric columns at a column-count-
    independent scan cost: two scans of the reference (one bounded
    range aggregate, one histogram) plus one of the new snapshot.

    A drift audit rarely watches one feature; scanning a 100 TB snapshot
    once per column is the naive cost.  Instead each side is MELTED to
    (column, value) rows by exploding an array of (name, value) structs
    (a generator projection — no shuffle, no UDF, and the column names
    ride as Column-API literals, never parsed SQL text, so any legal
    name — backticks, quotes, dots — is safe) and histogrammed in ONE
    hash aggregate keyed by (column, bucket), so N columns cost the
    same scans as one.  NULLs are dropped at the melt (module policy).

    Bucket widths derive from the REFERENCE side's per-column min/max
    ((max − min) / (n_buckets − 1), one bounded aggregate, broadcast
    back): the reference is the frozen baseline, so its range — not the
    drifting snapshot's — defines the grid, and values outside it land
    in the clamped edge buckets exactly where a drift audit wants them.
    A constant reference column (max = min) gets width 1 so the math
    stays finite; everything lands in bucket 0 unless the actual side
    moved.

    Output: ``column`` + the ``psi_drift`` schema, ordered by (column,
    bucket).  Per-column ``sum(psi_contrib)`` is that column's PSI.
    Equality with per-column ``psi_drift`` at the same widths is pinned
    in tests."""
    if not value_cols:
        raise ValueError("psi_drift_multi needs at least one column")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")

    # melt / grid / histogram / report tail are the shared definitions
    # above (r13 refactor — behavior identical, pinned by the
    # profile_psi_drift_multi oracle row and test_drift.py): the
    # streaming multi-column monitor composes the SAME four pieces.
    ranges = reference_grid(expected, value_cols, n_buckets)
    return psi_from_counts_multi(
        multi_hist(expected, value_cols, ranges, n_buckets, "n_expected"),
        multi_hist(actual, value_cols, ranges, n_buckets, "n_actual"),
        min_pct,
    )


def ks_js_drift(
    expected: DataFrame,
    actual: DataFrame,
    value_col: str,
    bucket_width: float,
    n_buckets: int = 20,
) -> DataFrame:
    """One-row drift summary complementing PSI: the binned two-sample
    Kolmogorov-Smirnov statistic and the Jensen-Shannon divergence,
    over the SAME fixed-width histograms as ``psi_drift`` (same
    ``bucketize``, same null policy) — so a drift report can quote all
    three standard tests from the same two scans.

    KS here is the max |CDF_expected - CDF_actual| over bucket
    boundaries: EXACT for discrete/binned data, a lower bound on the
    continuous-data statistic with error at most the largest bucket
    mass (the standard practical trade at scale — the exact continuous
    KS needs a global sort; the binned form needs |buckets| rows).
    JS divergence is symmetric, bounded by ln 2, and defined even where
    one side has empty buckets (0·ln0 = 0 — no epsilon floor needed,
    unlike PSI).

    Output (one row): ``ks_stat``, ``js_divergence`` (6-decimal
    doubles), ``n_expected``, ``n_actual`` (bigint totals).  Scale
    shape: one map-side-combined hash aggregate per side (shuffle
    bounded by bucket count), then windows over the |buckets|-row
    frame; each input scanned exactly once.

    Empty sides are DEFINED, not NULL (r12 advice): a side with no
    non-null rows has the all-zero mass function (its shares are
    guarded — ``n/total`` only when ``total > 0``), so one empty side
    reads as total separation (``ks_stat`` reaches 1.0 at the last
    occupied bucket, ``js_divergence`` = ln(2)/2 · the occupied side's
    mass = ~0.346574) and BOTH sides empty reads ``(0.0, 0.0, 0, 0)``.
    Without the guard Spark's double division by a zero total yields
    NULL while the driver-side twin ``ks_js_from_rows`` returns the
    defined number — the twins are pinned equal in tests on exactly
    these edges."""
    from pyspark.sql.window import Window

    joined = (
        bucket_hist(expected, value_col, bucket_width, n_buckets, "n_expected")
        .join(bucket_hist(actual, value_col, bucket_width, n_buckets, "n_actual"),
              "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_expected", F.lit(0)).cast("bigint").alias("n_expected"),
            F.coalesce("n_actual", F.lit(0)).cast("bigint").alias("n_actual"),
        )
    )
    everything = Window.partitionBy()
    cum = (
        Window.partitionBy()
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    te = F.sum("n_expected").over(everything).cast("double")
    ta = F.sum("n_actual").over(everything).cast("double")
    # guarded shares: an empty side is the all-zero mass function (see
    # docstring) — matches ks_js_from_rows' `n/total if total else 0.0`
    cdf_e = F.when(te > 0, F.sum("n_expected").over(cum) / te).otherwise(F.lit(0.0))
    cdf_a = F.when(ta > 0, F.sum("n_actual").over(cum) / ta).otherwise(F.lit(0.0))
    pe = F.when(te > 0, F.col("n_expected") / te).otherwise(F.lit(0.0))
    pa = F.when(ta > 0, F.col("n_actual") / ta).otherwise(F.lit(0.0))
    m = (pe + pa) / F.lit(2.0)
    # 0 * ln(0/m) = 0: guard each side's term on its own mass
    term_e = F.when(pe > 0, pe * F.log(pe / m)).otherwise(F.lit(0.0))
    term_a = F.when(pa > 0, pa * F.log(pa / m)).otherwise(F.lit(0.0))
    per_bucket = joined.select(
        "n_expected", "n_actual",
        F.abs(cdf_e - cdf_a).alias("__gap"),
        (F.lit(0.5) * (term_e + term_a)).alias("__js_contrib"),
    )
    # coalesce: both sides empty → the join has ZERO rows, the
    # aggregates come back NULL, and the defined result is (0.0, 0.0,
    # 0, 0) — what the twin's empty loop returns
    return per_bucket.agg(
        F.coalesce(F.round(F.max("__gap"), 6), F.lit(0.0)).alias("ks_stat"),
        F.coalesce(
            F.round(F.greatest(F.sum("__js_contrib"), F.lit(0.0)), 6), F.lit(0.0)
        ).alias("js_divergence"),
        F.coalesce(F.sum("n_expected"), F.lit(0)).cast("bigint").alias("n_expected"),
        F.coalesce(F.sum("n_actual"), F.lit(0)).cast("bigint").alias("n_actual"),
    )


def ks_js_from_rows(rows) -> tuple[float, float]:
    """Driver-side twin of ``ks_js_drift`` over ALREADY-COLLECTED
    per-bucket rows (any objects with ``bucket``/``n_expected``/
    ``n_actual`` — e.g. the collected ``psi_drift`` report): the
    ``drift`` CLI verb already holds the |buckets|-row histogram, so
    quoting KS and JS alongside PSI must not cost two more scans of
    the snapshots.  Pinned equal to the DataFrame operator in tests —
    INCLUDING the empty-side edges: `n/total if total else 0.0` below
    is the same all-zero-mass definition the operator's guarded
    divisions implement (one side empty → KS 1.0 / JS ln(2)/2; both
    empty → (0.0, 0.0))."""
    import math

    ordered = sorted(rows, key=lambda r: r["bucket"])
    te = float(sum(r["n_expected"] for r in ordered))
    ta = float(sum(r["n_actual"] for r in ordered))
    ce = ca = 0.0
    ks = 0.0
    js = 0.0
    for r in ordered:
        pe = r["n_expected"] / te if te else 0.0
        pa = r["n_actual"] / ta if ta else 0.0
        ce += pe
        ca += pa
        ks = max(ks, abs(ce - ca))
        m = (pe + pa) / 2.0
        if pe > 0:
            js += 0.5 * pe * math.log(pe / m)
        if pa > 0:
            js += 0.5 * pa * math.log(pa / m)
    return round(ks, 6), round(max(js, 0.0), 6)


def verdict(psi: float) -> str:
    """The standard PSI reading: < 0.1 stable, 0.1-0.25 moderate,
    > 0.25 action."""
    return "stable" if psi < 0.1 else "moderate" if psi <= 0.25 else "action"


def _psi(rows) -> float:
    """The PSI of collected rows: the sum of their contributions."""
    return round(sum(r["psi_contrib"] for r in rows), 6)


def grid_summary(rows) -> dict:
    """PSI, its verdict, KS and JS of one collected histogram (a
    ``psi_drift`` report, one column's or one period's slice of a
    grid): the quote every numeric drift report opens with, from the
    rows already held — no extra scans."""
    psi = _psi(rows)
    ks, js = ks_js_from_rows(rows)
    return {"psi": psi, "verdict": verdict(psi), "ks_stat": ks, "js_divergence": js}


def totals(rows) -> dict:
    """The side totals of collected report rows."""
    return {
        "n_expected": sum(r["n_expected"] for r in rows),
        "n_actual": sum(r["n_actual"] for r in rows),
    }


def worst(psis) -> dict:
    """The worst PSI of a multi-part report and its verdict."""
    top = max(psis, default=0.0)
    return {"worst_psi": top, "verdict": verdict(top)}


def multi_summary(rows, value_cols: list[str]) -> dict:
    """The per-column summary of a collected ``psi_drift_multi`` grid
    (the ``drift --columns`` verb and the multi-column monitor)."""
    columns = {}
    for c in value_cols:
        rows_c = [r for r in rows if r["column"] == c]
        columns[c] = {**grid_summary(rows_c), **totals(rows_c)}
    return {"columns": columns, **worst(v["psi"] for v in columns.values())}


def timeline_summary(grid) -> dict:
    """Per-period summaries of a collected ``psi_drift_timeline`` grid,
    the worst period, and the first period whose verdict is action."""
    periods = []
    for p in sorted({r["period"] for r in grid}):
        rows_p = [r for r in grid if r["period"] == p]
        periods.append({"period": str(p), **grid_summary(rows_p),
                        "n_actual": sum(r["n_actual"] for r in rows_p)})
    return {
        "periods": periods,
        **worst(p["psi"] for p in periods),
        "first_action_period": next(
            (p["period"] for p in periods if p["verdict"] == "action"), None
        ),
    }


def categorical_summary(rows) -> dict:
    """PSI, its verdict, chi-square, Cramér's V and the side totals of
    a collected ``categorical_drift`` report."""
    psi = _psi(rows)
    chi2, v = chi2_from_rows(rows)
    return {"psi": psi, "verdict": verdict(psi), "chi2": chi2, "cramers_v": v,
            **totals(rows)}


def psi_drift_timeline(
    expected: DataFrame,
    actual: DataFrame,
    value_col: str,
    time_col: str,
    period: str = "day",
    bucket_width: float = 1.0,
    n_buckets: int = 20,
    min_pct: float = 1e-6,
) -> DataFrame:
    """WHEN did it drift: per-period PSI contributions of a timestamped
    snapshot against ONE frozen reference — the batch answer to the
    question the streaming monitor answers cumulatively.  A landing-
    zone audit that finds drift wants the onset localized ("stable
    until the 14th, action after") without scanning the snapshot once
    per period; this bins by (date_trunc(period), value bucket) in ONE
    hash aggregate, so N periods cost the same scan as one — the
    psi_drift_multi trick with time as the melt key.

    The reference histogram (|buckets| rows) is broadcast and
    cross-joined against the distinct periods so every period compares
    against the FULL baseline — a bucket with actual mass 0 in some
    period still contributes (the min_pct floor registers disappeared
    mass), exactly like the full-outer join in ``psi_from_counts``.

    Rows with a NULL value OR a NULL timestamp are excluded (the module
    null policy extended to the time axis: a row that cannot be placed
    on the timeline cannot drift a period).

    Output, one row per (period, occupied-or-reference bucket), ordered:
    ``period`` (truncated timestamp), then the ``psi_drift`` schema.
    Per-period ``sum(psi_contrib)`` is that period's PSI;
    ``timeline_summary`` quotes per-period PSI/KS/JS from this one
    collected grid (the ``grid_summary`` of each period).

    Scale shape: one scan per side (the reference collapses to
    |buckets| rows, the snapshot to |periods|×|buckets| rows, both via
    map-side-combined hash aggregates), a broadcast cross join over
    those bounded frames, windows partitioned by period.  No collects,
    no UDFs; everything downstream of the two scans is
    |periods|×|buckets|-sized."""
    from pyspark.sql.window import Window

    bucket = bucketize(value_col, bucket_width, n_buckets)
    ref_hist = bucket_hist(expected, value_col, bucket_width, n_buckets, "n_expected")
    act_hist = (
        actual.filter(
            F.col(value_col).isNotNull() & F.col(time_col).isNotNull()
        )
        .groupBy(
            F.date_trunc(period, F.col(time_col)).alias("period"),
            bucket.alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_actual"))
        # the histogram frame feeds TWO consumers (the period universe
        # and the join); without pinning it the snapshot would be
        # scanned once per consumer.  |periods|×|buckets| rows — the
        # bounded-localCheckpoint discipline, so the input is scanned
        # exactly once however many periods the timeline spans.
        .localCheckpoint(eager=True)
    )
    periods = act_hist.select("period").distinct()
    # every period × every reference bucket: disappeared mass must
    # surface in every period's report (min_pct floor), not just the
    # buckets that period happened to occupy
    frame = periods.crossJoin(F.broadcast(ref_hist))
    joined = frame.join(act_hist, ["period", "bucket"], "full_outer").select(
        "period",
        "bucket",
        F.coalesce("n_expected", F.lit(0)).cast("bigint").alias("n_expected"),
        F.coalesce("n_actual", F.lit(0)).cast("bigint").alias("n_actual"),
    )
    per_period = Window.partitionBy("period")
    e_total = F.sum("n_expected").over(per_period).cast("double")
    a_total = F.sum("n_actual").over(per_period).cast("double")
    pe = F.greatest(F.col("n_expected") / e_total, F.lit(min_pct))
    pa = F.greatest(F.col("n_actual") / a_total, F.lit(min_pct))
    return joined.select(
        "period",
        "bucket",
        "n_expected",
        "n_actual",
        F.round(pe, 6).alias("pct_expected"),
        F.round(pa, 6).alias("pct_actual"),
        F.round((pa - pe) * F.log(pa / pe), 6).alias("psi_contrib"),
    ).orderBy("period", "bucket")


OTHER_CATEGORY = "__other__"


def categorical_drift(
    expected: DataFrame,
    actual: DataFrame,
    category_col: str,
    top_k: int = 50,
    min_pct: float = 1e-6,
) -> DataFrame:
    """PSI drift over a CATEGORICAL column — the numeric paths cover
    totals and scores, but a landing-zone audit watches `source` /
    `language` / `format`-style columns just as closely ("did the crawl
    mix shift?"), and those have no bucket grid.

    The REFERENCE defines the category universe (the same frozen-
    baseline principle as the numeric grid): its ``top_k`` categories
    by reference count (total tiebreak: count DESC, category ASC);
    everything else — including categories the reference has NEVER
    seen — folds into ``__other__``.  That bound is the 100-TB guard:
    an id-like column with a billion distinct values still reports
    ``top_k + 1`` rows, and a NEW dominant category surfaces loudly as
    ``__other__`` mass appearing where the reference had (almost)
    none.  NULLs are excluded (module policy).

    Output, one row per reference-universe category (ordered):
    ``category`` plus the ``psi_drift`` count/share/contribution
    schema.  ``sum(psi_contrib)`` is the PSI, same reading as numeric;
    ``categorical_summary`` quotes the chi-square homogeneity statistic
    and Cramér's V from the same collected rows (``chi2_from_rows``, no extra
    scans — the KS twin pattern; KS itself needs an ordering and does
    not apply to categories).

    Scale shape: one map-side-combined hash aggregate per side (the
    shuffle is bounded per partition by that partition's distinct
    categories), a broadcast of the ``top_k``-row universe onto each
    count frame, a second tiny aggregate over the relabeled
    |categories|-row frames, then the same windowed tail as
    ``psi_from_counts``.  Each input scanned exactly once; nothing
    downstream exceeds ``top_k + 1`` rows per side."""
    from pyspark.sql.window import Window

    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")

    cat = F.col(category_col).cast("string")

    def counts(df: DataFrame, n_alias: str) -> DataFrame:
        return (
            df.filter(F.col(category_col).isNotNull())  # module null policy
            .groupBy(cat.alias("category"))
            .agg(F.count(F.lit(1)).cast("bigint").alias(n_alias))
        )

    # the counted frame feeds THREE consumers (the top-k universe and
    # both folds' relabeling); pin it so the expected snapshot is
    # scanned exactly once.  |distinct categories| rows, executor-local
    # (localCheckpoint, not a collect) — tiny for a real categorical
    # column, and still distributed if someone points this at an
    # id-like column by mistake.
    e_counts = counts(expected, "n_expected").localCheckpoint(eager=True)
    universe = (
        e_counts.orderBy(F.desc("n_expected"), F.asc("category"))
        .limit(top_k)
        .select("category", F.lit(True).alias("__in_universe"))
    )

    def fold(counted: DataFrame, n_alias: str) -> DataFrame:
        labeled = counted.join(
            F.broadcast(universe), "category", "left"
        ).select(
            F.when(F.col("__in_universe"), F.col("category"))
            .otherwise(F.lit(OTHER_CATEGORY))
            .alias("category"),
            F.col(n_alias),
        )
        return labeled.groupBy("category").agg(
            F.sum(n_alias).cast("bigint").alias(n_alias)
        )

    joined = (
        fold(e_counts, "n_expected")
        .join(fold(counts(actual, "n_actual"), "n_actual"),
              "category", "full_outer")
        .select(
            "category",
            F.coalesce("n_expected", F.lit(0)).cast("bigint").alias("n_expected"),
            F.coalesce("n_actual", F.lit(0)).cast("bigint").alias("n_actual"),
        )
    )
    everything = Window.partitionBy()
    e_total = F.sum("n_expected").over(everything).cast("double")
    a_total = F.sum("n_actual").over(everything).cast("double")
    pe = F.greatest(F.col("n_expected") / e_total, F.lit(min_pct))
    pa = F.greatest(F.col("n_actual") / a_total, F.lit(min_pct))
    return joined.select(
        "category",
        "n_expected",
        "n_actual",
        F.round(pe, 6).alias("pct_expected"),
        F.round(pa, 6).alias("pct_actual"),
        F.round((pa - pe) * F.log(pa / pe), 6).alias("psi_contrib"),
    ).orderBy("category")


def chi2_from_rows(rows) -> tuple[float, float]:
    """Driver-side chi-square homogeneity test + Cramér's V over the
    collected ``categorical_drift`` rows (any objects with
    ``n_expected``/``n_actual``) — the ``ks_js_from_rows`` pattern: the
    CLI already holds the |categories|-row report, so the significance
    quote must not cost more scans.  Two-sample Pearson chi-square on
    the 2×|categories| contingency table (cells with a zero column sum
    contribute nothing); V = sqrt(chi2 / N) for the 2-row table,
    in [0, 1].  Returns ``(chi2, cramers_v)`` rounded to 6."""
    import math

    rows = list(rows)
    te = float(sum(r["n_expected"] for r in rows))
    ta = float(sum(r["n_actual"] for r in rows))
    n = te + ta
    if n == 0 or te == 0 or ta == 0:
        return 0.0, 0.0
    chi2 = 0.0
    for r in rows:
        col_total = r["n_expected"] + r["n_actual"]
        if col_total == 0:
            continue
        exp_e = te * col_total / n
        exp_a = ta * col_total / n
        chi2 += (r["n_expected"] - exp_e) ** 2 / exp_e
        chi2 += (r["n_actual"] - exp_a) ** 2 / exp_a
    v = math.sqrt(chi2 / n)  # min(rows-1, cols-1) = 1 for the 2xC table
    return round(chi2, 6), round(min(v, 1.0), 6)
