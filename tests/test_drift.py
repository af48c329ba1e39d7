"""PSI distribution-drift operator (operators/drift.py).

The oracle-checked entry is plans/analytics.py:profile_psi_drift_multi
(yearly order snapshots, both numeric columns; it strictly contains the
retired single-column profile_psi_drift row); these tests pin the
semantics on hand-countable rows and the invariants a drift monitor
relies on.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cumulus_etl_spark.operators.drift import psi_drift


def _snap(spark, values):
    return spark.createDataFrame([(float(v),) for v in values], "x double")


def test_psi_hand_computed(spark):
    # expected: 8 in bucket 0, 2 in bucket 1; actual: 5 and 5
    e = _snap(spark, [0.5] * 8 + [1.5] * 2)
    a = _snap(spark, [0.2] * 5 + [1.9] * 5)
    rows = {r["bucket"]: r for r in psi_drift(e, a, "x", 1.0, 4).collect()}
    assert set(rows) == {0, 1}
    assert (rows[0]["n_expected"], rows[0]["n_actual"]) == (8, 5)
    assert (rows[1]["n_expected"], rows[1]["n_actual"]) == (2, 5)
    c0 = (0.5 - 0.8) * math.log(0.5 / 0.8)
    c1 = (0.5 - 0.2) * math.log(0.5 / 0.2)
    assert rows[0]["psi_contrib"] == pytest.approx(round(c0, 6), abs=1e-9)
    assert rows[1]["psi_contrib"] == pytest.approx(round(c1, 6), abs=1e-9)
    # shares are published alongside the contributions
    assert rows[0]["pct_expected"] == pytest.approx(0.8)
    assert rows[1]["pct_actual"] == pytest.approx(0.5)


def test_psi_zero_for_identical_distributions(spark):
    vals = [0.1, 0.9, 1.4, 2.2, 2.8, 3.3] * 10
    e, a = _snap(spark, vals), _snap(spark, vals)
    got = psi_drift(e, a, "x", 1.0, 4).collect()
    assert all(r["psi_contrib"] == 0.0 for r in got)
    assert all(r["n_expected"] == r["n_actual"] for r in got)


def test_psi_disappearing_bucket_uses_floor(spark):
    """Mass that vanishes from a bucket still registers: the empty side
    gets the min_pct floor instead of a log-of-zero blowup."""
    e = _snap(spark, [0.5] * 9 + [1.5])
    a = _snap(spark, [0.5] * 10)
    rows = {r["bucket"]: r for r in psi_drift(e, a, "x", 1.0, 4).collect()}
    assert rows[1]["n_actual"] == 0
    floor = 1e-6
    want = (floor - 0.1) * math.log(floor / 0.1)
    assert rows[1]["psi_contrib"] == pytest.approx(round(want, 6), abs=1e-9)
    # a vanished 10% share dominates the total PSI (> 0.25 action level)
    total = sum(r["psi_contrib"] for r in rows.values())
    assert total > 0.25


def test_psi_last_bucket_open_ended(spark):
    e = _snap(spark, [0.5, 99.0, 1234.0])   # 99 and 1234 both clamp to bucket 3
    a = _snap(spark, [0.5, 57.5])
    rows = {r["bucket"]: (r["n_expected"], r["n_actual"])
            for r in psi_drift(e, a, "x", 1.0, 4).collect()}
    assert rows[3] == (2, 1)


def test_psi_validation(spark):
    df = _snap(spark, [1.0])
    with pytest.raises(ValueError, match="bucket_width"):
        psi_drift(df, df, "x", 0.0)
    with pytest.raises(ValueError, match="n_buckets"):
        psi_drift(df, df, "x", 1.0, 1)


def test_psi_single_stage_per_side(spark):
    """Scale-shape pin: each snapshot is scanned once and collapses to
    its bucket histogram via a partial (map-side) aggregate before the
    exchange — the plan carries exactly two scans and the per-side
    exchanges are HashAggregate outputs, not raw rows."""
    e = _snap(spark, [float(i % 7) for i in range(100)])
    a = _snap(spark, [float(i % 5) for i in range(100)])
    plan = psi_drift(e, a, "x", 1.0, 4)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 2
    assert "partial_count" in plan.lower() or "HashAggregate" in plan


def test_drift_cli_verb(spark, tmp_path, capsys):
    import json

    import pytest

    from cumulus_etl_spark.cli import main

    e_path, a_path = str(tmp_path / "ref"), str(tmp_path / "new")
    _snap(spark, [0.5] * 80 + [1.5] * 20).write.parquet(e_path)
    _snap(spark, [0.5] * 50 + [1.5] * 50).write.parquet(a_path)
    rc = main(["drift", e_path, a_path, "--column", "x",
               "--bucket-width", "1.0", "--buckets", "4"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["column"] == "x"
    assert rep["n_expected"] == 100 and rep["n_actual"] == 100
    want = round(
        (0.5 - 0.8) * math.log(0.5 / 0.8) + (0.5 - 0.2) * math.log(0.5 / 0.2), 6
    )
    assert rep["psi"] == pytest.approx(want, abs=1e-6)
    assert rep["verdict"] == "action"  # a 30-point share move is > 0.25
    assert len(rep["buckets"]) == 2

    # identical snapshots read as stable
    rc = main(["drift", e_path, e_path, "--column", "x",
               "--bucket-width", "1.0"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["psi"] == 0.0 and rep["verdict"] == "stable"

    # unknown column fails loudly
    with pytest.raises(SystemExit, match="drift: column"):
        main(["drift", e_path, a_path, "--column", "nope",
              "--bucket-width", "1.0"])


def test_psi_multi_equals_per_column_psi_at_same_widths(spark):
    """psi_drift_multi's per-column slices equal psi_drift run per
    column with the same reference-derived grid (shifted by the
    reference min, which plain psi_drift anchors at 0 — so compare on a
    data set whose reference min is 0 per column)."""
    from cumulus_etl_spark.operators.drift import psi_drift_multi

    rows = [
        (float(i % 8), float((i * 3) % 12)) for i in range(200)
    ]  # both columns: min 0
    e = spark.createDataFrame(rows, "a double, b double")
    rows2 = [(float(i % 5), float((i * 7) % 6)) for i in range(150)]
    a = spark.createDataFrame(rows2, "a double, b double")

    multi = psi_drift_multi(e, a, ["a", "b"], n_buckets=4)
    got = {
        (r["column"], r["bucket"]): (
            r["n_expected"], r["n_actual"], r["psi_contrib"]
        )
        for r in multi.collect()
    }
    for col, lo, hi in (("a", 0.0, 7.0), ("b", 0.0, 9.0)):
        width = (hi - lo) / 3.0
        want = psi_drift(
            e.select(F.col(col).alias("x")),
            a.select(F.col(col).alias("x")),
            "x", width, 4,
        )
        for r in want.collect():
            assert got[(col, r["bucket"])] == (
                r["n_expected"], r["n_actual"], r["psi_contrib"]
            ), (col, r["bucket"])


def test_psi_multi_constant_reference_column(spark):
    """A constant reference column gets width 1 (finite math); a moved
    actual side registers in the clamped edge bucket."""
    from cumulus_etl_spark.operators.drift import psi_drift_multi

    e = spark.createDataFrame([(5.0,)] * 10, "c double")
    a = spark.createDataFrame([(5.0,)] * 5 + [(9.0,)] * 5, "c double")
    rows = {r["bucket"]: r for r in psi_drift_multi(e, a, ["c"], 4).collect()}
    assert rows[0]["n_expected"] == 10 and rows[0]["n_actual"] == 5
    assert rows[3]["n_actual"] == 5 and rows[3]["n_expected"] == 0
    total = sum(r["psi_contrib"] for r in rows.values())
    assert total > 0.25  # half the mass left the reference's only bucket


def test_psi_multi_below_reference_range_clamps_low(spark):
    from cumulus_etl_spark.operators.drift import psi_drift_multi

    e = spark.createDataFrame([(float(v),) for v in (10, 13, 16, 19)], "c double")
    a = spark.createDataFrame([(2.0,), (11.0,)], "c double")  # 2.0 < ref min
    rows = {r["bucket"]: r for r in psi_drift_multi(e, a, ["c"], 4).collect()}
    assert rows[0]["n_actual"] == 2  # clamped into the low edge bucket
    assert set(rows) == {0, 1, 2, 3}


def test_psi_multi_single_scan_per_histogram(spark):
    """Scale-shape pin: the melted histogram is one hash aggregate keyed
    by (column, bucket) — adding columns must not add scans. The
    returned plan carries exactly 2 scans (one histogram per side); the
    reference range aggregate ran as its own bounded job at call time
    (|columns| rows collected, constants inlined — no join in the
    plan), for 3 scans total however many columns are audited."""
    from cumulus_etl_spark.operators.drift import psi_drift_multi

    e = spark.createDataFrame([(1.0, 2.0, 3.0)] * 50, "a double, b double, c double")
    a = spark.createDataFrame([(1.5, 2.5, 3.5)] * 50, "a double, b double, c double")
    plan = (
        psi_drift_multi(e, a, ["a", "b", "c"], 4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan ExistingRDD") == 2
    # the only join is the |columns x buckets|-row full-outer between the
    # two histograms; the grid constants are inlined, never joined
    import re

    joins = re.findall(r"(\w*Join\w*) ", plan)
    assert all("FullOuter" in plan[plan.index(j):plan.index(j) + 120]
               for j in set(joins)), joins


def test_drift_cli_multi_column_mode(spark, tmp_path, capsys):
    import json

    import pytest

    from cumulus_etl_spark.cli import main

    e_path, a_path = str(tmp_path / "ref2"), str(tmp_path / "new2")
    spark.createDataFrame(
        [(float(i % 10), 5.0) for i in range(100)], "moved double, flat double"
    ).write.parquet(e_path)
    spark.createDataFrame(
        [(float(i % 3), 5.0) for i in range(100)], "moved double, flat double"
    ).write.parquet(a_path)
    rc = main(["drift", e_path, a_path, "--columns", "moved,flat",
               "--buckets", "5"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["columns"]["flat"]["psi"] == 0.0
    assert rep["columns"]["flat"]["verdict"] == "stable"
    assert rep["columns"]["moved"]["psi"] > 0.25
    assert rep["verdict"] == "action"
    assert rep["worst_psi"] == rep["columns"]["moved"]["psi"]

    # mode validation: exactly one of --column / --columns
    with pytest.raises(SystemExit, match="exactly one"):
        main(["drift", e_path, a_path, "--column", "moved",
              "--columns", "flat"])
    with pytest.raises(SystemExit, match="exactly one"):
        main(["drift", e_path, a_path])
    with pytest.raises(SystemExit, match="bucket-width"):
        main(["drift", e_path, a_path, "--column", "moved"])


def test_psi_null_policy_nulls_excluded_and_modes_agree(spark):
    """ADVICE r11 (medium): NULLs must be EXCLUDED from every histogram
    — least() used to bin them into the LAST bucket in single-column
    mode while greatest() sent them to bucket 0 in multi mode, so a
    null-heavy snapshot reported phantom edge drift and the two modes
    disagreed on identical data. Pin both: counts see only non-null
    rows, and single/multi produce identical slices on a null-bearing
    frame (at the multi grid's width, shifted by its reference min)."""
    from cumulus_etl_spark.operators.drift import psi_drift_multi

    e_vals = [None if i % 3 == 0 else float(i) for i in range(60)]
    a_vals = [None if i % 4 == 0 else float(i) for i in range(80)]
    e = spark.createDataFrame([(v,) for v in e_vals], "v double")
    a = spark.createDataFrame([(v,) for v in a_vals], "v double")

    multi = {
        r["bucket"]: (r["n_expected"], r["n_actual"], r["psi_contrib"])
        for r in psi_drift_multi(e, a, ["v"], n_buckets=5).collect()
    }
    # nulls never counted: totals match the non-null row counts exactly
    n_e = sum(v[0] for v in multi.values())
    n_a = sum(v[1] for v in multi.values())
    assert n_e == sum(1 for v in e_vals if v is not None)
    assert n_a == sum(1 for v in a_vals if v is not None)

    lo = min(v for v in e_vals if v is not None)
    hi = max(v for v in e_vals if v is not None)
    width = (hi - lo) / 4.0
    single = {
        r["bucket"]: (r["n_expected"], r["n_actual"], r["psi_contrib"])
        for r in psi_drift(
            e.select((F.col("v") - F.lit(lo)).alias("x")),
            a.select((F.col("v") - F.lit(lo)).alias("x")),
            "x", width, 5,
        ).collect()
    }
    assert single == multi


def test_psi_single_column_clamps_below_range(spark):
    """bucketize clamps below-range values into bucket 0 (both edge
    buckets open-ended) — the same convention as the multi grid, so the
    two modes bin identically everywhere, including negatives."""
    e = _snap(spark, [0.5] * 5 + [3.5] * 5)
    a = _snap(spark, [-2.0, -0.1, 0.5, 3.5])
    rows = {r["bucket"]: r for r in psi_drift(e, a, "x", 1.0, 4).collect()}
    assert set(rows) == {0, 3}
    assert rows[0]["n_actual"] == 3  # the two negatives clamp into 0


def test_psi_multi_hostile_column_names(spark):
    """ADVICE r11 (low): the melt rides the Column API (explode of an
    array of (name, value) structs), never a formatted SQL string — a
    backtick, quote, or dot in a column name must just work."""
    from cumulus_etl_spark.operators.drift import psi_drift_multi

    cols = ["a`b", "c'd", "e.f"]
    e = spark.createDataFrame(
        [(float(i % 4), float(i % 6), float(i % 3)) for i in range(40)], cols
    )
    a = spark.createDataFrame(
        [(float(i % 2), float(i % 6), float(i % 5)) for i in range(40)], cols
    )
    rows = psi_drift_multi(e, a, cols, n_buckets=4).collect()
    assert sorted({r["column"] for r in rows}) == sorted(cols)
    # and a missing column still fails loudly with the real name
    with pytest.raises(ValueError, match="not in the snapshot"):
        psi_drift_multi(e, a, ["a`b", "nope"], n_buckets=4)


def test_ks_js_hand_computed(spark):
    """Binned KS + JS on hand-countable rows. expected: [.8, .2] over
    buckets {0,1}; actual: [.5, .5]. CDFs: (.8, 1.0) vs (.5, 1.0) ->
    KS = .3. JS = 0.5*(.8 ln(.8/.65) + .2 ln(.2/.35))
              + 0.5*(.5 ln(.5/.65) + .5 ln(.5/.35))."""
    import math

    from cumulus_etl_spark.operators.drift import ks_js_drift

    e = _snap(spark, [0.5] * 8 + [1.5] * 2)
    a = _snap(spark, [0.2] * 5 + [1.9] * 5)
    row = ks_js_drift(e, a, "x", 1.0, 4).collect()[0]
    assert row["ks_stat"] == pytest.approx(0.3, abs=1e-6)
    want_js = 0.5 * (0.8 * math.log(0.8 / 0.65) + 0.2 * math.log(0.2 / 0.35)) \
        + 0.5 * (0.5 * math.log(0.5 / 0.65) + 0.5 * math.log(0.5 / 0.35))
    assert row["js_divergence"] == pytest.approx(round(want_js, 6), abs=1e-6)
    assert (row["n_expected"], row["n_actual"]) == (10, 10)


def test_ks_js_bounds_and_identity(spark):
    """Identical distributions -> both zero; disjoint -> KS = 1 and
    JS = ln 2 (its upper bound). Empty-on-one-side buckets need no
    epsilon floor (0*ln0 = 0), unlike PSI."""
    import math

    from cumulus_etl_spark.operators.drift import ks_js_drift

    same = _snap(spark, [0.5] * 6 + [2.5] * 4)
    row = ks_js_drift(same, same, "x", 1.0, 4).collect()[0]
    assert (row["ks_stat"], row["js_divergence"]) == (0.0, 0.0)

    lo = _snap(spark, [0.5] * 10)
    hi = _snap(spark, [3.5] * 10)
    row = ks_js_drift(lo, hi, "x", 1.0, 4).collect()[0]
    assert row["ks_stat"] == 1.0
    assert row["js_divergence"] == pytest.approx(round(math.log(2), 6), abs=1e-6)


def test_ks_js_nulls_excluded_and_rows_twin_matches(spark):
    """Shares the module null policy, and the driver-side
    ks_js_from_rows twin (what the CLI uses on the already-collected
    histogram) lands on exactly the DataFrame operator's numbers."""
    from cumulus_etl_spark.operators.drift import (
        ks_js_drift,
        ks_js_from_rows,
        psi_drift,
    )

    e = spark.createDataFrame(
        [(None,)] * 5 + [(0.5,)] * 8 + [(1.5,)] * 2, "x double"
    )
    a = spark.createDataFrame(
        [(None,)] * 3 + [(0.2,)] * 5 + [(1.9,)] * 5, "x double"
    )
    row = ks_js_drift(e, a, "x", 1.0, 4).collect()[0]
    assert (row["n_expected"], row["n_actual"]) == (10, 10)  # nulls gone
    rows = psi_drift(e, a, "x", 1.0, 4).collect()
    ks, js = ks_js_from_rows(rows)
    assert (ks, js) == (row["ks_stat"], row["js_divergence"])


def test_ks_js_single_scan_per_side(spark):
    from cumulus_etl_spark.operators.drift import ks_js_drift

    e = _snap(spark, [0.5] * 20)
    a = _snap(spark, [1.5] * 20)
    plan = (
        ks_js_drift(e, a, "x", 1.0, 4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan ExistingRDD") == 2


def test_drift_cli_reports_ks_js(spark, tmp_path, capsys):
    import json

    from cumulus_etl_spark.cli import main

    e_path, a_path = str(tmp_path / "refk"), str(tmp_path / "newk")
    _snap(spark, [0.5] * 50 + [1.5] * 50).write.parquet(e_path)
    _snap(spark, [0.5] * 50 + [1.5] * 50).write.parquet(a_path)
    rc = main(["drift", e_path, a_path, "--column", "x",
               "--bucket-width", "1.0", "--buckets", "4"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["psi"] == 0.0 and rep["ks_stat"] == 0.0
    assert rep["js_divergence"] == 0.0 and rep["verdict"] == "stable"


def test_ks_js_randomized_properties(spark):
    """Seeded randomized pin for the KS/JS pair: symmetry (both metrics
    are direction-free, unlike PSI), bounds (KS in [0,1], JS in
    [0, ln 2]), and agreement with a plain-Python reference over the
    same bucket counts — across several random histogram shapes
    including one-sided-empty buckets."""
    import math
    import random

    from cumulus_etl_spark.operators.drift import ks_js_drift

    rng = random.Random(12)
    for case in range(4):
        nb = rng.choice([3, 4, 6])
        e_vals, a_vals = [], []
        for b in range(nb):
            # some buckets empty on one side
            if rng.random() > 0.2:
                e_vals += [b + 0.5] * rng.randint(1, 12)
            if rng.random() > 0.2:
                a_vals += [b + 0.5] * rng.randint(1, 12)
        if not e_vals or not a_vals:
            continue
        e, a = _snap(spark, e_vals), _snap(spark, a_vals)
        fwd = ks_js_drift(e, a, "x", 1.0, nb).collect()[0]
        rev = ks_js_drift(a, e, "x", 1.0, nb).collect()[0]
        assert fwd["ks_stat"] == rev["ks_stat"], case
        assert fwd["js_divergence"] == rev["js_divergence"], case
        assert 0.0 <= fwd["ks_stat"] <= 1.0
        assert 0.0 <= fwd["js_divergence"] <= round(math.log(2), 6) + 1e-9

        # plain-Python reference over the same counts
        ce = [sum(1 for v in e_vals if int(v) == b) for b in range(nb)]
        ca = [sum(1 for v in a_vals if int(v) == b) for b in range(nb)]
        te, ta = sum(ce), sum(ca)
        cum_e = cum_a = 0.0
        ks = js = 0.0
        for b in range(nb):
            pe, pa = ce[b] / te, ca[b] / ta
            cum_e += pe
            cum_a += pa
            ks = max(ks, abs(cum_e - cum_a))
            m = (pe + pa) / 2
            if pe > 0:
                js += 0.5 * pe * math.log(pe / m)
            if pa > 0:
                js += 0.5 * pa * math.log(pa / m)
        assert fwd["ks_stat"] == pytest.approx(ks, abs=1e-6), case
        assert fwd["js_divergence"] == pytest.approx(js, abs=1e-6), case


def test_drift_cli_multi_reports_ks_js(spark, tmp_path, capsys):
    import json

    from cumulus_etl_spark.cli import main

    e_path, a_path = str(tmp_path / "refm"), str(tmp_path / "newm")
    spark.createDataFrame(
        [(float(i % 10), 5.0) for i in range(100)], "moved double, flat double"
    ).write.parquet(e_path)
    spark.createDataFrame(
        [(float(i % 3), 5.0) for i in range(100)], "moved double, flat double"
    ).write.parquet(a_path)
    rc = main(["drift", e_path, a_path, "--columns", "moved,flat",
               "--buckets", "5"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["columns"]["flat"]["ks_stat"] == 0.0
    assert rep["columns"]["flat"]["js_divergence"] == 0.0
    assert rep["columns"]["moved"]["ks_stat"] > 0.2
    assert rep["columns"]["moved"]["js_divergence"] > 0.05


def test_psi_multi_all_null_reference_column_fails_loudly(spark):
    """A reference column with no non-null values cannot define a grid;
    the error must name the column, before any histogram scan."""
    from cumulus_etl_spark.operators.drift import psi_drift_multi

    e = spark.createDataFrame([(1.0, None)] * 10, "ok double, empty double")
    a = spark.createDataFrame([(1.5, 2.0)] * 10, "ok double, empty double")
    with pytest.raises(ValueError, match="empty"):
        psi_drift_multi(e, a, ["ok", "empty"], n_buckets=4)


def test_ks_js_empty_side_defined_and_twin_matches(spark):
    """r12 advice: an empty side must be DEFINED (all-zero mass), not a
    NULL from Spark's division by a zero total — and the DataFrame
    operator must land exactly where the driver-side twin already did:
    one side empty -> KS 1.0 / JS ln(2)/2; both empty -> (0.0, 0.0)."""
    import math

    from cumulus_etl_spark.operators.drift import (
        ks_js_drift,
        ks_js_from_rows,
    )

    empty = spark.createDataFrame([], "x double")
    nulls_only = spark.createDataFrame([(None,)] * 4, "x double")
    full = _snap(spark, [0.5] * 6 + [2.5] * 4)

    for bad in (empty, nulls_only):
        row = ks_js_drift(bad, full, "x", 1.0, 4).collect()[0]
        assert row["ks_stat"] == 1.0
        assert row["js_divergence"] == pytest.approx(
            round(math.log(2) / 2, 6), abs=1e-6
        )
        assert (row["n_expected"], row["n_actual"]) == (0, 10)
        # twin over the same histogram rows agrees exactly (built by
        # hand: psi_drift itself stays LOUD on an empty side — its
        # epsilon-floored shares are undefined there, and under ANSI
        # Spark raises DIVIDE_BY_ZERO rather than returning NULL)
        rows = [
            {"bucket": 0, "n_expected": 0, "n_actual": 6},
            {"bucket": 2, "n_expected": 0, "n_actual": 4},
        ]
        assert ks_js_from_rows(rows) == (
            row["ks_stat"], row["js_divergence"]
        )
        # and symmetrically
        rev = ks_js_drift(full, bad, "x", 1.0, 4).collect()[0]
        assert (rev["ks_stat"], rev["js_divergence"]) == (
            row["ks_stat"], row["js_divergence"]
        )

    both = ks_js_drift(empty, nulls_only, "x", 1.0, 4).collect()[0]
    assert (both["ks_stat"], both["js_divergence"]) == (0.0, 0.0)
    assert (both["n_expected"], both["n_actual"]) == (0, 0)
    assert ks_js_from_rows([]) == (0.0, 0.0)


# ---- PSI drift timeline (r13 bonus surface) --------------------------------


def _tsnap(spark, rows):
    """(value, iso-timestamp) rows."""
    return spark.createDataFrame(
        [(float(v), t) for v, t in rows], "x double, ts string"
    ).select("x", F.col("ts").cast("timestamp").alias("ts"))


def test_timeline_per_period_equals_psi_drift_slices(spark):
    """The load-bearing pin: each period's slice of the timeline grid
    EQUALS psi_drift(reference, that period's rows) — the timeline is
    the oracled single-column machinery evaluated per period, in one
    scan instead of |periods|."""
    from cumulus_etl_spark.operators.drift import psi_drift, psi_drift_timeline

    ref = _snap(spark, [0.5] * 40 + [1.5] * 40 + [2.5] * 20)
    day1 = [0.5] * 20 + [1.5] * 20 + [2.5] * 10       # same mix: stable
    day2 = [0.5] * 5 + [1.5] * 30 + [2.5] * 15        # shifted
    day3 = [2.5] * 25                                  # collapsed
    actual = _tsnap(
        spark,
        [(v, "2024-03-01 08:00:00") for v in day1]
        + [(v, "2024-03-02 09:30:00") for v in day2]
        + [(v, "2024-03-03 23:59:59") for v in day3],
    )
    grid = psi_drift_timeline(
        ref, actual, "x", "ts", period="day", bucket_width=1.0, n_buckets=4
    ).collect()
    by_day = {}
    for r in grid:
        by_day.setdefault(str(r["period"])[:10], []).append(r)
    assert sorted(by_day) == ["2024-03-01", "2024-03-02", "2024-03-03"]
    for day, vals in (("2024-03-01", day1), ("2024-03-02", day2),
                      ("2024-03-03", day3)):
        want = {
            r["bucket"]: (r["n_expected"], r["n_actual"], r["psi_contrib"])
            for r in psi_drift(ref, _snap(spark, vals), "x", 1.0, 4).collect()
        }
        got = {
            r["bucket"]: (r["n_expected"], r["n_actual"], r["psi_contrib"])
            for r in by_day[day]
        }
        assert got == want, day
    # and the drift reading localizes the onset
    psis = {
        d: round(sum(r["psi_contrib"] for r in rows), 6)
        for d, rows in by_day.items()
    }
    assert psis["2024-03-01"] == 0.0
    assert psis["2024-03-02"] > 0.1
    assert psis["2024-03-03"] > psis["2024-03-02"] > psis["2024-03-01"]


def test_timeline_reference_buckets_present_in_every_period(spark):
    """A period with zero mass in a reference bucket still reports that
    bucket (disappeared mass gets the min_pct floor) — the full-outer
    semantics of psi_from_counts, per period."""
    from cumulus_etl_spark.operators.drift import psi_drift_timeline

    ref = _snap(spark, [0.5] * 10 + [1.5] * 10)
    actual = _tsnap(spark, [(0.5, "2024-01-05 00:00:00")] * 7)
    rows = psi_drift_timeline(
        ref, actual, "x", "ts", "day", 1.0, 4
    ).collect()
    got = {r["bucket"]: (r["n_expected"], r["n_actual"]) for r in rows}
    assert got == {0: (10, 7), 1: (10, 0)}  # bucket 1 present, empty


def test_timeline_null_value_and_null_time_excluded(spark):
    from cumulus_etl_spark.operators.drift import psi_drift_timeline

    ref = _snap(spark, [0.5] * 10)
    actual = spark.createDataFrame(
        [(0.5, "2024-01-05 00:00:00")] * 4
        + [(None, "2024-01-05 00:00:00")] * 3
        + [(0.5, None)] * 3,
        "x double, ts string",
    ).select("x", F.col("ts").cast("timestamp").alias("ts"))
    rows = psi_drift_timeline(ref, actual, "x", "ts", "day", 1.0, 4).collect()
    assert len(rows) == 1
    assert rows[0]["n_actual"] == 4  # 6 unplaceable rows excluded


def test_timeline_single_scan_per_side_and_broadcast(spark, tmp_path):
    """Scale-shape pin: the SNAPSHOT inputs appear in no plan more than
    once.  The actual side is consumed twice downstream (period
    universe + join), so its |periods|x|buckets| histogram is pinned by
    an eager localCheckpoint — the final plan reads the checkpointed
    bounded frame (Scan ExistingRDD), and the one real read of the
    actual parquet happened inside the checkpoint job, whose own plan
    we also check carries exactly one scan."""
    from cumulus_etl_spark.operators.drift import psi_drift_timeline

    e_path, a_path = str(tmp_path / "e"), str(tmp_path / "a")
    _snap(spark, [0.5] * 30).write.parquet(e_path)
    _tsnap(spark, [(0.5, "2024-01-05 00:00:00")] * 30).write.parquet(a_path)
    ref = spark.read.parquet(e_path)
    actual = spark.read.parquet(a_path)
    out = psi_drift_timeline(ref, actual, "x", "ts", "day", 1.0, 4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # final plan: the reference parquet once; the actual parquet not at
    # all (only its checkpointed histogram, an ExistingRDD scan)
    assert plan.count("Scan parquet") == 1
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_timeline_validation(spark):
    from cumulus_etl_spark.operators.drift import psi_drift_timeline

    ref = _snap(spark, [0.5])
    actual = _tsnap(spark, [(0.5, "2024-01-05 00:00:00")])
    with pytest.raises(ValueError, match="bucket_width"):
        psi_drift_timeline(ref, actual, "x", "ts", "day", 0.0, 4)
    with pytest.raises(ValueError, match="n_buckets"):
        psi_drift_timeline(ref, actual, "x", "ts", "day", 1.0, 1)


def test_drift_cli_timeline(spark, tmp_path, capsys):
    import json

    from cumulus_etl_spark.cli import main

    e_path, a_path = str(tmp_path / "reft"), str(tmp_path / "newt")
    _snap(spark, [0.5] * 50 + [1.5] * 50).write.parquet(e_path)
    _tsnap(
        spark,
        [(0.5, "2024-03-01 08:00:00")] * 25
        + [(1.5, "2024-03-01 08:00:00")] * 25
        + [(1.5, "2024-03-02 08:00:00")] * 40,
    ).write.parquet(a_path)
    rc = main(["drift", e_path, a_path, "--column", "x",
               "--bucket-width", "1.0", "--buckets", "4",
               "--timeline", "ts", "--period", "day"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [p["period"][:10] for p in rep["periods"]] == [
        "2024-03-01", "2024-03-02"
    ]
    assert rep["periods"][0]["psi"] == 0.0
    assert rep["periods"][0]["verdict"] == "stable"
    assert rep["periods"][1]["psi"] > 0.25
    assert rep["verdict"] == "action"
    assert rep["first_action_period"][:10] == "2024-03-02"

    with pytest.raises(SystemExit, match="single-column"):
        main(["drift", e_path, a_path, "--columns", "x",
              "--timeline", "ts"])
    with pytest.raises(SystemExit, match="timeline column"):
        main(["drift", e_path, a_path, "--column", "x",
              "--bucket-width", "1.0", "--timeline", "nope"])


# ---- categorical drift (r13 bonus surface) ---------------------------------


def _csnap(spark, cats):
    return spark.createDataFrame([(c,) for c in cats], "src string")


def test_categorical_hand_computed(spark):
    """expected: a 80%, b 20%; actual: a 50%, b 50% — the same shares as
    the numeric hand case, so the identical PSI contributions."""
    from cumulus_etl_spark.operators.drift import categorical_drift

    e = _csnap(spark, ["a"] * 8 + ["b"] * 2)
    a = _csnap(spark, ["a"] * 5 + ["b"] * 5)
    rows = {r["category"]: r for r in
            categorical_drift(e, a, "src").collect()}
    assert set(rows) == {"a", "b"}
    c_a = (0.5 - 0.8) * math.log(0.5 / 0.8)
    c_b = (0.5 - 0.2) * math.log(0.5 / 0.2)
    assert rows["a"]["psi_contrib"] == pytest.approx(round(c_a, 6), abs=1e-9)
    assert rows["b"]["psi_contrib"] == pytest.approx(round(c_b, 6), abs=1e-9)
    assert (rows["a"]["n_expected"], rows["a"]["n_actual"]) == (8, 5)


def test_categorical_topk_universe_and_other_fold(spark):
    """The reference's top-k categories (count DESC, category ASC
    tiebreak) are the universe; tail AND reference-unseen categories
    fold into __other__ — a NEW dominant category surfaces as
    __other__ mass appearing."""
    from cumulus_etl_spark.operators.drift import OTHER_CATEGORY, categorical_drift

    e = _csnap(spark, ["a"] * 5 + ["b"] * 3 + ["c"] * 3 + ["d"] * 1)
    a = _csnap(spark, ["a"] * 3 + ["zz_new"] * 9)
    rows = {r["category"]: r for r in
            categorical_drift(e, a, "src", top_k=2).collect()}
    # tiebreak: b and c both count 3 -> b wins (category ASC)
    assert set(rows) == {"a", "b", OTHER_CATEGORY}
    assert (rows["a"]["n_expected"], rows["a"]["n_actual"]) == (5, 3)
    assert (rows["b"]["n_expected"], rows["b"]["n_actual"]) == (3, 0)
    # __other__: expected c+d = 4; actual zz_new = 9
    assert (rows[OTHER_CATEGORY]["n_expected"],
            rows[OTHER_CATEGORY]["n_actual"]) == (4, 9)
    total = sum(r["psi_contrib"] for r in rows.values())
    assert total > 0.25  # the mix shift reads as action


def test_categorical_nulls_excluded_and_identity(spark):
    from cumulus_etl_spark.operators.drift import categorical_drift

    e = spark.createDataFrame(
        [("a",)] * 6 + [(None,)] * 4 + [("b",)] * 4, "src string"
    )
    rows = categorical_drift(e, e, "src").collect()
    assert sum(r["n_expected"] for r in rows) == 10  # nulls gone
    assert all(r["psi_contrib"] == 0.0 for r in rows)


def test_categorical_chi2_twin(spark):
    """chi2_from_rows against a hand-built 2x2 contingency table:
    expected (30, 10) vs actual (10, 30) -> chi2 = 20.0 on N=80,
    V = 0.5 (textbook values)."""
    from cumulus_etl_spark.operators.drift import (
        categorical_drift,
        chi2_from_rows,
    )

    e = _csnap(spark, ["a"] * 30 + ["b"] * 10)
    a = _csnap(spark, ["a"] * 10 + ["b"] * 30)
    rows = categorical_drift(e, a, "src").collect()
    chi2, v = chi2_from_rows(rows)
    assert chi2 == pytest.approx(20.0, abs=1e-9)
    assert v == pytest.approx(0.5, abs=1e-9)
    # degenerate sides are defined, not crashes
    assert chi2_from_rows([]) == (0.0, 0.0)
    assert chi2_from_rows(
        [{"n_expected": 5, "n_actual": 0}]
    ) == (0.0, 0.0)


def test_categorical_single_scan_per_side_and_bounded(spark, tmp_path):
    """Scale-shape pin: each snapshot is read ONCE.  The expected
    side's counted frame feeds three consumers (universe + both
    folds), so it is localCheckpoint-pinned — the one real read of the
    expected parquet happens inside that checkpoint job, and the final
    plan reads only the actual parquet (exactly one 'Scan parquet')
    plus the checkpointed bounded frames; the universe rides a
    broadcast."""
    from cumulus_etl_spark.operators.drift import categorical_drift

    e_path, a_path = str(tmp_path / "ce"), str(tmp_path / "ca")
    _csnap(spark, [f"c{i % 7}" for i in range(100)]).write.parquet(e_path)
    _csnap(spark, [f"c{i % 5}" for i in range(100)]).write.parquet(a_path)
    out = categorical_drift(
        spark.read.parquet(e_path), spark.read.parquet(a_path),
        "src", top_k=3,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Scan ExistingRDD" in plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_categorical_validation(spark):
    from cumulus_etl_spark.operators.drift import categorical_drift

    df = _csnap(spark, ["a"])
    with pytest.raises(ValueError, match="top_k"):
        categorical_drift(df, df, "src", top_k=0)


def test_drift_cli_categorical(spark, tmp_path, capsys):
    import json

    from cumulus_etl_spark.cli import main

    e_path, a_path = str(tmp_path / "refc"), str(tmp_path / "newc")
    _csnap(spark, ["web"] * 60 + ["pdf"] * 40).write.parquet(e_path)
    _csnap(spark, ["web"] * 20 + ["pdf"] * 20 + ["crawl2"] * 60).write.parquet(a_path)
    rc = main(["drift", e_path, a_path, "--column", "src", "--categorical"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "categorical"
    assert rep["verdict"] == "action"          # 60% of mass is NEW
    assert rep["chi2"] > 0 and 0 < rep["cramers_v"] <= 1
    cats = {c["category"]: c for c in rep["categories"]}
    assert cats["__other__"]["n_actual"] == 60
    assert cats["__other__"]["n_expected"] == 0

    with pytest.raises(SystemExit, match="categorical takes only"):
        main(["drift", e_path, a_path, "--column", "src",
              "--categorical", "--bucket-width", "1.0"])
    with pytest.raises(SystemExit, match="categorical takes only"):
        main(["drift", e_path, a_path, "--columns", "src",
              "--categorical"])


# ---- staged r14 oracle parity (plans/analytics.py, unregistered) -----------


def test_staged_timeline_oracle_parity(spark, sf_correct):
    """The staged psi_drift_timeline oracle runs through the EXACT
    driver-compare harness at sf0.01 every suite run, so r14's
    registration is a proven one-line swap (the ledger in
    plans/analytics.py explains why it is not registered this round)."""
    from cumulus_etl_spark.plans.analytics import (
        _STAGED_TIMELINE_ORACLE,
        staged_profile_psi_timeline,
    )
    from tests.oracle_harness import compare

    result = compare(
        spark, sf_correct, "staged_profile_psi_timeline",
        staged_profile_psi_timeline, _STAGED_TIMELINE_ORACLE,
    )
    assert result["ok"], result


def test_staged_categorical_oracle_parity(spark, sf_correct):
    from cumulus_etl_spark.plans.analytics import (
        _STAGED_CATEGORICAL_ORACLE,
        staged_profile_categorical_drift,
    )
    from tests.oracle_harness import compare

    result = compare(
        spark, sf_correct, "staged_profile_categorical_drift",
        staged_profile_categorical_drift, _STAGED_CATEGORICAL_ORACLE,
    )
    assert result["ok"], result


# ---- report shapes: the printed key order at every level -------------------

_STATS = ["psi", "verdict", "ks_stat", "js_divergence"]
_PCT_ROW = ["n_expected", "n_actual", "pct_expected", "pct_actual", "psi_contrib"]


def key_paths(v, path="$") -> dict:
    """Every dict's keys in print order, by JSON path (list items share
    one path ``[]`` and must agree on it)."""
    out: dict = {}
    if isinstance(v, dict):
        out[path] = list(v)
        for k, x in v.items():
            out.update(key_paths(x, f"{path}.{k}"))
    elif isinstance(v, list):
        for x in v:
            for p, keys in key_paths(x, path + "[]").items():
                assert out.setdefault(p, keys) == keys, p
    return out


def shape_snapshots(spark, tmp_path) -> tuple[str, str]:
    """A reference and a drifted snapshot with two numeric columns, a
    category and a timestamp: one fixture for every drift mode."""
    rows_e = [(float(i % 4), float(i % 3), "web" if i % 3 else "pdf",
               "2024-03-01 08:00:00") for i in range(60)]
    rows_a = [(float(i % 2), float(i % 3), "crawl" if i % 2 else "web",
               f"2024-03-0{1 + i % 2} 08:00:00") for i in range(60)]
    paths = []
    for name, rows in (("ref", rows_e), ("new", rows_a)):
        path = str(tmp_path / name)
        spark.createDataFrame(rows, "x double, y double, src string, ts string").select(
            "x", "y", "src", F.col("ts").cast("timestamp").alias("ts")
        ).write.parquet(path)
        paths.append(path)
    return paths[0], paths[1]


@pytest.mark.parametrize("mode,flags,want", [
    ("column", ["--column", "x", "--bucket-width", "1.0", "--buckets", "4"], {
        "$": ["column", *_STATS, "n_expected", "n_actual", "buckets"],
        "$.buckets[]": ["bucket", *_PCT_ROW],
    }),
    ("columns", ["--columns", "x,y", "--buckets", "4"], {
        "$": ["columns", "worst_psi", "verdict"],
        "$.columns": ["x", "y"],
        "$.columns.x": [*_STATS, "n_expected", "n_actual"],
        "$.columns.y": [*_STATS, "n_expected", "n_actual"],
    }),
    ("timeline", ["--column", "x", "--bucket-width", "1.0", "--buckets", "4",
                  "--timeline", "ts"], {
        "$": ["column", "period", "periods", "worst_psi", "verdict",
              "first_action_period"],
        "$.periods[]": ["period", *_STATS, "n_actual"],
    }),
    ("categorical", ["--column", "src", "--categorical"], {
        "$": ["column", "mode", "psi", "verdict", "chi2", "cramers_v",
              "n_expected", "n_actual", "categories"],
        "$.categories[]": ["category", *_PCT_ROW],
    }),
], ids=["column", "columns", "timeline", "categorical"])
def test_drift_cli_report_key_order(spark, tmp_path, capsys, mode, flags, want):
    import json

    from cumulus_etl_spark.cli import main

    e_path, a_path = shape_snapshots(spark, tmp_path)
    assert main(["drift", e_path, a_path, *flags]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert key_paths(rep) == want, mode
