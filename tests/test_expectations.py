"""Single-pass data-quality operators: data-contract expectations
(operators/expectations.py) and column profiling (operators/profile.py)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row

from cumulus_etl_spark.operators.expectations import check_expectations


def _df(spark):
    rows = [
        (1, "alpha", "src0", 10.0),
        (2, "beta", "src1", 50.0),
        (3, "", "src0", 99.0),          # empty text
        (4, "delta", "src2", 150.0),    # out of range, unknown source
        (5, None, "src1", 70.0),        # null text
        (5, "echo", "src0", 20.0),      # duplicate id
    ]
    return spark.createDataFrame(rows, "id long, text string, source string, total double")


def test_expectations_hand_checked(spark):
    df = _df(spark)
    rep = check_expectations(df, [
        {"check": "not_null", "column": "text"},
        {"check": "not_null", "column": "text", "min_ratio": 0.8},
        {"check": "non_empty", "column": "text", "min_ratio": 0.9},
        {"check": "unique", "column": "id"},
        {"check": "between", "column": "total", "lo": 0, "hi": 100,
         "min_ratio": 0.9},
        {"check": "in_set", "column": "source", "values": ["src0", "src1"],
         "min_ratio": 0.5},
        {"check": "matches", "column": "source", "pattern": "src\\d"},
        {"check": "row_count_between", "lo": 6, "hi": 6},
    ])
    (nn_strict, nn_loose, nonempty, uniq, between, inset, matches,
     rowcount) = rep["results"]
    assert rep["n_rows"] == 6
    # 5/6 non-null: strict fails, 0.8 passes — results keep spec order
    assert not nn_strict["passed"]
    assert nn_strict["metric"] == pytest.approx(5 / 6, abs=1e-6)
    assert nn_loose["passed"]
    # non-empty over NON-NULL rows: 4/5 = 0.8 < 0.9 -> fails
    assert not nonempty["passed"]
    assert nonempty["metric"] == pytest.approx(0.8, abs=1e-6)
    # duplicate id: metric = duplicate count
    assert not uniq["passed"] and uniq["metric"] == 1
    # 5/6 totals in [0,100] -> 0.833 < 0.9 fails
    assert not between["passed"]
    # 4/6 known sources = 0.667 >= 0.5 passes
    assert inset["passed"]
    assert matches["passed"]          # all full-match src\d
    assert rowcount["passed"]
    assert not rep["passed"]

    clean = check_expectations(df.filter("id <= 2"), [
        {"check": "not_null", "column": "text"},
        {"check": "unique", "column": "id"},
        {"check": "between", "column": "total", "lo": 0, "hi": 100},
        {"check": "row_count_between", "lo": 1},
    ])
    assert clean["passed"] and all(r["passed"] for r in clean["results"])


def test_expectations_single_scan(spark):
    """Scale-shape pin: however many constraints, the suite is ONE
    aggregate over one scan of the input."""
    df = _df(spark)
    from pyspark.sql import functions as F

    specs = [
        {"check": "not_null", "column": "text"},
        {"check": "non_empty", "column": "text"},
        {"check": "unique", "column": "id"},
        {"check": "between", "column": "total", "lo": 0, "hi": 100},
        {"check": "in_set", "column": "source", "values": ["src0"]},
        {"check": "matches", "column": "source", "pattern": ".*"},
    ]
    # reproduce the operator's aggregate plan without collecting
    from cumulus_etl_spark.operators import expectations as ex

    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, s in enumerate(specs):
        p = ex._pred(s)
        if p is not None:
            aggs.append(F.sum(F.when(F.col(s["column"]).isNotNull() & p, 1)).alias(f"a{i}"))
    plan = df.agg(*aggs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1


def test_expectations_validation_fails_before_scan(spark):
    df = _df(spark)
    with pytest.raises(ValueError, match="unknown expectation"):
        check_expectations(df, [{"check": "nope", "column": "id"}])
    with pytest.raises(ValueError, match="needs a 'column'"):
        check_expectations(df, [{"check": "unique"}])
    with pytest.raises(ValueError, match="not in the table"):
        check_expectations(df, [{"check": "not_null", "column": "ghost"}])
    with pytest.raises(ValueError, match="'lo' and 'hi'"):
        check_expectations(df, [{"check": "between", "column": "total"}])


def test_expect_cli_verb_gates_on_exit_code(spark, tmp_path, capsys):
    from cumulus_etl_spark.cli import main

    path = str(tmp_path / "t")
    _df(spark).write.parquet(path)
    spec = [
        {"check": "unique", "column": "id"},
        {"check": "not_null", "column": "text"},
    ]
    spec_file = tmp_path / "contract.json"
    spec_file.write_text(json.dumps(spec))

    rc = main(["expect", path, "--spec", str(spec_file)])
    assert rc == 3  # contract violated -> gate fails
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["passed"] is False and rep["n_rows"] == 6

    # inline JSON + a passing contract
    rc = main(["expect", path, "--spec",
               json.dumps([{"check": "row_count_between", "lo": 1}])])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["passed"] is True


def test_unique_approx_flag_screens_without_expand(spark):
    """Round-11 verdict note: each EXACT unique adds an Expand branch
    (the aggregate input multiplies per distinct-agg); `approx: true`
    routes through approx_count_distinct — an accumulating aggregate
    with NO Expand however many columns — for wide uniqueness sweeps.
    Pin both the plan shape and the pass/fail contract."""
    from pyspark.sql import functions as F

    from cumulus_etl_spark.operators.expectations import check_expectations

    rows = [(i, i % 97, f"s{i}") for i in range(500)]  # b has real dups
    df = spark.createDataFrame(rows, "a long, b long, c string")

    # contract: a unique (true), b unique (false — 403 dups), both modes
    exact = check_expectations(df, [
        {"check": "unique", "column": "a"},
        {"check": "unique", "column": "b"},
    ])
    assert exact["results"][0]["passed"]
    assert not exact["results"][1]["passed"]
    assert exact["results"][1]["metric"] == 500 - 97

    approx = check_expectations(df, [
        {"check": "unique", "column": "a", "approx": True},
        {"check": "unique", "column": "b", "approx": True},
    ])
    assert approx["results"][0]["passed"]       # estimate covers nn
    assert not approx["results"][1]["passed"]   # 80% duplicates: far past tol
    assert not approx["passed"]

    # plan shape: N exact uniques -> Expand; N approx uniques -> none
    def plan_of(specs):
        aggs = [F.count(F.lit(1)).alias("n")]
        for i, s in enumerate(specs):
            col = F.col(s["column"])
            agg = (F.approx_count_distinct(col, rsd=0.02) if s.get("approx")
                   else F.count_distinct(col))
            aggs.append(agg.alias(f"d{i}"))
        return df.agg(*aggs)._jdf.queryExecution().executedPlan().toString()

    cols = ["a", "b", "c"]
    assert "Expand" in plan_of([{"check": "unique", "column": c} for c in cols])
    approx_plan = plan_of(
        [{"check": "unique", "column": c, "approx": True} for c in cols]
    )
    assert "Expand" not in approx_plan
    assert approx_plan.count("Scan ExistingRDD") == 1


def test_profile_handles_dotted_column_names(spark):
    """ADVICE r3: derived aggregate references must be backtick-quoted or a
    legal-in-parquet dotted column name parses as a struct path."""
    from cumulus_etl_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [Row(**{"a": 1, "b": None}), Row(**{"a": 2, "b": 5})]
    ).withColumnRenamed("a", "a.x").withColumnRenamed("b", "b.y")
    got = {r["column_name"]: r for r in profile_columns(df).collect()}
    assert got["a.x"]["n_nulls"] == 0 and got["a.x"]["n_distinct"] == 2
    assert got["b.y"]["n_nulls"] == 1
    assert got["a.x"]["min_num"] == 1.0 and got["a.x"]["max_num"] == 2.0
