"""Lake integrity doctor (sinks/doctor.py) — read-only invariant checks."""

from __future__ import annotations

import json
import os
import shutil

from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
from cumulus_etl_spark.sinks.doctor import diagnose_lake, diagnose_table


def _mk(spark, root, name="t", feed=False, merges=1):
    tbl = ManagedTable(spark, root, name)
    pol = MergePolicy(keys=("id",), last_updated_field=None, change_feed=feed)
    for i in range(merges):
        tbl.merge(
            spark.createDataFrame([(f"k{i}", i)], "id string, value long"), pol
        )
    return tbl


def test_healthy_table_is_ok(spark, tmp_path):
    _mk(spark, str(tmp_path), merges=1)
    rep = diagnose_lake(str(tmp_path))
    assert rep["status"] == "ok"
    t = rep["tables"]["t"]
    assert t["current_version"] == 1 and t["versions_on_disk"] == [1]
    assert t["issues"] == []


def test_stray_version_and_superseded_are_flagged(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path), merges=2)
    os.makedirs(os.path.join(tbl.path, "v99"))
    rep = diagnose_table(tbl.path)
    assert rep["status"] == "warn"
    assert any("beyond the pointer" in i and "[99]" in i for i in rep["issues"])
    assert any(i.startswith("info: 1 superseded") for i in rep["issues"])


def test_missing_pointed_version_is_critical(spark, tmp_path, capsys):
    tbl = _mk(spark, str(tmp_path))
    shutil.rmtree(os.path.join(tbl.path, "v1"))
    rep = diagnose_table(tbl.path)
    assert rep["status"] == "critical"
    assert any("version dir is missing" in i for i in rep["issues"])

    from cumulus_etl_spark.cli import main

    rc = main(["doctor", str(tmp_path)])
    assert rc == 2  # critical surfaces in the exit code
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "critical"


def test_change_feed_hole_is_flagged(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path), feed=True, merges=3)
    shutil.rmtree(os.path.join(tbl.path, "changes", "v2"))
    rep = diagnose_table(tbl.path)
    assert rep["status"] == "warn"
    assert any("hole(s) [2]" in i for i in rep["issues"])


def test_doctor_is_read_only_on_pending_staging(spark, tmp_path):
    """A staged-but-unpublished change dir must be REPORTED, not swept
    (change_versions() would publish it as a side effect — the doctor
    must be safe against a lake mid-write)."""
    tbl = _mk(spark, str(tmp_path), feed=True, merges=1)
    staged = os.path.join(tbl.path, ".changes_staging", "v1")
    os.makedirs(staged)
    rep = diagnose_table(tbl.path)
    assert any("staged-but-unpublished" in i for i in rep["issues"])
    assert os.path.isdir(staged)  # untouched
    # orphan staging (beyond pointer) is informational only
    os.makedirs(os.path.join(tbl.path, ".changes_staging", "v42"))
    rep2 = diagnose_table(tbl.path)
    assert any("orphan staging" in i for i in rep2["issues"])


def test_schema_drift_added_column_is_informational(spark, tmp_path):
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(keys=("id",), last_updated_field=None)
    tbl.merge(spark.createDataFrame([("a", 1)], "id string, value long"), pol)
    tbl.merge(
        spark.createDataFrame(
            [("b", 2, "x")], "id string, value long, extra string"
        ),
        pol,
    )
    rep = diagnose_table(tbl.path)
    assert any("column(s) ['extra'] added" in i for i in rep["issues"])
    assert rep["status"] == "ok"  # additive evolution is not a defect


def test_schema_drift_removed_and_retyped_columns_warn(spark, tmp_path):
    """Handcrafted two-version layout: a rewrite that dropped a column
    and changed a type must warn."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = os.path.join(str(tmp_path), "t")
    os.makedirs(os.path.join(root, "v1"))
    os.makedirs(os.path.join(root, "v2"))
    pq.write_table(
        pa.table({"id": ["a"], "value": pa.array([1], pa.int64()),
                  "gone": ["z"]}),
        os.path.join(root, "v1", "part-0.parquet"),
    )
    pq.write_table(
        pa.table({"id": ["a"], "value": pa.array([1.5], pa.float64())}),
        os.path.join(root, "v2", "part-0.parquet"),
    )
    with open(os.path.join(root, "_CURRENT"), "w") as fh:
        json.dump({"version": 2}, fh)
    rep = diagnose_table(root)
    assert rep["status"] == "warn"
    assert any("['gone'] present in the previous version" in i for i in rep["issues"])
    assert any("value: int64 -> double" in i for i in rep["issues"])


def test_sample_files_bounds_footer_sweep_and_still_catches_drift(
    spark, tmp_path, monkeypatch
):
    """--sample-files caps the driver-side footer loop per version (the
    million-file-lake guard) while still catching drift that lands in
    the newest files: the cap's even spacing always includes the last
    file of the sorted listing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = os.path.join(str(tmp_path), "t")
    os.makedirs(os.path.join(root, "v1"))
    os.makedirs(os.path.join(root, "v2"))
    for i in range(40):
        pq.write_table(
            pa.table({"id": ["a"], "value": pa.array([1], pa.int64())}),
            os.path.join(root, "v1", f"part-{i:05d}.parquet"),
        )
    # v2: 39 unchanged files + the drift (a retype) only in the LAST file
    for i in range(39):
        pq.write_table(
            pa.table({"id": ["a"], "value": pa.array([1], pa.int64())}),
            os.path.join(root, "v2", f"part-{i:05d}.parquet"),
        )
    pq.write_table(
        pa.table({"id": ["a"], "value": pa.array([1.5], pa.float64())}),
        os.path.join(root, "v2", "part-00039.parquet"),
    )
    with open(os.path.join(root, "_CURRENT"), "w") as fh:
        json.dump({"version": 2}, fh)

    import cumulus_etl_spark.sinks.doctor as doctor_mod

    reads = []
    real = __import__("pyarrow.parquet", fromlist=["read_schema"]).read_schema

    def counting(path, *a, **kw):
        reads.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr("pyarrow.parquet.read_schema", counting)
    rep = doctor_mod.diagnose_table(root, sample_files=8)
    assert len(reads) <= 16  # <= 8 footers per version, two versions
    assert any("value: int64 -> double" in i for i in rep["issues"])

    # CLI flag threads through and the bound holds end-to-end
    from cumulus_etl_spark.cli import main

    reads.clear()
    rc = main(["doctor", str(tmp_path), "--sample-files", "4"])
    assert rc == 0
    assert len(reads) <= 8


def test_stored_columns_are_counted_and_must_lie_in_the_schema(spark, tmp_path):
    """The report counts the pointer's stored columns (all schema columns
    for a pointer without a ``stored`` record); a stored column outside
    the schema is critical."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    tbl = ManagedTable(spark, str(tmp_path), "t")
    contract = StructType([StructField(c, t) for c, t in
                           (("id", StringType()), ("value", LongType()), ("note", StringType()))])
    tbl.merge(spark.createDataFrame([("k", 1)], "id string, value long"),
              MergePolicy(keys=("id",), last_updated_field=None), contract=contract)
    rep = diagnose_table(tbl.path)
    assert rep["status"] == "ok" and rep["stored_columns"] == 2

    ptr_path = os.path.join(tbl.path, "_CURRENT")
    with open(ptr_path) as fh:
        ptr = json.load(fh)
    legacy = {k: v for k, v in ptr.items() if k != "stored"}
    with open(ptr_path, "w") as fh:
        json.dump(legacy, fh)
    assert diagnose_table(tbl.path)["stored_columns"] == 3

    with open(ptr_path, "w") as fh:
        json.dump({**ptr, "stored": ["id", "value", "gone"]}, fh)
    rep = diagnose_table(tbl.path)
    assert rep["status"] == "critical"
    assert any("['gone']" in i and "not in the pointer schema" in i for i in rep["issues"])
