"""Merge sink semantics tests — mirrors the reference's Delta behavior
suite (tests/formats/test_deltalake.py layer, SURVEY §5.5).

The semantic tests run against BOTH backends: the versioned-parquet
fallback and the Delta branch. delta-spark isn't installed in this
container, so the Delta branch is exercised through ``FakeDeltaTable``
below — a DeltaTable stand-in that EXECUTES the merge-builder spec
(conditions included) with real DataFrames over parquet. What's under
test is everything our code builds: the match condition, the
last-updated update gate, the group-scoped not-matched-by-source delete,
the insert clause, and the delete-by-merge path."""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import cumulus_etl_spark.sinks.merge as merge_mod
from cumulus_etl_spark.sinks import ManagedTable, MergePolicy, dedupe_last_wins
from cumulus_etl_spark.sinks.batched import read_meta, write_ndjson_batches
from cumulus_etl_spark.sinks.incremental_view import IncrementalRollup

_UNSET = object()


class _FakeMergeBuilder:
    """Executes a DeltaTable merge spec with DataFrames (semantics of
    https://docs.delta.io/latest/api/python/spark/ DeltaMergeBuilder)."""

    def __init__(self, table, source, cond):
        self.table, self.source, self.cond = table, source, cond
        self.update_cond = _UNSET
        self.matched_delete = False
        self.insert_all = False
        self.nmbs_delete_cond = None

    def whenMatchedUpdateAll(self, condition=None):
        self.update_cond = condition
        return self

    def whenMatchedDelete(self):
        self.matched_delete = True
        return self

    def whenNotMatchedInsertAll(self):
        self.insert_all = True
        return self

    def whenNotMatchedBySourceDelete(self, condition):
        self.nmbs_delete_cond = condition
        return self

    def execute(self):
        t = self.table.toDF().alias("t")
        u = self.source  # caller aliased it "u"
        cond = F.expr(self.cond)
        joined = t.join(u, cond, "inner")
        parts = []
        if self.update_cond is not _UNSET:
            c = F.expr(self.update_cond) if self.update_cond else F.lit(True)
            # UPDATE SET * with schema.autoMerge: a target column the
            # source lacks keeps its target value (INSERT * nulls it)
            kept = [F.col(f"t.{n}") for n in t.columns if n not in set(u.columns)]
            parts.append(joined.filter(c).select("u.*", *kept))
            parts.append(joined.filter(~F.coalesce(c, F.lit(False))).select("t.*"))
        elif self.matched_delete:
            pass  # matched target rows drop
        else:
            parts.append(joined.select("t.*"))  # no matched clause: unchanged
        t_only = t.join(u, cond, "left_anti")
        if self.nmbs_delete_cond:
            t_only = t_only.alias("t").filter(
                ~F.coalesce(F.expr(self.nmbs_delete_cond), F.lit(False))
            )
        parts.append(t_only)
        if self.insert_all:
            parts.append(u.join(t, cond, "left_anti"))
        out = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        # materialize before overwriting the files the plan reads
        out = out.localCheckpoint(eager=True)
        out.write.mode("overwrite").parquet(self.table._data())


class FakeDeltaTable:
    def __init__(self, spark, path):
        self.spark, self.path = spark, path

    @staticmethod
    def isDeltaTable(spark, path):
        return os.path.isdir(os.path.join(path, "_delta_log"))

    @classmethod
    def forPath(cls, spark, path):
        return cls(spark, path)

    def _data(self):
        return os.path.join(self.path, "_fake_delta_data")

    def toDF(self):
        return self.spark.read.parquet(self._data())

    def alias(self, name):
        assert name == "t"
        return self

    def merge(self, source, cond):
        return _FakeMergeBuilder(self, source, cond)


def _fake_delta_initial(self, updates):
    updates.write.mode("overwrite").parquet(os.path.join(self.path, "_fake_delta_data"))
    os.makedirs(os.path.join(self.path, "_delta_log"), exist_ok=True)


@pytest.fixture(params=["parquet", "delta"])
def backend(request, monkeypatch):
    if request.param == "delta":
        monkeypatch.setattr(merge_mod, "DeltaTable", FakeDeltaTable)
        monkeypatch.setattr(merge_mod, "HAVE_DELTA", True)
        monkeypatch.setattr(
            merge_mod.ManagedTable, "_delta_write_initial", _fake_delta_initial
        )
    return request.param


def make_df(spark, rows):
    return spark.createDataFrame(
        [Row(id=i, val=v, meta=Row(lastUpdated=ts)) for i, v, ts in rows],
        "id string, val string, meta struct<lastUpdated: string>",
    )


def rows_of(tbl):
    return {
        r["id"]: (r["val"], r["meta"]["lastUpdated"] if r["meta"] else None)
        for r in tbl.read().collect()
    }


def test_insert_then_upsert(spark, tmp_path, backend):
    tbl = ManagedTable(spark, str(tmp_path), "patient")
    pol = MergePolicy()
    tbl.merge(make_df(spark, [("a", "1", "2021-01-01T00:00:00Z"), ("b", "1", None)]), pol)
    assert rows_of(tbl)["a"] == ("1", "2021-01-01T00:00:00Z")
    tbl.merge(make_df(spark, [("a", "2", "2021-02-01T00:00:00Z"), ("c", "1", None)]), pol)
    got = rows_of(tbl)
    assert got["a"][0] == "2"  # updated
    assert got["b"][0] == "1"  # untouched
    assert got["c"][0] == "1"  # inserted


def test_last_updated_guard(spark, tmp_path, backend):
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy()
    tbl.merge(make_df(spark, [("a", "new", "2021-06-01T00:00:00Z")]), pol)
    # older update → rejected
    tbl.merge(make_df(spark, [("a", "stale", "2020-01-01T00:00:00Z")]), pol)
    assert rows_of(tbl)["a"][0] == "new"
    # equal timestamp → accepted (re-upload tolerance, deltalake.py:213-232)
    tbl.merge(make_df(spark, [("a", "same-ts", "2021-06-01T00:00:00Z")]), pol)
    assert rows_of(tbl)["a"][0] == "same-ts"
    # null timestamp on update → accepted (null-safe)
    tbl.merge(make_df(spark, [("a", "nullts", None)]), pol)
    assert rows_of(tbl)["a"][0] == "nullts"


def test_update_existing_false_keeps_first(spark, tmp_path, backend):
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(update_existing=False)
    tbl.merge(make_df(spark, [("a", "first", None)]), pol)
    tbl.merge(make_df(spark, [("a", "second", None), ("b", "new", None)]), pol)
    got = rows_of(tbl)
    assert got["a"][0] == "first"
    assert got["b"][0] == "new"


def test_group_replacement(spark, tmp_path, backend):
    """NLP re-run: 2 rows where 3 existed in a group → stale row deleted."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(keys=("id",), group_field="grp", last_updated_field=None)
    df1 = spark.createDataFrame(
        [("a", "g1", "x"), ("b", "g1", "x"), ("c", "g1", "x"), ("d", "g2", "x")],
        "id string, grp string, val string",
    )
    tbl.merge(df1, pol)
    df2 = spark.createDataFrame(
        [("a", "g1", "y"), ("b", "g1", "y")], "id string, grp string, val string"
    )
    tbl.merge(df2, pol)
    got = {r["id"]: r["val"] for r in tbl.read().collect()}
    assert got == {"a": "y", "b": "y", "d": "x"}  # c deleted, g2 untouched


def test_in_batch_duplicate_keys_freshest_wins(spark, tmp_path, backend):
    tbl = ManagedTable(spark, str(tmp_path), "t")
    tbl.merge(
        make_df(
            spark,
            [("a", "old", "2021-01-01T00:00:00Z"), ("a", "fresh", "2021-03-01T00:00:00Z")],
        ),
        MergePolicy(),
    )
    assert rows_of(tbl)["a"][0] == "fresh"


def test_schema_evolution_adds_column(spark, tmp_path, backend):
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(last_updated_field=None)
    tbl.merge(spark.createDataFrame([("a", "1")], "id string, val string"), pol)
    tbl.merge(
        spark.createDataFrame([("b", "2", "extra")], "id string, val string, added string"), pol
    )
    got = {r["id"]: r for r in tbl.read().collect()}
    assert got["a"]["added"] is None
    assert got["b"]["added"] == "extra"


def test_schema_evolution_missing_column(spark, tmp_path, backend):
    """An update batch MISSING a column the table has keeps the old
    column (nulls on new rows) — ref test_deltalake.py::test_missing_field."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(last_updated_field=None)
    tbl.merge(spark.createDataFrame([("a", "1", "x")], "id string, val string, extra string"), pol)
    tbl.merge(spark.createDataFrame([("b", "2")], "id string, val string"), pol)
    got = {r["id"]: r for r in tbl.read().collect()}
    assert got["a"]["extra"] == "x"
    assert got["b"]["extra"] is None


def test_schema_evolution_nested_field(spark, tmp_path, backend):
    """A NEW NESTED field inside an existing struct merges in (ref
    deltalake autoMerge semantics; unionByName resolves nested)."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(last_updated_field=None)
    tbl.merge(
        spark.createDataFrame([("a", {"x": "1"})], "id string, obj struct<x:string>"), pol
    )
    tbl.merge(
        spark.createDataFrame(
            [("b", {"x": "2", "y": "new"})], "id string, obj struct<x:string,y:string>"
        ),
        pol,
    )
    got = {r["id"]: r["obj"].asDict() for r in tbl.read().collect()}
    assert got["a"] == {"x": "1", "y": None}
    assert got["b"] == {"x": "2", "y": "new"}


def test_altered_column_type_rejected_lake_intact(spark, tmp_path):
    """A batch that changes a column's TYPE errors out without damaging
    the lake — ref test_deltalake.py::test_altered_field."""
    import pytest as _pytest

    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(last_updated_field=None)
    tbl.merge(spark.createDataFrame([("a", 1)], "id string, v int"), pol)
    with _pytest.raises(Exception):
        tbl.merge(spark.createDataFrame([("b", "str")], "id string, v string"), pol)
    got = {r["id"]: r["v"] for r in tbl.read().collect()}
    assert got == {"a": 1}  # lake untouched by the failed merge


def test_delete_ids(spark, tmp_path, backend):
    tbl = ManagedTable(spark, str(tmp_path), "t")
    tbl.merge(make_df(spark, [("a", "1", None), ("b", "1", None), ("c", "1", None)]), MergePolicy())
    tbl.delete_ids(["a", "c"])
    assert set(rows_of(tbl)) == {"b"}


def test_crash_safety_and_finalize(spark, tmp_path):
    tbl = ManagedTable(spark, str(tmp_path), "t")
    tbl.merge(make_df(spark, [("a", "1", None)]), MergePolicy())
    tbl.merge(make_df(spark, [("b", "1", None)]), MergePolicy())
    # a stray half-written version dir without a pointer flip is invisible
    os.makedirs(os.path.join(tbl.path, "v99"))
    assert set(rows_of(tbl)) == {"a", "b"}
    assert tbl.current_version() == 2
    tbl.finalize()
    assert not os.path.exists(os.path.join(tbl.path, "v1"))
    assert set(rows_of(tbl)) == {"a", "b"}


# ---- derived bucket count ---------------------------------------------------
# The sink sizes a table to spark.sql.files.maxPartitionBytes per bucket.
# Tests that need several buckets lower that conf for their own scope: at
# 32 KB a 2,000-row _hex_rows table (~190 KB on disk) lays out as 8 buckets,
# with each bucket file well under one task, so the count is stable.

@contextlib.contextmanager
def _split_bytes(spark):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(32 << 10))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _hex_rows(spark, n, start=0):
    """(id, val) rows k<start>.. of ~70 B each: the 64-hex val outweighs
    the parquet footers."""
    return spark.range(start, start + n).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("id"),
        F.sha2(F.col("id").cast("string"), 256).alias("val"),
    )


def _on_disk(tmp_path, df):
    """``df`` as a file-sourced batch, whose input bytes the sink counts."""
    path = tempfile.mkdtemp(dir=tmp_path)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _recorded_buckets(tbl):
    with open(os.path.join(tbl.path, "_CURRENT")) as fh:
        return json.load(fh)["num_buckets"]


def _bucket_inodes(tbl):
    vdir = os.path.join(tbl.path, f"v{tbl.current_version()}")
    return {
        d: {f: os.stat(os.path.join(vdir, d, f)).st_ino for f in os.listdir(os.path.join(vdir, d))}
        for d in os.listdir(vdir) if d.startswith("__bucket=")
    }


def _rewritten_buckets(tbl, change):
    """Run ``change``; every bucket must survive it, and the count of
    buckets whose files changed is returned — the rest were re-linked
    (same inodes, no data copied)."""
    before = _bucket_inodes(tbl)
    change()
    after = _bucket_inodes(tbl)
    assert set(after) == set(before)
    return sum(after[d] != before[d] for d in after)


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale property: a small batch into a big table re-links every
    untouched bucket (same inode — no data copied) and only rewrites the
    buckets the batch hashes into."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(last_updated_field=None)
    with _split_bytes(spark):
        tbl.merge(_on_disk(tmp_path, _hex_rows(spark, 2000)), pol)
        assert _recorded_buckets(tbl) == 8
        one = spark.createDataFrame([("k3", "v1")], "id string, val string")
        assert _rewritten_buckets(tbl, lambda: tbl.merge(one, pol)) == 1
    # and the data is still right
    got = {r["id"]: r["val"] for r in tbl.read().collect()}
    assert got["k3"] == "v1" and got["k7"] != "v1" and len(got) == 2000


def test_merge_reads_prune_partitions(spark, tmp_path):
    """The pruned scan must carry a PartitionFilters entry on __bucket —
    i.e. the merge never lists untouched buckets' files."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    with _split_bytes(spark):
        tbl.merge(_on_disk(tmp_path, _hex_rows(spark, 2000)), MergePolicy(last_updated_field=None))
        pruned = tbl._read_version(tbl._pointer(), buckets=[3])
        plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan


def test_group_bucketing_replacement_across_buckets(spark, tmp_path):
    """Group replacement with MANY groups: rows bucket by group, so a
    re-run of one group finds all its stale rows without touching other
    groups' buckets."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(keys=("id",), group_field="grp", last_updated_field=None)
    # 20 groups of 50 rows, r<g>_<i> in group g<g>
    g, i = (F.col("id") / 50).cast("int").cast("string"), (F.col("id") % 50).cast("string")
    df1 = _on_disk(tmp_path, spark.range(1000).select(
        F.concat(F.lit("r"), g, F.lit("_"), i).alias("id"),
        F.concat(F.lit("g"), g).alias("grp"),
        F.sha2(F.col("id").cast("string"), 256).alias("val"),
    ))
    with _split_bytes(spark):
        tbl.merge(df1, pol)
        assert _recorded_buckets(tbl) > 1
        # re-run group g5 with 2 rows where 50 existed
        df2 = spark.createDataFrame(
            [("r5_0", "g5", "y"), ("r5_1", "g5", "y")], "id string, grp string, val string"
        )
        assert _rewritten_buckets(tbl, lambda: tbl.merge(df2, pol)) == 1
    got = {r["id"]: r["val"] for r in tbl.read().collect()}
    assert got["r5_0"] == "y" and got["r5_1"] == "y"
    assert sum(1 for k in got if k.startswith("r5_")) == 2  # stale rows dropped
    assert sum(1 for k in got if k.startswith("r7_")) == 50  # other groups intact
    assert len(got) == 20 * 50 - 48


def test_delete_ids_bucket_pruned(spark, tmp_path):
    tbl = ManagedTable(spark, str(tmp_path), "t")
    with _split_bytes(spark):
        tbl.merge(_on_disk(tmp_path, _hex_rows(spark, 2000)), MergePolicy(last_updated_field=None))
        assert _rewritten_buckets(tbl, lambda: tbl.delete_ids(["k42"])) == 1
    assert "k42" not in {r["id"] for r in tbl.read().collect()}
    assert tbl.read().count() == 1999


def test_bucket_count_grows_with_the_table(spark, tmp_path):
    """A table that outgrows its bucket count re-lays out on the next
    merge, once, at the smallest power of two that fits it, data intact;
    the recorded count then wins, so with the conf restored the grown
    table keeps it and stays bucket-pruned."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(last_updated_field=None)
    one = spark.createDataFrame([("k3", "v1")], "id string, val string")
    with _split_bytes(spark):
        tbl.merge(_on_disk(tmp_path, _hex_rows(spark, 200)), pol)  # ~20 KB: one bucket
        assert _recorded_buckets(tbl) == 1
        # +160 KB lands in the one bucket: growth is judged on the bytes
        # already on disk, not on the batch's scan
        tbl.merge(_on_disk(tmp_path, _hex_rows(spark, 2000, start=200)), pol)
        assert _recorded_buckets(tbl) == 1
        tbl.merge(one, pol)  # the table outgrew its one bucket: re-layout
        assert _recorded_buckets(tbl) == 8 and len(_bucket_inodes(tbl)) == 8
    want = {r["id"]: r["val"] for r in _hex_rows(spark, 2200).collect()}
    assert {r["id"]: r["val"] for r in tbl.read().collect()} == {**want, "k3": "v1"}
    one = spark.createDataFrame([("k5", "v1")], "id string, val string")
    assert _rewritten_buckets(tbl, lambda: tbl.merge(one, pol)) == 1
    assert _rewritten_buckets(tbl, lambda: tbl.delete_ids(["k42"])) == 1
    assert _recorded_buckets(tbl) == 8
    got = {r["id"]: r["val"] for r in tbl.read().collect()}
    assert len(got) == 2199 and got["k3"] == got["k5"] == "v1" and "k42" not in got


def test_small_type_of_a_skewed_export_keeps_one_bucket(spark, tmp_path):
    """An ETL table's frame filters a scan of the whole export, so its
    input files overstate the table: the first write is routed by that
    bound, then folded (files moved, no row rewritten) to the count the
    written bytes need. The small type's table ends at one bucket and
    stays there; the large type's table keeps several."""
    from cumulus_etl_spark.sources.ndjson import read_lines

    export = tmp_path / "export"
    export.mkdir()
    (export / "Patient.ndjson").write_text("".join(
        json.dumps({"resourceType": "Patient", "id": f"p{i}"}) + "\n" for i in range(20)))
    (export / "Observation.ndjson").write_text("".join(
        json.dumps({"resourceType": "Observation", "id": f"o{i}", "note": "x" * 60}) + "\n"
        for i in range(3000)))

    def rows(rt):
        return read_lines(spark.read, str(export)).filter(F.col("_rt") == rt).select(
            F.get_json_object("raw_line", "$.id").alias("id"), "raw_line")

    pol = MergePolicy(last_updated_field=None)
    patient = ManagedTable(spark, str(tmp_path / "lake"), "patient")
    obs = ManagedTable(spark, str(tmp_path / "lake"), "observation")
    with _split_bytes(spark):
        assert merge_mod._input_bytes(rows("Patient")) > 8 * (32 << 10)  # the whole export
        patient.merge(rows("Patient"), pol)
        obs.merge(rows("Observation"), pol)
        assert _recorded_buckets(patient) == 1 and len(_bucket_inodes(patient)) == 1
        assert 1 < _recorded_buckets(obs) < 8
        patient.merge(rows("Patient").filter(F.col("id") == "p3"), pol)
        assert _recorded_buckets(patient) == 1 and len(_bucket_inodes(patient)) == 1
        # later merges stay bucket-pruned: the export's bytes never count again
        one_obs = rows("Observation").filter(F.col("id") == "o3")
        assert _rewritten_buckets(obs, lambda: obs.merge(one_obs, pol)) == 1
    assert sorted(r["id"] for r in patient.read().collect()) == sorted(f"p{i}" for i in range(20))
    assert obs.read().count() == 3000


def test_recorded_64_bucket_root_merges_pruned(spark, tmp_path):
    """A root whose pointer records 64 buckets (the fixed default of
    earlier releases) merges and deletes bucket-pruned at 64 under the
    derived sizing, which would pick 1 for it: the count never shrinks."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    base = spark.createDataFrame([(f"k{i}", "v0") for i in range(500)], "id string, val string")
    tbl._write_raw(base, ("id",), 64, sort_cols=("id",), touched=None, prev=None)
    assert _recorded_buckets(tbl) == 64
    pol = MergePolicy(last_updated_field=None)
    one = spark.createDataFrame([("k3", "v1")], "id string, val string")
    assert _rewritten_buckets(tbl, lambda: tbl.merge(one, pol)) == 1
    assert _rewritten_buckets(tbl, lambda: tbl.delete_ids(["k42"])) == 1
    assert _recorded_buckets(tbl) == 64
    got = {r["id"]: r["val"] for r in tbl.read().collect()}
    assert len(got) == 499 and got["k3"] == "v1" and "k42" not in got


def test_odd_recorded_count_is_never_a_fold_target(spark, tmp_path):
    """Only a divisor of the written count folds exactly. A recorded count
    that is not a power of two (earlier releases let a caller set any)
    leaves a re-layout at the power of two it was written at, so every
    row stays in the bucket a pruned delete looks in."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    base = spark.createDataFrame([(f"k{i}", f"g{i % 5}") for i in range(50)], "id string, val string")
    tbl._write_raw(base, ("val",), 12, sort_cols=("id",), touched=None, prev=None)
    pol = MergePolicy(last_updated_field=None)  # buckets on id now: a re-layout
    with _split_bytes(spark):
        # the batch scans ~470 KB (16 buckets' worth) to add one row
        batch = _on_disk(tmp_path, _hex_rows(spark, 5000, start=50)).filter(F.col("id") == "k60")
        tbl.merge(batch, pol)
        assert _recorded_buckets(tbl) == 16
        tbl.delete_ids([f"k{i}" for i in range(61)])
    assert tbl.read().count() == 0


def _parquet_columns(tbl):
    """Top-level columns of every data file of the current version."""
    import pyarrow.parquet as pq

    vdir = os.path.join(tbl.path, f"v{tbl.current_version()}")
    return {tuple(pq.read_schema(p).names)
            for p in glob.glob(os.path.join(vdir, "*", "*.parquet"))}


_CONTRACT = (
    "id string, val string, meta struct<lastUpdated: string>, note string, "
    "obj struct<x: string, y: string>"
)


def test_narrow_frames_store_their_columns_and_read_the_contract(spark, tmp_path):
    """A new table records the contract it is given as its schema and
    stores only the columns written; stored columns widen with a batch
    that adds one and never shrink; reads null-fill the rest."""
    from pyspark.sql.types import _parse_datatype_string

    contract = _parse_datatype_string(_CONTRACT)
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy()
    tbl.merge(make_df(spark, [("a", "1", "2021-01-01T00:00:00Z")]), pol, contract=contract)
    ptr = tbl._pointer()
    assert ptr["schema"] == contract.json() and ptr["stored"] == ["id", "val", "meta"]
    assert _parquet_columns(tbl) == {("id", "val", "meta")}
    assert tbl.read().schema == contract

    wider = spark.createDataFrame(
        [("b", "1", Row(lastUpdated=None), "n")],
        "id string, val string, meta struct<lastUpdated: string>, note string",
    )
    tbl.merge(wider, pol)
    assert tbl._pointer()["stored"] == ["id", "val", "meta", "note"]
    tbl.merge(make_df(spark, [("a", "2", "2021-02-01T00:00:00Z")]), pol, contract=contract)
    tbl.delete_ids(["zz"])
    assert tbl._pointer()["stored"] == ["id", "val", "meta", "note"]
    assert tbl._pointer()["schema"] == contract.json()
    got = {r["id"]: (r["val"], r["note"], r["obj"]) for r in tbl.read().collect()}
    assert got == {"a": ("2", None, None), "b": ("1", "n", None)}
    assert tbl.read().schema == contract


def test_new_table_reads_its_contract_on_both_backends(spark, tmp_path, backend):
    """A first merge of a narrow frame with a contract reads back with
    every contract column, the absent ones null."""
    from pyspark.sql.types import _parse_datatype_string

    contract = _parse_datatype_string(_CONTRACT)
    tbl = ManagedTable(spark, str(tmp_path), "t")
    tbl.merge(make_df(spark, [("a", "1", None)]), MergePolicy(), contract=contract)
    df = tbl.read()
    assert df.columns == contract.fieldNames()
    assert [tuple(r) for r in df.select("id", "note", "obj").collect()] == [("a", None, None)]


def test_update_nulls_the_columns_a_batch_lacks(spark, tmp_path, backend):
    """An update replaces the whole row: a column the batch does not
    carry reads null afterwards, on the table's first merge and on any
    later one (the Delta branch widens every batch to the target)."""
    from pyspark.sql.types import _parse_datatype_string

    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy()
    full = spark.createDataFrame(
        [("a", "1", Row(lastUpdated=None), "n", Row(x="x", y=None)),
         ("b", "1", Row(lastUpdated=None), "m", None)],
        _CONTRACT,
    )
    tbl.merge(full, pol, contract=_parse_datatype_string(_CONTRACT))
    tbl.merge(make_df(spark, [("a", "2", None)]), pol)
    got = {r["id"]: (r["val"], r["note"], r["obj"]) for r in tbl.read().collect()}
    assert got == {"a": ("2", None, None), "b": ("1", "m", None)}


def test_root_without_stored_record_merges_deletes_and_reads(spark, tmp_path):
    """A pointer written before the stored-column record (every column
    stored) merges a narrow batch, deletes and reads as before; its
    first write records every column as stored."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy()
    full = spark.createDataFrame(
        [("a", "1", Row(lastUpdated="2021-01-01T00:00:00Z"), "n", Row(x="x", y=None)),
         ("b", "1", None, None, None)],
        _CONTRACT,
    )
    tbl.merge(full, pol)
    ptr_path = os.path.join(tbl.path, "_CURRENT")
    ptr = tbl._pointer()
    with open(ptr_path, "w") as fh:
        json.dump({k: v for k, v in ptr.items() if k != "stored"}, fh)

    tbl.merge(make_df(spark, [("a", "2", "2021-02-01T00:00:00Z"), ("c", "1", None)]), pol)
    after = tbl._pointer()
    assert after["schema"] == ptr["schema"]
    assert after["stored"] == ["id", "val", "meta", "note", "obj"]
    tbl.delete_ids(["b"])
    got = {r["id"]: (r["val"], r["note"], r["obj"]) for r in tbl.read().collect()}
    assert got == {"a": ("2", None, None), "c": ("1", None, None)}


def test_one_bucket_merge_and_delete_skip_the_touched_bucket_job(spark, tmp_path, monkeypatch):
    """With one recorded bucket, merge and delete_ids know the touched
    bucket without a job, and the table reads the same."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy()
    tbl.merge(make_df(spark, [("a", "1", None), ("b", "1", None)]), pol)
    assert _recorded_buckets(tbl) == 1

    def no_job(*_a, **_k):
        raise AssertionError("touched-bucket job on a one-bucket table")

    monkeypatch.setattr(merge_mod, "_touched_buckets", no_job)
    tbl.merge(make_df(spark, [("a", "2", None), ("c", "1", None)]), pol)
    tbl.delete_ids(["b", "zz"])
    assert rows_of(tbl) == {"a": ("2", None), "c": ("1", None)}


def test_dedupe_last_wins_explicit_order(spark):
    df = spark.createDataFrame(
        [("a", "first", 1), ("a", "last", 2), ("b", "only", 1)],
        "id string, val string, ord int",
    )
    out = dedupe_last_wins(df, ["id"], "ord")
    got = {r["id"]: r["val"] for r in out.collect()}
    assert got == {"a": "last", "b": "only"}


def test_write_ndjson_batches_sidecar_and_nulls(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "g1", None), ("b", "g2", "x")], "id string, grp string, maybe string"
    )
    out = str(tmp_path / "out")
    write_ndjson_batches(df, out, batch_size=10, group_field="grp", deleted_ids=["z"])
    meta = read_meta(out)
    assert meta["groups"] == ["g1", "g2"]
    assert meta["deleted"] == ["z"]
    lines = []
    for f in glob.glob(os.path.join(out, "*.json")):
        with open(f) as fh:
            lines += [json.loads(line) for line in fh if line.strip()]
    by_id = {d["id"]: d for d in lines}
    assert "maybe" not in by_id["a"]  # sparse rows: nulls dropped
    assert by_id["b"]["maybe"] == "x"


def test_write_ndjson_batches_group_atomic_across_files(spark, tmp_path):
    """A group never straddles two batch files, even when batch_size
    would slice mid-group (ref batching.py:60-73 semantics)."""
    rows = [(f"r{g}-{i}", f"g{g}") for g in range(6) for i in range(5)]
    df = spark.createDataFrame(rows, "id string, grp string")
    out = str(tmp_path / "out")
    # batch_size=7 is deliberately not a multiple of the group size (5)
    write_ndjson_batches(df, out, batch_size=7, group_field="grp")
    group_to_files: dict[str, set[str]] = {}
    total = 0
    for f in glob.glob(os.path.join(out, "*.json")):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    total += 1
                    group_to_files.setdefault(json.loads(line)["grp"], set()).add(f)
    assert total == 30
    for grp, files in group_to_files.items():
        assert len(files) == 1, f"group {grp} split across {files}"


def test_time_travel_read(spark, tmp_path):
    """read(version=N) returns the pre-merge state until finalize GCs it,
    under the current contract: a column added later reads as null."""
    t = ManagedTable(spark, str(tmp_path), "tt")
    policy = MergePolicy(keys=("id",))
    t.merge(spark.createDataFrame([Row(id="a", val=1)]), policy)
    t.merge(spark.createDataFrame([Row(id="a", val=2, extra="x"), Row(id="b", val=3, extra="y")]),
            policy)

    assert t.versions() == [1, 2]
    past = t.read(version=1)
    assert past.schema == t.read().schema
    assert past.columns == ["id", "val", "extra"]
    v1 = {r["id"]: (r["val"], r["extra"]) for r in past.collect()}
    now = {r["id"]: r["val"] for r in t.read().collect()}
    assert v1 == {"a": (1, None)}
    assert now == {"a": 2, "b": 3}

    with pytest.raises(ValueError, match="not on disk"):
        t.read(version=99)

    t.finalize(keep_versions=1)
    assert t.versions() == [2]
    with pytest.raises(ValueError, match="not on disk"):
        t.read(version=1)


def test_zorder_clustered_write_roundtrip(spark, tmp_path):
    """A MergePolicy with zorder_cols writes Morton-clustered files on the
    parquet fallback; merge semantics and read-back are unchanged."""
    tbl = ManagedTable(spark, str(tmp_path), "events")
    pol = MergePolicy(keys=("id",), last_updated_field=None, zorder_cols=("x", "y"))
    df = spark.createDataFrame(
        [(str(i), i % 10, (i * 7) % 10) for i in range(100)],
        "id string, x int, y int",
    )
    tbl.merge(df, pol)
    assert tbl.read().count() == 100

    upd = spark.createDataFrame([("5", 99, 99)], "id string, x int, y int")
    tbl.merge(upd, pol)
    got = {r["id"]: (r["x"], r["y"]) for r in tbl.read().collect()}
    assert len(got) == 100 and got["5"] == (99, 99)


def test_change_data_feed_classifies_and_accumulates(spark, tmp_path):
    """Fallback CDF: inserts, update pre/post images, group deletes and
    id deletes all land in the per-version change feed."""
    from cumulus_etl_spark.sinks import ManagedTable, MergePolicy

    t = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    pol = MergePolicy(keys=("id",), group_field="grp", last_updated_field=None, change_feed=True)

    # v1: initial load -> all inserts
    t.merge(spark.createDataFrame(
        [("a", "g1", 1), ("b", "g1", 2), ("c", "g2", 3)], "id string, grp string, val int"
    ), pol)
    ch1 = t.read_changes(1, 1)
    assert {r["_change_type"] for r in ch1.collect()} == {"insert"}
    assert ch1.count() == 3

    # v2: update a (pre+post), insert d into g1, omit b from g1 -> b stale-deleted
    t.merge(spark.createDataFrame(
        [("a", "g1", 10), ("d", "g1", 4)], "id string, grp string, val int"
    ), pol)
    ch2 = {(r["id"], r["_change_type"]): r["val"] for r in t.read_changes(2, 2).collect()}
    assert ch2[("a", "update_preimage")] == 1
    assert ch2[("a", "update_postimage")] == 10
    assert ch2[("d", "insert")] == 4
    assert ("b", "delete") in {k for k in ch2}
    assert ("c", "delete") not in {k for k in ch2}  # g2 untouched

    # v3: delete by id with feed
    t.delete_ids(["c"], change_feed=True)
    ch3 = t.read_changes(3, 3).collect()
    assert len(ch3) == 1 and ch3[0]["id"] == "c" and ch3[0]["_change_type"] == "delete"

    # full-range read carries commit versions; table state is correct
    allch = t.read_changes()
    assert {r["_commit_version"] for r in allch.collect()} == {1, 2, 3}
    state = {(r["id"], r["val"]) for r in t.read().collect()}
    assert state == {("a", 10), ("d", 4)}


def test_incremental_rollup_tracks_recompute(spark, tmp_path):
    """The CDF-maintained rollup equals a from-scratch groupBy at every
    version — inserts, updates, group deletes, and id deletes included."""
    from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
    from cumulus_etl_spark.sinks.incremental_view import IncrementalRollup

    src = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    pol = MergePolicy(keys=("id",), group_field="grp", last_updated_field=None, change_feed=True)
    roll = IncrementalRollup(
        spark, src, str(tmp_path / "views"), "by_grp", ["grp"], "val"
    )

    def check():
        applied = roll.refresh()
        got = {
            (r["grp"], r["n_rows"], r["sum_value"]) for r in roll.read().collect()
        }
        want = {
            (r["grp"], r["n"], r["s"])
            for r in src.read()
            .groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum(F.col("val").cast("double")).alias("s"))
            .collect()
        }
        assert got == want, (got, want)
        return applied

    src.merge(spark.createDataFrame(
        [("a", "g1", 1), ("b", "g1", 2), ("c", "g2", 3)], "id string, grp string, val int"
    ), pol)
    assert check() == 1

    # update + insert + stale group delete, all in one commit
    src.merge(spark.createDataFrame(
        [("a", "g1", 10), ("d", "g1", 4)], "id string, grp string, val int"
    ), pol)
    # plus an id delete as its own commit
    src.delete_ids(["c"], change_feed=True)
    assert check() == 2  # both unapplied commits picked up in one refresh

    # no new commits -> no-op
    assert check() == 0


def test_incremental_rollup_crash_between_state_and_merge_reapplies(spark, tmp_path):
    """If a refresh dies after writing its state file but before the
    rollup merge commits, the next refresh re-applies the same deltas
    (no double-count, no silent drop)."""
    import json
    import os

    from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
    from cumulus_etl_spark.sinks.incremental_view import IncrementalRollup

    src = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    pol = MergePolicy(keys=("id",), group_field=None, last_updated_field=None, change_feed=True)
    src.merge(spark.createDataFrame(
        [("a", "g1", 1), ("b", "g2", 2)], "id string, grp string, val int"
    ), pol)
    roll = IncrementalRollup(
        spark, src, str(tmp_path / "views"), "by_grp", ["grp"], "val"
    )
    assert roll.refresh() == 1

    src.merge(spark.createDataFrame([("c", "g1", 5)], "id string, grp string, val int"), pol)
    # Simulate the crash: state written for version 2 with a pending
    # rollup version that never committed.
    state_path = roll._state_path
    with open(state_path, "w") as fh:
        json.dump({"version": 2, "prev_version": 1,
                   "pending_rollup_version": (roll.table.current_version() or 0) + 1}, fh)
    assert roll.applied_version() == 1  # rolled back to prev

    assert roll.refresh() == 1  # re-applies version 2 exactly once
    got = {(r["grp"], r["n_rows"], r["sum_value"]) for r in roll.read().collect()}
    assert got == {("g1", 2, 6.0), ("g2", 1, 2.0)}
    # a third refresh is a no-op
    assert roll.refresh() == 0


def test_delete_ids_inherits_change_feed_from_table(spark, tmp_path):
    """A feed-maintained table never commits a silent CDF hole: delete_ids
    without an explicit flag emits delete changes because the pointer
    records change_feed=True; an explicit False still opts out."""
    from cumulus_etl_spark.sinks import ManagedTable, MergePolicy

    t = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    pol = MergePolicy(keys=("id",), last_updated_field=None, change_feed=True)
    t.merge(spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "id string, val int"
    ), pol)

    t.delete_ids(["b"])  # no flag -> inherited from the table pointer
    ch = t.read_changes(2, 2).collect()
    assert len(ch) == 1 and ch[0]["id"] == "b" and ch[0]["_change_type"] == "delete"

    t.delete_ids(["c"], change_feed=False)  # explicit opt-out respected
    assert 3 not in t.change_versions()
    assert {r["id"] for r in t.read().collect()} == {"a"}


# ---------------------------------------------------------------------------
# Reference Delta behavior matrix (VERDICT r3 item 5): each case mirrors a
# test from ref tests/formats/test_deltalake.py (line cites per case), run
# over BOTH backends so reference MERGE semantics stay pinned even though
# delta-spark can't run here.
# ---------------------------------------------------------------------------


def _kv_rows(tbl):
    return {r["id"]: r["value"] for r in tbl.read().collect()}


def test_reference_delta_matrix_creates_if_empty(spark, tmp_path, backend):
    """ref test_deltalake.py:83 — lake is created when empty."""
    t = ManagedTable(spark, str(tmp_path), "patient")
    assert t.read() is None
    t.merge(spark.createDataFrame([("a", 1)], "id string, value long"),
            MergePolicy(keys=("id",), last_updated_field=None))
    assert _kv_rows(t) == {"a": 1}


def test_reference_delta_matrix_upsert(spark, tmp_path, backend):
    """ref test_deltalake.py:92 — update and insert in one batch."""
    t = ManagedTable(spark, str(tmp_path), "patient")
    pol = MergePolicy(keys=("id",), last_updated_field=None)
    t.merge(spark.createDataFrame([("a", 1), ("b", 2)], "id string, value long"), pol)
    t.merge(spark.createDataFrame([("b", 20), ("c", 3)], "id string, value long"), pol)
    assert _kv_rows(t) == {"a": 1, "b": 20, "c": 3}


def test_reference_delta_matrix_added_and_missing_struct_fields(spark, tmp_path, backend):
    """ref test_deltalake.py:98 + :181 — a later batch may ADD fields to a
    struct (old rows read them as null) or OMIT fields (nulls on the new
    rows); neither errors (delta mergeSchema parity)."""
    t = ManagedTable(spark, str(tmp_path), "patient")
    pol = MergePolicy(keys=("id",), last_updated_field=None)
    t.merge(spark.createDataFrame([Row(id="a", value=Row(one=1))],
                                  "id string, value struct<one: long>"), pol)
    t.merge(spark.createDataFrame([Row(id="b", value=Row(one=1, two=2))],
                                  "id string, value struct<one: long, two: long>"), pol)
    got = {r["id"]: r["value"].asDict() for r in t.read().collect()}
    assert got["a"] == {"one": 1, "two": None}
    assert got["b"] == {"one": 1, "two": 2}
    # missing_field direction: narrower batch into wider table
    t.merge(spark.createDataFrame([Row(id="c", value=Row(one=5))],
                                  "id string, value struct<one: long>"), pol)
    got = {r["id"]: r["value"].asDict() for r in t.read().collect()}
    assert got["c"] == {"one": 5, "two": None}


def test_reference_delta_matrix_last_updated(spark, tmp_path, backend):
    """ref test_deltalake.py:108-180 — the freshness guard handles UTC
    offsets, partial dates, and missing meta/lastUpdated exactly like the
    reference: update wins unless the stored row is STRICTLY newer."""
    past = "2000-01-01T01:00:00.000-00:00"
    past_off = "2000-01-01T04:00:00.000+03:00"   # lexically later, temporally past
    now = "2000-01-01T02:00:00.000Z"
    now_nozed = "2000-01-01T02:00:00.000-00:00"  # lexically earlier, temporally equal
    future = "2000-01-01T03:00:00.000-00:00"
    future_off = "2000-01-01T00:00:00.000-03:00"  # lexically earlier, temporally future
    t = ManagedTable(spark, str(tmp_path), "patient")
    pol = MergePolicy(keys=("id",))  # default last_updated_field=meta.lastUpdated
    schema = "id string, value long, meta struct<lastUpdated: string>"

    def df(rows):
        return spark.createDataFrame(
            [Row(id=i, value=v, meta=Row(lastUpdated=ts) if ts is not _UNSET else None)
             for i, v, ts in rows], schema)

    t.merge(df([
        ("past", 1, past), ("past-with-offset", 1, past_off), ("now", 1, now),
        ("now-without-zed", 1, now_nozed), ("future", 1, future),
        ("future-with-offset", 1, future_off), ("future-partial", 1, "3000-01-01"),
        ("missing-date-table", 1, None), ("missing-date-update", 1, future),
        ("missing-date-both", 1, None), ("missing-meta-table", 1, _UNSET),
        ("missing-meta-update", 1, future), ("missing-meta-both", 1, _UNSET),
        ("unmatched-table", 1, _UNSET),
    ]), pol)
    t.merge(df([
        ("past", 2, now), ("past-with-offset", 2, now), ("now", 2, now),
        ("now-without-zed", 2, now), ("future", 2, now),
        ("future-with-offset", 2, now), ("future-partial", 2, now),
        ("missing-date-table", 2, now), ("missing-date-update", 2, None),
        ("missing-date-both", 2, None), ("missing-meta-table", 2, now),
        ("missing-meta-update", 2, _UNSET), ("missing-meta-both", 2, _UNSET),
        ("unmatched-update", 2, _UNSET),
    ]), pol)
    got = _kv_rows(t)
    assert got == {
        "past": 2, "past-with-offset": 2, "now": 2, "now-without-zed": 2,
        "future": 1, "future-with-offset": 1, "future-partial": 1,
        "missing-date-table": 2, "missing-date-update": 2, "missing-date-both": 2,
        "missing-meta-table": 2, "missing-meta-update": 2, "missing-meta-both": 2,
        "unmatched-table": 1, "unmatched-update": 2,
    }


def test_reference_delta_matrix_group_field(spark, tmp_path, backend):
    """ref test_deltalake.py:321 — group replacement: stale members of
    touched groups delete, zero-member groups delete wholesale, untouched
    groups survive, and a quote inside a group value is handled."""
    t = ManagedTable(spark, str(tmp_path), "patient")
    pol = MergePolicy(keys=("id",), group_field="grp", last_updated_field=None)
    schema = "id string, grp string, val long"
    t.merge(spark.createDataFrame(
        [("aa", "A", 5), ("ab", "A", 10), ("b", "B", 1), ("c", "C", 2)], schema), pol)
    assert {r["id"] for r in t.read().collect()} == {"aa", "ab", "b", "c"}

    # Batch touches A (replacement) and D" (new); C has zero members in
    # the batch. The reference deletes C via its groups= argument; our
    # API takes the batch itself as the group universe, so C must be
    # emptied with an explicit empty-group member-less replacement —
    # delete_ids on its remaining members mirrors the observable result.
    t.merge(spark.createDataFrame(
        [("ab", "A", 11), ("ac", "A", 16), ("d", 'D"', 3)], schema), pol)
    t.delete_ids(["c"])
    got = {r["id"]: (r["grp"], r["val"]) for r in t.read().collect()}
    assert got == {"ab": ("A", 11), "ac": ("A", 16), "b": ("B", 1), "d": ('D"', 3)}
    assert "aa" not in got  # stale A member deleted


def test_reference_delta_matrix_custom_uniqueness(spark, tmp_path, backend):
    """ref test_deltalake.py:375 — composite uniqueness keys."""
    t = ManagedTable(spark, str(tmp_path), "patient")
    pol = MergePolicy(keys=("F1", "F2"), last_updated_field=None)
    schema = "F1 long, F2 long, msg string"
    t.merge(spark.createDataFrame(
        [(1, 2, "original value"), (1, 9, "same F1"), (9, 2, "same F2")], schema), pol)
    t.merge(spark.createDataFrame([(1, 2, "new")], schema), pol)
    got = {(r["F1"], r["F2"]): r["msg"] for r in t.read().collect()}
    assert got == {(1, 2): "new", (1, 9): "same F1", (9, 2): "same F2"}


def test_reference_delta_matrix_update_existing_false(spark, tmp_path, backend):
    """ref test_deltalake.py:395 — insert-only mode never clobbers."""
    t = ManagedTable(spark, str(tmp_path), "patient")
    pol = MergePolicy(keys=("id",), last_updated_field=None)
    t.merge(spark.createDataFrame([("a", 1), ("b", 2)], "id string, value long"), pol)
    pol_ins = MergePolicy(keys=("id",), last_updated_field=None, update_existing=False)
    t.merge(spark.createDataFrame([("a", 999), ("c", 3)], "id string, value long"), pol_ins)
    assert _kv_rows(t) == {"a": 1, "b": 2, "c": 3}


def test_reference_delta_matrix_delete_records(spark, tmp_path, backend):
    """ref test_deltalake.py:481,515 — delete by id, including a large id
    list (the reference batches 50k ids to protect its driver; the
    anti-join needs no chunking)."""
    t = ManagedTable(spark, str(tmp_path), "patient")
    pol = MergePolicy(keys=("id",), last_updated_field=None)
    ids = [f"id{i}" for i in range(300)]
    t.merge(spark.createDataFrame([(i, 1) for i in ids], "id string, value long"), pol)
    t.delete_ids(ids[:250])
    assert {r["id"] for r in t.read().collect()} == set(ids[250:])
    # deleting unknown ids is a no-op, not an error (ref :492)
    t.delete_ids(["nope"])
    assert t.read().count() == 50


def test_merge_upsert_throughput_rig_accounting(spark):
    """The bench-only merge rig (plans/sink_rigs.py) must exercise the
    full insert/update/delete lifecycle with reconciling counts, and
    clean its tmp table up."""
    import glob

    from cumulus_etl_spark.plans.catalog import BENCH_RIGS

    before = set(glob.glob("/tmp/merge_bench_*"))
    row = BENCH_RIGS["merge_upsert_throughput"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    # base +1% inserts -1% deletes => final == base; 1% rows updated
    assert row["n_final"] == row["n_base"]
    assert row["n_updated"] == row["n_inserted"] > 0
    assert set(glob.glob("/tmp/merge_bench_*")) == before  # tmp cleaned


# ---- change feed: staged publish, crash fuzz, retention, rollup guards -----


def _mk(spark, tmp_path, feed=True):
    t = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    pol = MergePolicy(keys=("id",), last_updated_field=None, change_feed=feed)
    t.merge(spark.createDataFrame(
        [("a", 1), ("b", 2)], "id string, val int"
    ), pol)
    return t, pol


def test_retention_larger_than_feed_drops_nothing(spark, tmp_path):
    """keep_changes > len(feed) promised to keep everything; the
    unclamped feed[:len(feed)-N] negative slice instead deleted the
    OLDEST entries (advice r4 high)."""
    t, pol = _mk(spark, tmp_path)
    for v in ("c", "d"):
        t.merge(spark.createDataFrame([(v, 1)], "id string, val int"), pol)
    assert t.change_versions() == [1, 2, 3]
    t.finalize(keep_changes=4)  # > feed length: nothing may be dropped
    assert t.change_versions() == [1, 2, 3]
    t.finalize(keep_changes=3)  # == feed length: still nothing
    assert t.change_versions() == [1, 2, 3]
    t.finalize(keep_changes=2)  # < feed length: oldest goes
    assert t.change_versions() == [2, 3]


def test_rebuild_pins_version_before_scan(spark, tmp_path, monkeypatch):
    """rebuild() must capture current_version() FIRST and scan that
    pinned snapshot; a merge committing between a floating read() and a
    later version read makes the state claim rows the rollup lacks
    (advice r4 medium). Simulated: a concurrent merge fires inside the
    source scan — the state must still point at the pre-merge version so
    refresh() picks the concurrent commit up afterwards."""
    t, pol = _mk(spark, tmp_path)
    roll = IncrementalRollup(spark, t, str(tmp_path / "views"), "by_id", ["id"], "val")

    seen_versions = []
    real_read = ManagedTable.read

    def racing_read(self, version=None):
        if self is t:
            seen_versions.append(version)
            if len(seen_versions) == 1:
                # concurrent writer lands v2 mid-rebuild
                t.merge(spark.createDataFrame(
                    [("c", 30)], "id string, val int"), pol)
        return real_read(self, version=version)

    monkeypatch.setattr(ManagedTable, "read", racing_read)
    assert roll.rebuild() == 1          # reflects the PRE-merge version
    assert seen_versions[0] == 1        # and scanned that pinned snapshot
    monkeypatch.setattr(ManagedTable, "read", real_read)

    got = {(r["id"], r["sum_value"]) for r in roll.read().collect()}
    assert got == {("a", 1.0), ("b", 2.0)}  # v2 not yet applied, not lost
    assert roll.refresh() == 1              # the racing commit arrives now
    got = {(r["id"], r["sum_value"]) for r in roll.read().collect()}
    assert got == {("a", 1.0), ("b", 2.0), ("c", 30.0)}


def test_rebuild_raises_on_delta_source(spark, tmp_path, monkeypatch):
    """rebuild() needs the same native-Delta guard as refresh(): the
    fallback state handshake is meaningless against Delta commit
    numbering (advice r4 low)."""
    t, pol = _mk(spark, tmp_path)
    roll = IncrementalRollup(spark, t, str(tmp_path / "views"), "by_id", ["id"], "val")
    monkeypatch.setattr(ManagedTable, "_is_delta", lambda self: True)
    with pytest.raises(NotImplementedError, match="rebuild over a native Delta"):
        roll.rebuild()


def test_publish_race_loser_treats_done_as_success(spark, tmp_path, monkeypatch):
    """Two processes (stream reader + table writer) sweeping the same
    staged version: the loser's os.replace hits FileNotFoundError after
    the winner moved the dir — that is success, not a crash
    (advice r4 low)."""
    t, pol = _mk(spark, tmp_path)
    t.merge(spark.createDataFrame([("c", 3)], "id string, val int"), pol)
    # re-stage v2 so a publish is pending
    os.makedirs(os.path.dirname(t._staging_dir(2)), exist_ok=True)
    os.replace(t._changes_dir(2), t._staging_dir(2))

    real_replace = os.replace
    src = t._staging_dir(2)

    def winner_intervenes(a, b, *args, **kw):
        if a == src:
            # the other process completes the identical publish first
            real_replace(a, b)
            raise FileNotFoundError(a)
        return real_replace(a, b, *args, **kw)

    monkeypatch.setattr(merge_mod.os, "replace", winner_intervenes)
    t._publish_changes(2)  # must not raise
    monkeypatch.setattr(merge_mod.os, "replace", real_replace)
    assert t.change_versions() == [1, 2]
    assert {r["id"] for r in t.read_changes(2, 2).collect()} == {"c"}


def test_changes_dir_holds_only_committed_versions(spark, tmp_path):
    """Staged-publish protocol: changes/ never contains an uncommitted
    version, and staging is drained after every merge."""
    t, pol = _mk(spark, tmp_path)
    t.merge(spark.createDataFrame([("c", 3)], "id string, val int"), pol)

    changes_root = os.path.join(t.path, "changes")
    published = sorted(os.listdir(changes_root))
    assert published == ["v1", "v2"]
    staging = os.path.join(t.path, ".changes_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []


def test_crashed_merge_stage_is_invisible_then_dropped(spark, tmp_path):
    """A merge that died after staging but before the pointer flip leaves
    nothing under changes/ (no phantom stream delivery). READ paths must
    NOT touch the stage — the same v > cur state is what a concurrent
    in-flight merge looks like (code-review r4 finding); only the next
    WRITER drops/overwrites it before reusing the version number."""
    t, pol = _mk(spark, tmp_path)
    # Simulate the crash: stage version cur+1 and never flip the pointer.
    orphan = spark.createDataFrame([("zzz", 99)], "id string, val int").withColumn(
        "_change_type", F.lit("insert")
    )
    t._write_changes((t.current_version() or 0) + 1, orphan)

    assert sorted(os.listdir(os.path.join(t.path, "changes"))) == ["v1"]
    assert t.change_versions() == [1]  # feed shows committed versions only
    assert os.path.isdir(t._staging_dir(2))  # reader left the stage alone

    # The reused version number publishes the REAL commit's rows only.
    t.merge(spark.createDataFrame([("c", 3)], "id string, val int"), pol)
    ch2 = t.read_changes(2, 2).collect()
    assert {r["id"] for r in ch2} == {"c"}
    assert not os.path.isdir(t._staging_dir(2))  # writer drained it


def test_crash_between_flip_and_publish_is_completed_lazily(spark, tmp_path):
    """Commit happened but the publish rename didn't: the next feed access
    completes it, delivering the version exactly once."""
    t, pol = _mk(spark, tmp_path)
    t.merge(spark.createDataFrame([("c", 3)], "id string, val int"), pol)
    # Simulate: un-publish v2 back into the staging dir.
    os.makedirs(os.path.dirname(t._staging_dir(2)), exist_ok=True)
    os.replace(t._changes_dir(2), t._staging_dir(2))
    assert sorted(os.listdir(os.path.join(t.path, "changes"))) == ["v1"]

    assert t.change_versions() == [1, 2]  # recovery ran
    assert os.path.isdir(t._changes_dir(2))
    assert not os.path.isdir(t._staging_dir(2))
    assert {r["id"] for r in t.read_changes(2, 2).collect()} == {"c"}


def test_stream_changes_never_sees_staged_rows(spark, tmp_path):
    """The streaming tail of changes/ only ever receives committed rows,
    even with an orphan stage present."""
    from cumulus_etl_spark.streaming import stream_changes

    t, pol = _mk(spark, tmp_path)
    orphan = spark.createDataFrame([("phantom", 0)], "id string, val int").withColumn(
        "_change_type", F.lit("insert")
    )
    t._write_changes(99, orphan)

    out_dir = str(tmp_path / "out")
    (
        stream_changes(spark, t)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out_dir)
    assert {r["id"] for r in got.collect()} == {"a", "b"}
    assert {r["_commit_version"] for r in got.collect()} == {1}


def test_incremental_rollup_raises_on_delta_source(spark, tmp_path, monkeypatch):
    """ADVICE r3: the fallback state handshake doesn't exist on Delta —
    refresh must fail loudly instead of silently applying nothing."""

    monkeypatch.setattr(merge_mod, "DeltaTable", FakeDeltaTable)
    monkeypatch.setattr(merge_mod, "HAVE_DELTA", True)
    monkeypatch.setattr(merge_mod.ManagedTable, "_delta_write_initial", _fake_delta_initial)

    src = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    src.merge(spark.createDataFrame([("a", "g1", 1)], "id string, grp string, val int"),
              MergePolicy(keys=("id",), last_updated_field=None))
    roll = IncrementalRollup(
        spark, src, str(tmp_path / "views"), "by_grp", ["grp"], "val"
    )
    with pytest.raises(NotImplementedError, match="readChangeFeed"):
        roll.refresh()


@pytest.mark.parametrize("seed", [7, 11, 23])
def test_cdf_crash_fuzz_feed_matches_model(spark, tmp_path, seed):
    """Randomized crash-injection fuzz of the staged-publish protocol:
    interleave committed merges with simulated crashes (stage-only, or
    flip-without-publish via manual un-publish) and reader sweeps; the
    published feed must always equal exactly the committed model — every
    committed version present (possibly after lazy recovery), no phantom
    versions, no duplicate deliveries. Three seeds × 16 steps so the
    non-bootstrap crash_publish path and 'reader leaves an orphan alone'
    interleavings are all actually hit (code-review r4b finding): the
    coverage assertions at the bottom fail if a seed change ever stops
    exercising them."""
    import random

    rng = random.Random(seed)
    t = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    pol = MergePolicy(keys=("id",), last_updated_field=None, change_feed=True)
    committed: dict[int, set[str]] = {}  # version -> expected changed ids
    next_id = 0
    hit = {"crash_publish_incremental": False, "orphan_survives_read": False}

    def batch(n):
        nonlocal next_id
        ids = [f"k{next_id + i}" for i in range(n)]
        next_id += n
        return ids, spark.createDataFrame([(i, 1) for i in ids], "id string, val int")

    def published_versions():
        pub_root = os.path.join(t.path, "changes")
        if not os.path.isdir(pub_root):
            return set()
        return {int(e[1:]) for e in os.listdir(pub_root) if e.startswith("v")}

    orphan_staged = False
    for step in range(16):
        action = rng.choice(["merge", "crash_stage", "crash_publish", "read"])
        if action == "merge":
            ids, df = batch(rng.randint(1, 3))
            t.merge(df, pol)
            committed[t.current_version()] = set(ids)
            orphan_staged = False  # writer drained/overwrote any orphan
        elif action == "crash_stage":
            # died after staging, before the flip: stage an orphan
            _, df = batch(1)
            t._write_changes((t.current_version() or 0) + 1,
                             df.withColumn("_change_type", F.lit("insert")))
            orphan_staged = True
        elif action == "crash_publish":
            # died between flip and publish: commit, then un-publish
            if t.current_version():
                hit["crash_publish_incremental"] = True
            ids, df = batch(rng.randint(1, 2))
            t.merge(df, pol)
            v = t.current_version()
            committed[v] = set(ids)
            if os.path.isdir(t._changes_dir(v)):
                os.makedirs(os.path.dirname(t._staging_dir(v)), exist_ok=True)
                os.replace(t._changes_dir(v), t._staging_dir(v))
            orphan_staged = False
        else:
            t.change_versions()  # reader sweep (publish-only)
            if orphan_staged:
                # reader must have left the orphan stage alone
                assert os.path.isdir(t._staging_dir((t.current_version() or 0) + 1))
                hit["orphan_survives_read"] = True

        # Invariants after EVERY step: published ⊆ committed, and every
        # version already published carries exactly its committed ids —
        # so a corrupt publish is caught at the step that made it.
        published = published_versions()
        assert published <= set(committed), (step, published, committed)
        for v in published:
            got = {r["id"] for r in t.read_changes(v, v).collect()}
            assert got == committed[v], (step, v, got, committed[v])

    # Final recovery: one reader access publishes everything committed.
    assert t.change_versions() == sorted(committed)
    for v, ids in committed.items():
        got = {r["id"] for r in t.read_changes(v, v).collect()}
        assert got == ids, (v, got, ids)
    # Coverage pins: seed 11's sequence exercises BOTH the non-bootstrap
    # flip-without-publish crash and the orphan-survives-reader path
    # (verified by simulating the RNG); if the strategy list or step
    # count ever changes and stops hitting them, this fails loudly.
    if seed == 11:
        assert hit["crash_publish_incremental"] and hit["orphan_survives_read"]


def test_finalize_change_feed_retention(spark, tmp_path):
    """finalize(keep_changes=N) truncates the feed to the last N
    committed versions — the unbounded-feed-growth fix — and completes
    any pending publish first so a committed version is never GC'd
    while still staged."""
    t, pol = _mk(spark, tmp_path)
    for v in ("c", "d", "e"):
        t.merge(spark.createDataFrame([(v, 1)], "id string, val int"), pol)
    assert t.change_versions() == [1, 2, 3, 4]

    # un-publish the newest version to simulate a pending publish
    os.makedirs(os.path.dirname(t._staging_dir(4)), exist_ok=True)
    os.replace(t._changes_dir(4), t._staging_dir(4))

    t.finalize(keep_versions=1, keep_changes=2)
    assert t.change_versions() == [3, 4]  # pending v4 published, old GC'd
    assert {r["id"] for r in t.read_changes(4, 4).collect()} == {"e"}
    # keep_changes=None (default) leaves the feed alone
    t.merge(spark.createDataFrame([("f", 1)], "id string, val int"), pol)
    t.finalize()
    assert t.change_versions() == [3, 4, 5]


def test_rollup_detects_truncated_feed(spark, tmp_path):
    """A rollup behind the retention horizon must fail loudly, not
    silently skip GC'd versions."""
    t, pol = _mk(spark, tmp_path)
    roll = IncrementalRollup(spark, t, str(tmp_path / "views"), "by_id", ["id"], "val")
    assert roll.refresh() == 1

    for v in ("c", "d", "e"):
        t.merge(spark.createDataFrame([(v, 1)], "id string, val int"), pol)
    t.finalize(keep_changes=1)  # GC v2..v3; rollup applied only v1
    with pytest.raises(ValueError, match=r"hole in \(1, 4\]"):
        roll.refresh()


def test_rollup_detects_feedless_version(spark, tmp_path):
    """delete_ids(change_feed=False) on a feed table commits a version
    with no feed entry — refresh must flag the divergence."""
    t, pol = _mk(spark, tmp_path)
    roll = IncrementalRollup(spark, t, str(tmp_path / "views"), "by_id", ["id"], "val")
    assert roll.refresh() == 1
    t.delete_ids(["a"], change_feed=False)
    with pytest.raises(ValueError, match=r"hole in \(1, 2\]"):
        roll.refresh()


def test_rollup_detects_middle_hole_and_rebuilds(spark, tmp_path):
    """A feedless commit in the MIDDLE of the unapplied range must also
    raise (code-review r4c finding), and rebuild() recovers: full-scan
    recompute, stale groups zeroed, refresh usable again."""
    t, pol = _mk(spark, tmp_path)
    roll = IncrementalRollup(spark, t, str(tmp_path / "views"), "by_id", ["id"], "val")
    assert roll.refresh() == 1
    t.merge(spark.createDataFrame([("c", 3)], "id string, val int"), pol)  # v2 feed
    t.delete_ids(["a"], change_feed=False)                                 # v3 NO feed
    t.merge(spark.createDataFrame([("d", 4)], "id string, val int"), pol)  # v4 feed
    with pytest.raises(ValueError, match=r"hole in \(1, 4\]"):
        roll.refresh()

    assert roll.rebuild() == 4
    got = {(r["id"], r["n_rows"], r["sum_value"]) for r in roll.read().collect()}
    want = {(r["id"], 1, float(r["val"])) for r in t.read().collect()}
    assert got == want
    assert ("a", 1, 1.0) not in got  # deleted id zeroed out
    assert roll.refresh() == 0  # caught up; future refreshes work

    t.merge(spark.createDataFrame([("e", 5)], "id string, val int"), pol)
    assert roll.refresh() == 1


def test_feed_retention_counts_feed_entries_not_versions(spark, tmp_path):
    """keep_changes counts committed FEED ENTRIES: feedless commits at
    the top of the version range must not shrink (or wipe) the kept
    window (code-review r4c finding)."""
    t, pol = _mk(spark, tmp_path)
    for v in ("c", "d"):
        t.merge(spark.createDataFrame([(v, 1)], "id string, val int"), pol)
    # two feedless commits on top
    t.delete_ids(["c"], change_feed=False)
    t.delete_ids(["d"], change_feed=False)
    assert t.change_versions() == [1, 2, 3]
    t.finalize(keep_changes=2)
    assert t.change_versions() == [2, 3]  # last 2 FEED entries survive
