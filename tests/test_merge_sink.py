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

import functools
import glob
import json
import os

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
            parts.append(joined.filter(c).select("u.*"))
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


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale property: a small batch into a big table re-links every
    untouched bucket (same inode — no data copied) and only rewrites the
    buckets the batch hashes into."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(last_updated_field=None, num_buckets=16)
    base = spark.createDataFrame([(f"k{i}", "v0") for i in range(200)], "id string, val string")
    tbl.merge(base, pol)
    v1 = tbl.path + "/v1"
    inode_before = {
        d: {f: os.stat(os.path.join(v1, d, f)).st_ino for f in os.listdir(os.path.join(v1, d))}
        for d in os.listdir(v1) if d.startswith("__bucket=")
    }
    tbl.merge(spark.createDataFrame([("k3", "v1")], "id string, val string"), pol)
    v2 = tbl.path + "/v2"
    dirs2 = [d for d in os.listdir(v2) if d.startswith("__bucket=")]
    assert set(dirs2) == set(inode_before)  # all buckets present in v2
    relinked = rewritten = 0
    for d in dirs2:
        files = {f: os.stat(os.path.join(v2, d, f)).st_ino for f in os.listdir(os.path.join(v2, d))}
        if files == inode_before[d]:
            relinked += 1
        else:
            rewritten += 1
    assert rewritten == 1  # exactly the one touched bucket
    assert relinked == len(dirs2) - 1
    # and the data is still right
    got = {r["id"]: r["val"] for r in tbl.read().collect()}
    assert got["k3"] == "v1" and got["k7"] == "v0" and len(got) == 200


def test_merge_reads_prune_partitions(spark, tmp_path):
    """The pruned scan must carry a PartitionFilters entry on __bucket —
    i.e. the merge never lists untouched buckets' files."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(last_updated_field=None, num_buckets=16)
    tbl.merge(spark.createDataFrame([(f"k{i}", "x") for i in range(50)], "id string, val string"), pol)
    pruned = tbl._read_version(tbl._pointer(), buckets=[3])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan


def test_group_bucketing_replacement_across_buckets(spark, tmp_path):
    """Group replacement with MANY groups: rows bucket by group, so a
    re-run of one group finds all its stale rows without touching other
    groups' buckets."""
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(keys=("id",), group_field="grp", last_updated_field=None, num_buckets=8)
    df1 = spark.createDataFrame(
        [(f"r{g}_{i}", f"g{g}", "x") for g in range(20) for i in range(3)],
        "id string, grp string, val string",
    )
    tbl.merge(df1, pol)
    # re-run group g5 with 2 rows where 3 existed
    df2 = spark.createDataFrame(
        [("r5_0", "g5", "y"), ("r5_1", "g5", "y")], "id string, grp string, val string"
    )
    tbl.merge(df2, pol)
    got = {r["id"]: r["val"] for r in tbl.read().collect()}
    assert got["r5_0"] == "y" and got["r5_1"] == "y"
    assert "r5_2" not in got  # stale row of the re-run group dropped
    assert sum(1 for k in got if k.startswith("r7_")) == 3  # other groups intact
    assert len(got) == 20 * 3 - 1


def test_delete_ids_bucket_pruned(spark, tmp_path):
    tbl = ManagedTable(spark, str(tmp_path), "t")
    pol = MergePolicy(last_updated_field=None, num_buckets=16)
    tbl.merge(spark.createDataFrame([(f"k{i}", "x") for i in range(100)], "id string, val string"), pol)
    v1_inodes = {}
    v1 = tbl.path + "/v1"
    for d in os.listdir(v1):
        if d.startswith("__bucket="):
            v1_inodes[d] = {f: os.stat(os.path.join(v1, d, f)).st_ino
                            for f in os.listdir(os.path.join(v1, d))}
    tbl.delete_ids(["k42"])
    assert "k42" not in {r["id"] for r in tbl.read().collect()}
    assert tbl.read().count() == 99
    v2 = tbl.path + "/v2"
    changed = [d for d in os.listdir(v2) if d.startswith("__bucket=")
               and {f: os.stat(os.path.join(v2, d, f)).st_ino
                    for f in os.listdir(os.path.join(v2, d))} != v1_inodes.get(d)]
    assert len(changed) == 1  # only k42's bucket rewritten


def test_bucket_relayout_on_policy_change(spark, tmp_path):
    tbl = ManagedTable(spark, str(tmp_path), "t")
    tbl.merge(make_df(spark, [("a", "1", None), ("b", "1", None)]), MergePolicy(num_buckets=4))
    # same table merged under a different bucket count: full re-layout, data intact
    tbl.merge(make_df(spark, [("a", "2", None), ("c", "1", None)]), MergePolicy(num_buckets=16))
    got = rows_of(tbl)
    assert got["a"][0] == "2" and got["b"][0] == "1" and got["c"][0] == "1"
    with open(os.path.join(tbl.path, "_CURRENT")) as fh:
        assert json.load(fh)["num_buckets"] == 16


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
    """read(version=N) returns the pre-merge state until finalize GCs it."""
    t = ManagedTable(spark, str(tmp_path), "tt")
    policy = MergePolicy(keys=("id",))
    t.merge(spark.createDataFrame([Row(id="a", val=1)]), policy)
    t.merge(spark.createDataFrame([Row(id="a", val=2), Row(id="b", val=3)]), policy)

    assert t.versions() == [1, 2]
    v1 = {r["id"]: r["val"] for r in t.read(version=1).collect()}
    now = {r["id"]: r["val"] for r in t.read().collect()}
    assert v1 == {"a": 1}
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
    pol = MergePolicy(
        keys=("id",), last_updated_field=None, zorder_cols=("x", "y"), num_buckets=2
    )
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
    pol = MergePolicy(keys=("id",), group_field="grp",
                      last_updated_field=None, num_buckets=4, change_feed=True)

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
    pol = MergePolicy(keys=("id",), group_field="grp",
                      last_updated_field=None, num_buckets=4, change_feed=True)
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
    pol = MergePolicy(keys=("id",), group_field=None,
                      last_updated_field=None, num_buckets=4, change_feed=True)
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
    pol = MergePolicy(keys=("id",), last_updated_field=None,
                      num_buckets=4, change_feed=True)
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
    pol = MergePolicy(keys=("id",), group_field="grp", last_updated_field=None,
                      num_buckets=4)
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
    pol = MergePolicy(keys=("F1", "F2"), last_updated_field=None, num_buckets=4)
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


# ---- change-feed retention, rollup rebuild, publish race -------------------


def _mk(spark, tmp_path, feed=True):
    t = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    pol = MergePolicy(keys=("id",), last_updated_field=None,
                      num_buckets=4, change_feed=feed)
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
