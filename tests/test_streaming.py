"""Streaming incremental mode tests (SURVEY §2.10)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from cumulus_etl_spark.sinks import ManagedTable
from cumulus_etl_spark.streaming import incremental_etl, windowed_event_counts
from tests.fhir_fixtures import write_ndjson


def test_incremental_etl_checkpoint_resume(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    phi = str(tmp_path / "phi")
    ckpt = str(tmp_path / "ckpt")

    write_ndjson(input_dir, "batch1.ndjson", [
        {"resourceType": "Patient", "id": "a", "gender": "female"},
        {"resourceType": "Patient", "id": "b", "gender": "male"},
    ])
    incremental_etl(spark, input_dir, out, phi, "Patient", ckpt)
    tbl = ManagedTable(spark, out, "patient")
    assert tbl.read().count() == 2
    v_after_first = tbl.current_version()

    # second run with NO new files: checkpoint makes it a no-op
    incremental_etl(spark, input_dir, out, phi, "Patient", ckpt)
    assert tbl.current_version() == v_after_first

    # new file arrives: only it is processed; table upserts incrementally
    write_ndjson(input_dir, "batch2.ndjson", [
        {"resourceType": "Patient", "id": "c", "gender": "other"},
    ])
    incremental_etl(spark, input_dir, out, phi, "Patient", ckpt)
    assert tbl.read().count() == 3


def test_incremental_etl_quarantines_malformed_lines(spark, tmp_path):
    """A micro-batch is parsed like a batch etl scan: a schema-breaking
    line (an object where FHIR requires an array) and an unparseable line
    are quarantined PHI-side, not loaded with silently-nulled fields."""
    import os

    input_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    phi = str(tmp_path / "phi")
    os.makedirs(input_dir)
    with open(os.path.join(input_dir, "b1.ndjson"), "w") as fh:
        fh.write(json.dumps({"resourceType": "Patient", "id": "good", "gender": "female"}) + "\n")
        fh.write(json.dumps({"resourceType": "Patient", "id": "bad", "name": {"family": "X"}}) + "\n")
        fh.write('{"resourceType": "Patient", "id": \n')
    incremental_etl(spark, input_dir, out, phi, "Patient", str(tmp_path / "ckpt"))

    rows = ManagedTable(spark, out, "patient").read().collect()
    assert [r["gender"] for r in rows] == ["female"]
    quarantined = spark.read.json(os.path.join(phi, "errors", "patient")).collect()
    assert len(quarantined) == 2
    assert any('"name": {"family": "X"}' in r["raw_line"] for r in quarantined)
    assert all(r["source_file"].endswith("b1.ndjson") for r in quarantined)
    assert os.listdir(out) == ["patient"]


def test_incremental_etl_loads_what_etl_loads(spark, tmp_path):
    """One Patient export of three files, loaded by ``run_etl`` and by
    ``incremental_etl`` one file per micro-batch, gives the same lake
    rows, pointer ``schema`` and ``stored``, codebook mappings and
    quarantined lines. The export holds an update with a newer
    ``lastUpdated``, a schema-breaking line and a ``deleted/`` tombstone
    that arrives after the resource it deletes."""
    import os
    import shutil

    from cumulus_etl_spark.deid import Codebook
    from cumulus_etl_spark.etl import run_etl
    from tests.fhir_fixtures import expected_anon_id

    inp = str(tmp_path / "in")
    files = [
        write_ndjson(inp, "p1.ndjson", [
            {"resourceType": "Patient", "id": "p1", "gender": "female",
             "meta": {"lastUpdated": "2021-01-01T00:00:00Z"}},
            {"resourceType": "Patient", "id": "p2", "birthDate": "1980-06-15"},
            {"resourceType": "Patient", "id": "p3", "name": {"family": "X"}},
        ]),
        write_ndjson(inp, "p2.ndjson", [
            {"resourceType": "Patient", "id": "p1", "gender": "other",
             "meta": {"lastUpdated": "2022-01-01T00:00:00Z"},
             "maritalStatus": {"text": "Married"}},
            {"resourceType": "Patient", "id": "p4", "gender": "male"},
        ]),
        write_ndjson(os.path.join(inp, "deleted"), "d.ndjson", [
            {"resourceType": "Bundle",
             "entry": [{"request": {"method": "DELETE", "url": "Patient/p2"}}]},
        ]),
    ]
    for i, path in enumerate(files):  # the file stream takes oldest first
        os.utime(path, (1_600_000_000 + 10 * i,) * 2)

    etl_out, etl_phi = str(tmp_path / "etl_out"), str(tmp_path / "etl_phi")
    summary = run_etl(spark, inp, etl_out, etl_phi, tasks=["patient"])
    stream_out, stream_phi = str(tmp_path / "stream_out"), str(tmp_path / "stream_phi")
    os.makedirs(stream_phi)
    shutil.copy(os.path.join(etl_phi, "codebook.json"), stream_phi)
    ckpt = str(tmp_path / "ckpt")
    total = incremental_etl(
        spark, inp, stream_out, stream_phi, "Patient", ckpt, max_files_per_trigger=1
    )
    assert sorted(n for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()) == [
        "0", "1", "2"
    ]
    assert total == summary["tables"]["patient"] == {"rows": 4, "quarantined": 1}

    def load(out, phi):
        table = ManagedTable(spark, out, "patient")
        ptr = table._pointer()
        errors = spark.read.json(os.path.join(phi, "errors", "patient"))
        return (
            set(table.read().toJSON().collect()),
            ptr["schema"],
            ptr["stored"],
            {tuple(r) for r in Codebook(phi).load_mappings(spark).collect()},
            {r["raw_line"] for r in errors.collect()},
        )

    etl_load, stream_load = load(etl_out, etl_phi), load(stream_out, stream_phi)
    for got, want in zip(stream_load, etl_load):
        assert got == want
    salt = Codebook(etl_phi).salt
    rows = {json.loads(r)["id"]: json.loads(r) for r in etl_load[0]}
    assert set(rows) == {expected_anon_id(salt, p) for p in ("p1", "p4")}
    assert rows[expected_anon_id(salt, "p1")]["gender"] == "other"
    assert "maritalStatus" in etl_load[2] and "address" not in etl_load[2]


def test_incremental_etl_registers_athena_after_first_batch(spark, tmp_path):
    """Registration-after-first-batch (ref formats/nlp.py:50-57): the DDL
    runs through the connection exactly once, triggered by the FIRST
    committed micro-batch; later batches expand the table without
    re-registration."""
    from pyspark.sql.types import StringType, StructField, StructType

    from cumulus_etl_spark.sinks.catalog_ddl import AthenaRegistrar

    class FakeCursor:
        def __init__(self, log):
            self._log = log

        def execute(self, sql):
            self._log.append(sql)

    class FakeConnection:
        def __init__(self):
            self.executed = []

        def cursor(self):
            return FakeCursor(self.executed)

    input_dir = str(tmp_path / "in")
    conn = FakeConnection()
    registrar = AthenaRegistrar(
        conn,
        "study__patient",
        StructType([StructField("id", StringType())]),
        "s3://results",
    )
    write_ndjson(input_dir, "b1.ndjson", [
        {"resourceType": "Patient", "id": "a"},
    ])
    incremental_etl(
        spark, input_dir, str(tmp_path / "out"), str(tmp_path / "phi"),
        "Patient", str(tmp_path / "ckpt"), athena=registrar,
    )
    assert len(conn.executed) == 2  # DROP IF EXISTS + CREATE EXTERNAL TABLE
    assert conn.executed[0].startswith("DROP TABLE IF EXISTS")
    assert "CREATE EXTERNAL TABLE study__patient" in conn.executed[1]
    assert "LOCATION 's3://results/study/patient_v1/'" in conn.executed[1]

    # second batch: table already registered, no more DDL
    write_ndjson(input_dir, "b2.ndjson", [
        {"resourceType": "Patient", "id": "b"},
    ])
    incremental_etl(
        spark, input_dir, str(tmp_path / "out"), str(tmp_path / "phi"),
        "Patient", str(tmp_path / "ckpt"), athena=registrar,
    )
    assert len(conn.executed) == 2


def test_windowed_event_counts_batch_parity(spark, tmp_path):
    df = spark.createDataFrame(
        [("2021-01-01 00:10:00", "a"), ("2021-01-01 00:50:00", "a"),
         ("2021-01-01 01:05:00", "b")],
        "ts_str string, kind string",
    ).select(F.col("ts_str").cast("timestamp").alias("ts"), "kind")
    out = windowed_event_counts(df, window_duration="1 hour", group_cols=("kind",))
    got = {(str(r["window_start"]), r["kind"]): r["n_events"] for r in out.collect()}
    assert got[("2021-01-01 00:00:00", "a")] == 2
    assert got[("2021-01-01 01:00:00", "b")] == 1


def test_windowed_event_counts_streaming(spark, tmp_path):
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    write_ndjson(src, "e.ndjson", [
        {"ts": "2021-01-01T00:10:00Z", "kind": "a"},
        {"ts": "2021-01-01T00:20:00Z", "kind": "a"},
    ])
    stream = (
        spark.readStream.schema("ts string, kind string")
        .option("pathGlobFilter", "*.ndjson")
        .json(src)
        .select(F.to_timestamp("ts").alias("ts"), "kind")
    )
    agg = windowed_event_counts(stream, group_cols=("kind",))
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from wincounts").collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 2


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: gaps close sessions within and
    across events; open sessions stay in state."""
    from cumulus_etl_spark.streaming.sessions import sessionize_stream

    src = str(tmp_path / "sess-events")
    ckpt = str(tmp_path / "sess-ckpt")
    rows = [
        # user 1: two events 10 min apart, then a 2h gap, then one more
        {"ts": "2021-01-01T00:00:00Z", "user_id": 1},
        {"ts": "2021-01-01T00:10:00Z", "user_id": 1},
        {"ts": "2021-01-01T02:30:00Z", "user_id": 1},
        # user 2: single event (stays open in state)
        {"ts": "2021-01-01T01:00:00Z", "user_id": 2},
    ]
    write_ndjson(src, "e.ndjson", rows)
    stream = (
        spark.readStream.schema("ts string, user_id long")
        .option("pathGlobFilter", "*.ndjson")
        .json(src)
        .select(F.to_timestamp("ts").alias("ts"), "user_id")
    )
    sessions = sessionize_stream(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from sessions_out").collect()
    assert len(got) == 1  # only user 1's first session closed (by gap)
    s = got[0]
    assert s["user_id"] == 1
    assert s["n_events"] == 2
    assert s["closed_by"] == "gap"
    assert str(s["session_start"]).startswith("2021-01-01 00:00:00")
    assert str(s["session_end"]).startswith("2021-01-01 00:10:00")


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Re-delivered rows inside the lateness budget collapse to one."""
    from cumulus_etl_spark.streaming import streaming_dedup

    src = str(tmp_path / "dup-events")
    ckpt = str(tmp_path / "dup-ckpt")
    write_ndjson(src, "e.ndjson", [
        {"ts": "2021-01-01T00:00:00Z", "rid": "a"},
        {"ts": "2021-01-01T00:05:00Z", "rid": "a"},  # duplicate re-delivery
        {"ts": "2021-01-01T00:10:00Z", "rid": "b"},
    ])
    stream = (
        spark.readStream.schema("ts string, rid string")
        .option("pathGlobFilter", "*.ndjson")
        .json(src)
        .select(F.to_timestamp("ts").alias("ts"), "rid")
    )
    deduped = streaming_dedup(stream, ["rid"], watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["rid"] for r in spark.sql("select * from dedup_out").collect())
    assert got == ["a", "b"]

    # Batch path: same call, same answer.
    batch = spark.createDataFrame(
        [("2021-01-01 00:00:00", "a"), ("2021-01-01 00:05:00", "a")],
        "ts_s string, rid string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "rid")
    assert streaming_dedup(batch, ["rid"]).count() == 1


def test_interval_join_stream_stream(spark, tmp_path):
    """Conversions join their impression within the bound; outside → dropped."""
    from cumulus_etl_spark.streaming import interval_join

    imp_src = str(tmp_path / "impressions")
    conv_src = str(tmp_path / "conversions")
    ckpt = str(tmp_path / "ij-ckpt")
    write_ndjson(imp_src, "i.ndjson", [
        {"its": "2021-01-01T00:00:00Z", "uid": 1},
        {"its": "2021-01-01T00:00:00Z", "uid": 2},
    ])
    write_ndjson(conv_src, "c.ndjson", [
        {"cts": "2021-01-01T00:30:00Z", "uid": 1},   # within 1h → joins
        {"cts": "2021-01-01T03:00:00Z", "uid": 2},   # 3h later → dropped
    ])
    imp = (
        spark.readStream.schema("its string, uid long")
        .option("pathGlobFilter", "*.ndjson").json(imp_src)
        .select(F.to_timestamp("its").alias("its"), "uid")
    )
    conv = (
        spark.readStream.schema("cts string, uid long")
        .option("pathGlobFilter", "*.ndjson").json(conv_src)
        .select(F.to_timestamp("cts").alias("cts"), "uid")
    )
    joined = interval_join(imp, conv, "uid", "its", "cts", max_delay="1 hour")
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from ij_out").collect()
    assert len(rows) == 1 and rows[0]["uid"] == 1

    # Batch parity: identical call on static frames.
    bi = spark.createDataFrame([("2021-01-01 00:00:00", 1)], "s string, uid long") \
        .select(F.col("s").cast("timestamp").alias("its"), "uid")
    bc = spark.createDataFrame([("2021-01-01 00:30:00", 1)], "s string, uid long") \
        .select(F.col("s").cast("timestamp").alias("cts"), "uid")
    assert interval_join(bi, bc, "uid", "its", "cts").count() == 1


def test_windowed_event_counts_sliding(spark, tmp_path):
    """Sliding windows: a 1h window sliding every 30min emits each event
    into 2 overlapping windows; counts per window honor the overlap."""
    df = spark.createDataFrame(
        [("2021-01-01 00:10:00", "a"), ("2021-01-01 00:40:00", "a")],
        "ts_str string, kind string",
    ).select(F.col("ts_str").cast("timestamp").alias("ts"), "kind")
    out = windowed_event_counts(
        df, window_duration="1 hour", slide="30 minutes", group_cols=("kind",)
    )
    got = {str(r["window_start"]): r["n_events"] for r in out.collect()}
    # event@00:10 → windows [23:30,00:30) and [00:00,01:00)
    # event@00:40 → windows [00:00,01:00) and [00:30,01:30)
    assert got["2020-12-31 23:30:00"] == 1
    assert got["2021-01-01 00:00:00"] == 2
    assert got["2021-01-01 00:30:00"] == 1


def test_windowed_event_counts_sliding_streaming(spark, tmp_path):
    src = str(tmp_path / "slide-events")
    ckpt = str(tmp_path / "slide-ckpt")
    write_ndjson(src, "e.ndjson", [
        {"ts": "2021-01-01T00:10:00Z", "kind": "a"},
        {"ts": "2021-01-01T00:40:00Z", "kind": "a"},
    ])
    stream = (
        spark.readStream.schema("ts string, kind string")
        .option("pathGlobFilter", "*.ndjson")
        .json(src)
        .select(F.to_timestamp("ts").alias("ts"), "kind")
    )
    agg = windowed_event_counts(
        stream, window_duration="1 hour", slide="30 minutes", group_cols=("kind",)
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("slidecounts")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        str(r["window_start"]): r["n_events"]
        for r in spark.sql("select * from slidecounts").collect()
    }
    assert got["2021-01-01 00:00:00"] == 2
    assert len(got) == 3


def test_stream_static_enrich(spark, tmp_path):
    """Stream-static join: each micro-batch broadcast-joins the static
    dimension; left rows with no match keep NULL enrichment."""
    from cumulus_etl_spark.streaming.joins import stream_static_enrich

    src = str(tmp_path / "enrich-events")
    ckpt = str(tmp_path / "enrich-ckpt")
    write_ndjson(src, "e.ndjson", [
        {"user_id": 1, "kind": "click"},
        {"user_id": 2, "kind": "view"},
        {"user_id": 9, "kind": "click"},
    ])
    dim = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "user_id long, cohort string"
    )
    stream = (
        spark.readStream.schema("user_id long, kind string")
        .option("pathGlobFilter", "*.ndjson")
        .json(src)
    )
    out = stream_static_enrich(stream, dim, "user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["user_id"]: r["cohort"] for r in spark.sql("select * from enriched").collect()}
    assert got == {1: "alpha", 2: "beta", 9: None}


def test_incremental_dedup_index(spark, tmp_path):
    """Dedup-at-ingestion: batch 2 docs that near-duplicate batch 1 docs
    are flagged WITHOUT re-scanning batch 1 text; checkpoint makes
    re-runs no-ops; the index grows incrementally."""
    from cumulus_etl_spark.streaming.dedup_index import incremental_dedup_ingest

    src = str(tmp_path / "landing")
    idx_root = str(tmp_path / "index")
    ckpt = str(tmp_path / "dedup-ckpt")

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest while the sun sets slowly behind hills"
    )
    write_ndjson(src, "batch1.ndjson", [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": "completely different content about spark "
                              "query engines and distributed columnar execution plans"},
    ])
    idx = incremental_dedup_ingest(spark, src, idx_root, ckpt)
    assert idx.known_dups() is None or idx.known_dups().count() == 0

    # batch 2: one near-dup of doc 1 (tail word changed), one fresh doc
    write_ndjson(src, "batch2.ndjson", [
        {"doc_id": 3, "text": base.replace("hills", "mountains")},
        {"doc_id": 4, "text": "unrelated text on birds migrating south "
                              "for the long cold winter season every year"},
    ])
    idx = incremental_dedup_ingest(spark, src, idx_root, ckpt)
    dups = {(r["id"], r["dup_of"]): r["jaccard"] for r in idx.known_dups().collect()}
    assert list(dups) == [(3, 1)]
    assert dups[(3, 1)] > 0.7

    # no new files → checkpoint no-op, dup set unchanged
    idx = incremental_dedup_ingest(spark, src, idx_root, ckpt)
    assert idx.known_dups().count() == 1


def test_dedup_index_cli_verb(spark, tmp_path, capsys):
    """`dedup-index` verb: end-to-end over a landing dir, JSON report."""
    import json as _json

    from cumulus_etl_spark.cli import main as cli_main

    src = str(tmp_path / "cli-landing")
    idx_root = str(tmp_path / "cli-index")
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"
    )
    write_ndjson(src, "a.ndjson", [
        {"doc_id": 10, "text": base + " omega"},
        {"doc_id": 11, "text": base + " OMEGA"},
    ])
    rc = cli_main(["dedup-index", src, idx_root])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["near_dups"] and out["near_dups"][0]["id"] == 11
    assert out["near_dups"][0]["dup_of"] == 10


def test_anomaly_scores_stream(spark, tmp_path):
    """EWMA anomaly stream: a stable baseline learns quietly, a spike is
    flagged the moment it arrives, and state survives across batches."""
    import json as _json

    from cumulus_etl_spark.streaming.anomaly import anomaly_scores_stream

    src = str(tmp_path / "anomaly-events")
    ckpt = str(tmp_path / "anomaly-ckpt")

    def rows(ids, vals, t0=0):
        return [
            {"event_id": i, "user_id": 1,
             "ts": f"2021-01-01T00:{(t0 + k):02d}:00Z", "value": v}
            for k, (i, v) in enumerate(zip(ids, vals))
        ]

    # batch 1: 12 calm events around 10.0 — trains the baseline
    write_ndjson(src, "b1.ndjson", rows(range(12), [10.0 + 0.1 * (i % 3) for i in range(12)]))

    sink = str(tmp_path / "anomaly-out")

    def run():
        import glob as _glob

        stream = (
            spark.readStream.schema("event_id long, user_id long, ts string, value double")
            .option("pathGlobFilter", "*.ndjson")
            .json(src)
            .selectExpr("event_id", "user_id", "to_timestamp(ts) AS ts", "value")
        )
        out = anomaly_scores_stream(stream, alpha=0.2, threshold=3.0, min_events=10)
        (
            out.writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(sink)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        if not _glob.glob(sink + "/*.parquet"):
            return []
        return spark.read.parquet(sink).collect()

    assert run() == []  # calm traffic: nothing flagged

    # batch 2 (separate run → state restored from checkpoint): a spike
    # among calm events
    write_ndjson(src, "b2.ndjson", rows([100, 101, 102], [10.1, 50.0, 10.0], t0=20))
    flagged = run()
    assert [r["event_id"] for r in flagged] == [101]
    assert flagged[0]["score"] > 3.0


def test_sessionize_stream_native_session_window(spark, tmp_path):
    """Native session_window sessionizer: same gap semantics JVM-side, and
    the identical code path groups a batch frame."""
    from cumulus_etl_spark.streaming.sessions import sessionize_stream_native

    src = str(tmp_path / "nsess-events")
    ckpt = str(tmp_path / "nsess-ckpt")
    rows = [
        {"ts": "2021-01-01T00:00:00Z", "user_id": 1},
        {"ts": "2021-01-01T00:10:00Z", "user_id": 1},
        {"ts": "2021-01-01T02:30:00Z", "user_id": 1},
        {"ts": "2021-01-01T01:00:00Z", "user_id": 2},
    ]
    write_ndjson(src, "e.ndjson", rows)
    stream = (
        spark.readStream.schema("ts string, user_id long")
        .option("pathGlobFilter", "*.ndjson")
        .json(src)
        .select(F.to_timestamp("ts").alias("ts"), "user_id")
    )
    q = (
        sessionize_stream_native(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("nsessions_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["user_id"], r["n_events"]) for r in spark.sql("select * from nsessions_out").collect()}
    # Sessions emit once the watermark (max event time − 1h = 01:30)
    # passes their close: user 1's first session (ends 00:40) and user 2's
    # (ends 01:30) emit; user 1's last session (ends 03:00) stays in
    # state for the next run — the same resume semantic as the stateful
    # variant.
    assert got == {(1, 2), (2, 1)}

    # Batch path: same function, plain DataFrame in.
    batch = spark.createDataFrame(
        [("2021-01-01T00:00:00Z", 1), ("2021-01-01T00:10:00Z", 1),
         ("2021-01-01T02:30:00Z", 1), ("2021-01-01T01:00:00Z", 2)],
        "ts string, user_id long",
    ).select(F.to_timestamp("ts").alias("ts"), "user_id")
    b = sessionize_stream_native(batch, gap_seconds=1800)
    bs = {(r["user_id"], r["n_events"]) for r in b.collect()}
    assert bs == {(1, 2), (1, 1), (2, 1)}


def test_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """left_outer interval join: unmatched left rows emit with NULL right
    side once the watermark passes their join window."""
    from cumulus_etl_spark.streaming import interval_join

    imp_src = str(tmp_path / "lo-impressions")
    conv_src = str(tmp_path / "lo-conversions")
    ckpt = str(tmp_path / "lo-ij-ckpt")
    write_ndjson(imp_src, "i.ndjson", [
        {"its": "2021-01-01T00:00:00Z", "uid": 1},   # converts
        {"its": "2021-01-01T00:00:00Z", "uid": 2},   # never converts
    ])
    write_ndjson(conv_src, "c.ndjson", [
        {"cts": "2021-01-01T00:30:00Z", "uid": 1},
    ])

    out_dir = str(tmp_path / "lo-ij-out")

    def run_once(_name):
        imp = (
            spark.readStream.schema("its string, uid long")
            .option("pathGlobFilter", "*.ndjson").json(imp_src)
            .select(F.to_timestamp("its").alias("its"), "uid")
        )
        conv = (
            spark.readStream.schema("cts string, uid long")
            .option("pathGlobFilter", "*.ndjson").json(conv_src)
            .select(F.to_timestamp("cts").alias("cts"), "uid")
        )
        joined = interval_join(
            imp, conv, "uid", "its", "cts", max_delay="1 hour",
            watermark="1 hour", how="left_outer",
        )
        # file sink, not memory: the memory sink cannot resume a
        # checkpoint, and null-side emission REQUIRES a second run
        q = (
            joined.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["uid"]: r["cts"] for r in spark.read.parquet(out_dir).collect()}

    first = run_once("lo_ij_out1")
    assert first.get(1) is not None  # matched within the hour
    assert 2 not in first            # null-side rows wait for the watermark

    # Later data on BOTH sides advances the global watermark (min of the
    # two) past uid 2's window [00:00, 01:00]; the NEXT run emits the
    # pending unmatched row.
    write_ndjson(imp_src, "i2.ndjson", [
        {"its": "2021-01-01T09:00:00Z", "uid": 98},
    ])
    write_ndjson(conv_src, "c2.ndjson", [
        {"cts": "2021-01-01T09:00:00Z", "uid": 99},
    ])
    second = run_once("lo_ij_out2")
    assert 2 in second and second[2] is None  # unmatched left row, NULL right side

    # Batch parity: same call, plain left join semantics.
    bi = spark.createDataFrame(
        [("2021-01-01 00:00:00", 1), ("2021-01-01 00:00:00", 2)], "s string, uid long"
    ).select(F.col("s").cast("timestamp").alias("its"), "uid")
    bc = spark.createDataFrame([("2021-01-01 00:30:00", 1)], "s string, uid long") \
        .select(F.col("s").cast("timestamp").alias("cts"), "uid")
    got = {r["uid"]: r["cts"] for r in
           interval_join(bi, bc, "uid", "its", "cts", how="left_outer").collect()}
    assert got[1] is not None and got[2] is None


def test_stream_changes_tails_the_change_feed(spark, tmp_path):
    """The change feed is a streaming CDC source: each run picks up only
    new commits; checkpoint resume works like any file stream."""
    from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
    from cumulus_etl_spark.streaming import stream_changes

    t = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    pol = MergePolicy(keys=("id",), last_updated_field=None, change_feed=True)
    t.merge(spark.createDataFrame([("a", 1), ("b", 2)], "id string, val int"), pol)

    ckpt = str(tmp_path / "cdc-ckpt")
    out_dir = str(tmp_path / "cdc-out")

    def run_once():
        q = (
            stream_changes(spark, t)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).collect()

    first = run_once()
    assert {(r["id"], r["_change_type"], r["_commit_version"]) for r in first} == {
        ("a", "insert", 1), ("b", "insert", 1),
    }

    # a second commit: only ITS rows arrive in the next run
    t.merge(spark.createDataFrame([("a", 10)], "id string, val int"), pol)
    second = run_once()
    new_rows = {(r["id"], r["_change_type"], r["_commit_version"]) for r in second} - {
        (r["id"], r["_change_type"], r["_commit_version"]) for r in first
    }
    assert new_rows == {("a", "update_preimage", 2), ("a", "update_postimage", 2)}


def test_cdf_stream_drives_rollup(spark, tmp_path):
    """VERDICT r3 item 8: stream_changes and IncrementalRollup composed as
    ONE pipeline — the streaming tail of the change feed triggers rollup
    refreshes (foreachBatch), with merge commits landing while the stream
    is between drains. After each availableNow drain the rollup equals a
    from-scratch batch groupBy of the source table."""
    from cumulus_etl_spark.sinks import MergePolicy
    from cumulus_etl_spark.sinks.incremental_view import IncrementalRollup
    from cumulus_etl_spark.streaming import stream_changes

    src = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    pol = MergePolicy(keys=("id",), group_field="grp", last_updated_field=None, change_feed=True)
    roll = IncrementalRollup(
        spark, src, str(tmp_path / "views"), "by_grp", ["grp"], "val"
    )

    def drain():
        # The stream's micro-batches are the change-feed commits; each one
        # drives a rollup refresh — the composition under test.
        (
            stream_changes(spark, src)
            .writeStream.foreachBatch(lambda bdf, bid: roll.refresh())
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    def assert_converged():
        got = {(r["grp"], r["n_rows"], r["sum_value"]) for r in roll.read().collect()}
        want = {
            (r["grp"], r["n"], r["s"])
            for r in src.read().groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum(F.col("val").cast("double")).alias("s"))
            .collect()
        }
        assert got == want, (got, want)

    src.merge(spark.createDataFrame(
        [("a", "g1", 1), ("b", "g1", 2), ("c", "g2", 3)],
        "id string, grp string, val int"), pol)
    drain()
    assert_converged()

    # two more commits while the stream is stopped (between drains):
    # an update+insert+stale-group-delete merge, then an id delete
    src.merge(spark.createDataFrame(
        [("a", "g1", 10), ("d", "g1", 4)], "id string, grp string, val int"), pol)
    src.delete_ids(["c"], change_feed=True)
    drain()
    assert_converged()

    # no new commits: drain is a no-op, rollup unchanged
    v = roll.applied_version()
    drain()
    assert roll.applied_version() == v
    assert_converged()


def test_stream_changes_checkpoint_hole_detector(spark, tmp_path):
    """Round-5 verdict ask 3: retention that truncates the feed PAST a
    stream's checkpoint position must raise (instead of the file source
    silently skipping the deleted commits); retention that only drops
    already-delivered versions resumes clean."""
    import pytest

    from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
    from cumulus_etl_spark.streaming import stream_changes

    t = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    pol = MergePolicy(keys=("id",), last_updated_field=None, change_feed=True)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def drain():
        (
            stream_changes(spark, t, checkpoint_dir=ckpt)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    t.merge(spark.createDataFrame([("a", 1)], "id string, val int"), pol)  # v1
    drain()  # checkpoint now at v1

    # two more commits the stream has NOT seen
    t.merge(spark.createDataFrame([("b", 2)], "id string, val int"), pol)  # v2
    t.merge(spark.createDataFrame([("c", 3)], "id string, val int"), pol)  # v3

    # retention keeps only the newest feed entry (v3): v2 — undelivered —
    # is gone; the stream is behind the horizon -> loud failure
    t.finalize(keep_versions=10, keep_changes=1)
    with pytest.raises(ValueError, match="hole after the stream's checkpoint"):
        stream_changes(spark, t, checkpoint_dir=ckpt)

    # fresh checkpoint (late subscriber) is exempt — starts at the horizon
    stream_changes(spark, t, checkpoint_dir=str(tmp_path / "fresh-ckpt"))


def test_stream_changes_retention_up_to_checkpoint_resumes(spark, tmp_path):
    """Companion case: dropping only ALREADY-DELIVERED feed versions is
    safe — the guarded stream resumes and delivers exactly the new
    commits."""
    from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
    from cumulus_etl_spark.streaming import stream_changes

    t = ManagedTable(spark, str(tmp_path / "lake"), "obs")
    pol = MergePolicy(keys=("id",), last_updated_field=None, change_feed=True)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def drain():
        (
            stream_changes(spark, t, checkpoint_dir=ckpt)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    t.merge(spark.createDataFrame([("a", 1)], "id string, val int"), pol)  # v1
    t.merge(spark.createDataFrame([("b", 2)], "id string, val int"), pol)  # v2
    drain()  # delivered v1+v2
    t.merge(spark.createDataFrame([("c", 3)], "id string, val int"), pol)  # v3
    # horizon moves up TO the checkpoint (keeps v3, drops delivered v1/v2)
    t.finalize(keep_versions=10, keep_changes=1)
    drain()  # clean resume, no raise
    got = {(r["id"], r["_commit_version"])
           for r in spark.read.parquet(out_dir).collect()}
    assert ("c", 3) in got
    assert {v for _, v in got} == {1, 2, 3}


def test_streaming_countmin_equals_batch_sketch(spark, tmp_path):
    """Mergeability invariant: after N micro-batches the persistent
    cell table EQUALS the batch sketch over the concatenated data, and
    the candidate set holds the true heavy hitters with one-sided
    estimates."""
    from collections import Counter

    from cumulus_etl_spark.operators.sketch import countmin_table
    from cumulus_etl_spark.streaming.heavy_hitters import StreamingCountMin

    # skewed key stream: key i appears ~ 60/i times
    keys = [str(i) for i in range(1, 40) for _ in range(60 // i)]
    batches = [keys[0::3], keys[1::3], keys[2::3]]
    cms = StreamingCountMin(spark, str(tmp_path / "cms"), width=64, top_k=15)
    for b in batches:
        cms.ingest_batch(spark.createDataFrame([(k,) for k in b], ["k"]), "k")

    all_df = spark.createDataFrame([(k,) for k in keys], ["k"])
    want = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in countmin_table(all_df, "k", width=64).collect()
    }
    got = {
        (r["seed"], r["bucket"]): r["cnt"] for r in cms.cells.read().collect()
    }
    assert got == want

    exact = Counter(keys)
    hh = {r["k"]: r["estimate"] for r in cms.heavy_hitters().collect()}
    assert len(hh) == 15
    for k, est in hh.items():
        assert est >= exact[k], (k, est, exact[k])
    # the true top-5 must all be candidates
    for k, _ in exact.most_common(5):
        assert k in hh, k


def test_streaming_countmin_file_stream_checkpoint(spark, tmp_path):
    """File-source ingest: new files fold in, re-runs are checkpointed
    no-ops."""
    from cumulus_etl_spark.streaming.heavy_hitters import streaming_heavy_hitters

    src = str(tmp_path / "landing")
    root = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "cms-ckpt")
    write_ndjson(src, "b1.ndjson", [{"k": "a"}, {"k": "a"}, {"k": "b"}])
    cms = streaming_heavy_hitters(
        spark, src, root, ckpt, "k", "k string", width=64, top_k=5
    )
    est1 = {r["k"]: r["estimate"] for r in cms.estimate(["a", "b"]).collect()}
    assert est1["a"] >= 2 and est1["b"] >= 1

    write_ndjson(src, "b2.ndjson", [{"k": "a"}, {"k": "c"}])
    cms = streaming_heavy_hitters(
        spark, src, root, ckpt, "k", "k string", width=64, top_k=5
    )
    est2 = {r["k"]: r["estimate"] for r in cms.estimate(["a", "c"]).collect()}
    assert est2["a"] >= 3 and est2["c"] >= 1

    # no new files -> no-op
    cms = streaming_heavy_hitters(
        spark, src, root, ckpt, "k", "k string", width=64, top_k=5
    )
    est3 = {r["k"]: r["estimate"] for r in cms.estimate(["a"]).collect()}
    assert est3 == {"a": est2["a"]}


def test_heavy_hitters_cli_verb(spark, tmp_path, capsys):
    """`heavy-hitters` verb: NDJSON landing dir -> persistent sketch ->
    JSON report; second run folds new files in."""
    import json as _json

    from cumulus_etl_spark.cli import main

    src = str(tmp_path / "landing")
    root = str(tmp_path / "sketch")
    write_ndjson(src, "b1.ndjson",
                 [{"k": "x"}] * 5 + [{"k": "y"}] * 2 + [{"k": "z"}])
    rc = main(["heavy-hitters", src, root, "k",
               "--schema", "k string", "--width", "64", "--top-k", "3"])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    top = {d["key"]: d["estimate"] for d in rep["heavy_hitters"]}
    assert len(top) == 3 and top["x"] >= 5

    write_ndjson(src, "b2.ndjson", [{"k": "y"}] * 9)
    rc = main(["heavy-hitters", src, root, "k",
               "--schema", "k string", "--width", "64", "--top-k", "3"])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    top = {d["key"]: d["estimate"] for d in rep["heavy_hitters"]}
    assert top["y"] >= 11 and list(top)[0] == "y"


def test_streaming_countmin_unseen_key_estimate(spark, tmp_path):
    """A key whose buckets are all empty must estimate 0 (not vanish,
    not inherit other keys' counts from an inner join)."""
    from cumulus_etl_spark.streaming.heavy_hitters import StreamingCountMin

    cms = StreamingCountMin(spark, str(tmp_path / "cms"), width=512, top_k=5)
    cms.ingest_batch(spark.createDataFrame([("a",)] * 3, ["k"]), "k")
    est = {r["k"]: r["estimate"] for r in
           cms.estimate(["a", "never-seen-key-xyz"]).collect()}
    assert est["a"] >= 3
    # with w=512 and one seen key, all 4 buckets of the unseen key are
    # empty unless it collides with 'a' in every seed (p ~ (1/512)^4)
    assert est["never-seen-key-xyz"] == 0


def test_streaming_countmin_replayed_batch_is_skipped(spark, tmp_path):
    """Crash-replay safety: re-folding the same micro-batch id must be
    a no-op (the batch watermark rides atomically in the cells table),
    so counts never double."""
    from cumulus_etl_spark.streaming.heavy_hitters import StreamingCountMin

    cms = StreamingCountMin(spark, str(tmp_path / "cms"), width=64, top_k=5)
    b = spark.createDataFrame([("a",)] * 4 + [("b",)], ["k"])
    cms.ingest_batch(b, "k", batch_id=0)
    before = sorted(
        (r["seed"], r["bucket"], r["cnt"]) for r in cms.cells.read().collect()
    )
    cms.ingest_batch(b, "k", batch_id=0)  # replay
    after = sorted(
        (r["seed"], r["bucket"], r["cnt"]) for r in cms.cells.read().collect()
    )
    assert after == before
    est = {r["k"]: r["estimate"] for r in cms.estimate(["a"]).collect()}
    assert est["a"] == 4
    # a NEW batch still folds in
    cms.ingest_batch(b, "k", batch_id=1)
    est = {r["k"]: r["estimate"] for r in cms.estimate(["a"]).collect()}
    assert est["a"] == 8


def test_streaming_countmin_replay_still_refreshes_topk(spark, tmp_path):
    """Crash between the cells merge and the topk merge (round-6
    ADVICE): on replay the cells are skipped but the candidate/top-k
    refresh MUST still run, or the replayed batch's keys are
    permanently absent from heavy_hitters()."""
    from cumulus_etl_spark.streaming.heavy_hitters import StreamingCountMin

    cms = StreamingCountMin(spark, str(tmp_path / "cms"), width=64, top_k=5)
    b0 = spark.createDataFrame([("a",)] * 4, ["k"])
    cms.ingest_batch(b0, "k", batch_id=0)
    b1 = spark.createDataFrame([("hot",)] * 9 + [("b",)], ["k"])
    cms.ingest_batch(b1, "k", batch_id=1)
    # simulate the crash window: wipe the topk table back to batch-0
    # state, then replay batch 1 — counts must not double, but 'hot'
    # must (re)enter the candidates
    cms.topk.delete_ids(
        spark.createDataFrame([("hot",), ("b",)], ["k"]), id_col="k"
    )
    assert "hot" not in {r["k"] for r in cms.heavy_hitters().collect()}
    cms.ingest_batch(b1, "k", batch_id=1)  # replay
    hh = {r["k"]: r["estimate"] for r in cms.heavy_hitters().collect()}
    assert "hot" in hh and hh["hot"] >= 9
    est = {r["k"]: r["estimate"] for r in cms.estimate(["hot"]).collect()}
    assert est["hot"] == 9  # not double-counted


def _watermarked(kind, spark, root):
    """One sketch on the shared replay watermark (streaming/ckpt.py):
    (row schema, one row, ingest(rows, batch_id), rows folded so far)."""
    from cumulus_etl_spark.streaming.drift import (
        StreamingCategoricalMonitor,
        StreamingDriftMonitor,
        StreamingPsiMonitor,
    )
    from cumulus_etl_spark.streaming.heavy_hitters import (
        StreamingCountMin,
        WindowedCountMin,
    )
    from cumulus_etl_spark.streaming.quantiles import StreamingHdrHistogram

    if kind in ("countmin", "windowed_countmin"):
        cls = StreamingCountMin if kind == "countmin" else WindowedCountMin
        cms = cls(spark, root, width=64, top_k=5)
        return ("k string", ("a",),
                lambda df, b: cms.ingest_batch(df, "k", batch_id=b),
                lambda: cms.estimate(["a"]).collect()[0]["estimate"])
    if kind == "hdr":
        hdr = StreamingHdrHistogram(spark, root)
        return ("v long", (7,),
                lambda df, b: hdr.ingest_batch(df, "v", batch_id=b),
                lambda: sum(r["n"] for r in hdr.histogram().collect()))
    schema, row, mon = {
        "psi": ("x double", (0.5,),
                lambda: StreamingPsiMonitor(spark, root, "x", 1.0, 4)),
        "multi": ("a double", (0.5,),
                  lambda: StreamingDriftMonitor(spark, root, ["a"], 4)),
        "categorical": ("src string", ("a",),
                        lambda: StreamingCategoricalMonitor(spark, root, "src", 3)),
    }[kind]
    mon = mon()
    mon.set_reference(spark.createDataFrame([row] * 4, schema))
    return (schema, row,
            lambda df, b: mon.ingest_batch(df, batch_id=b),
            lambda: sum(r["n_actual"] for r in mon.report().collect()))


@pytest.mark.parametrize(
    "kind",
    ["countmin", "windowed_countmin", "hdr", "psi", "multi", "categorical"],
)
def test_replay_watermark_empty_first_batch(spark, tmp_path, kind):
    """The shared watermark's contract, for every sketch that uses it: a
    zero-row first micro-batch (availableNow on an empty file) stores no
    watermark, so it must not wedge ingest (round-6 ADVICE); batch 1
    then folds, and a replay of batch 1 is skipped."""
    schema, row, ingest, folded = _watermarked(kind, spark, str(tmp_path / kind))
    ingest(spark.createDataFrame([], schema), 0)
    batch = spark.createDataFrame([row] * 2, schema)
    ingest(batch, 1)
    assert folded() == 2
    ingest(batch, 1)  # crash replay
    assert folded() == 2


def test_windowed_countmin_planted_drift(spark, tmp_path):
    """Sliding-window ring: a key heavy ONLY in early batches decays to
    estimate 0 and falls out of the top-k once its slots rotate off;
    the window estimate equals the exact count over the last K batches
    (one-sided, here collision-free at w=512)."""
    from cumulus_etl_spark.streaming.heavy_hitters import WindowedCountMin

    cms = WindowedCountMin(
        spark, str(tmp_path / "wcms"), width=512, top_k=3, window_batches=2
    )
    mk = lambda rows: spark.createDataFrame([(k,) for k in rows], ["k"])
    # batch 0 + 1: 'old' floods; batch 2 + 3: 'new' rises, 'old' absent
    cms.ingest_batch(mk(["old"] * 20 + ["x"]), "k", batch_id=0)
    cms.ingest_batch(mk(["old"] * 20 + ["y"]), "k", batch_id=1)
    est = {r["k"]: r["estimate"] for r in cms.estimate(["old"]).collect()}
    assert est["old"] == 40  # both batches inside the window
    cms.ingest_batch(mk(["new"] * 5 + ["y"] * 2), "k", batch_id=2)
    est = {r["k"]: r["estimate"] for r in cms.estimate(["old", "new"]).collect()}
    assert est["old"] == 20  # batch 0 rotated off, batch 1 remains
    cms.ingest_batch(mk(["new"] * 5 + ["z"] * 3), "k", batch_id=3)
    est = {r["k"]: r["estimate"] for r in
           cms.estimate(["old", "new", "z"]).collect()}
    assert est["old"] == 0   # fully decayed out
    assert est["new"] == 10  # exact over the last 2 batches
    assert est["z"] == 3
    hh = [r["k"] for r in cms.heavy_hitters().collect()]
    assert "old" not in hh and hh[0] == "new"


def test_windowed_countmin_replay_is_idempotent(spark, tmp_path):
    """Replaying a micro-batch into the ring must not rewrite its slot
    (counts stay exact) but still refreshes the top-k."""
    from cumulus_etl_spark.streaming.heavy_hitters import WindowedCountMin

    cms = WindowedCountMin(
        spark, str(tmp_path / "wcms"), width=64, top_k=3, window_batches=4
    )
    b = spark.createDataFrame([("a",)] * 6 + [("b",)], ["k"])
    cms.ingest_batch(b, "k", batch_id=0)
    cms.ingest_batch(b, "k", batch_id=0)  # replay
    est = {r["k"]: r["estimate"] for r in cms.estimate(["a"]).collect()}
    assert est["a"] == 6


def test_heavy_hitters_cli_windowed(spark, tmp_path, capsys):
    """--window-batches N reports over only the last N micro-batches."""
    import json as _json

    from cumulus_etl_spark.cli import main

    src = str(tmp_path / "landing")
    root = str(tmp_path / "sketch")
    args = ["heavy-hitters", src, root, "k", "--schema", "k string",
            "--width", "64", "--top-k", "2", "--window-batches", "1"]
    write_ndjson(src, "b1.ndjson", [{"k": "x"}] * 7 + [{"k": "y"}])
    rc = main(args)
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {d["key"]: d["estimate"] for d in rep["heavy_hitters"]}["x"] == 7

    # next batch: window of 1 forgets x entirely
    write_ndjson(src, "b2.ndjson", [{"k": "y"}] * 3)
    rc = main(args)
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    top = {d["key"]: d["estimate"] for d in rep["heavy_hitters"]}
    assert top["y"] == 3
    assert top.get("x", 0) == 0


def test_windowed_countmin_reopened_with_smaller_window(spark, tmp_path):
    """Reopening a sketch root with a SMALLER window_batches must not
    keep summing the orphaned high slots forever: the recency filter
    ages them out of every estimate (round-7 self-review finding)."""
    from cumulus_etl_spark.streaming.heavy_hitters import WindowedCountMin

    root = str(tmp_path / "wcms")
    mk = lambda rows: spark.createDataFrame([(k,) for k in rows], ["k"])
    big = WindowedCountMin(spark, root, width=64, top_k=3, window_batches=8)
    for b in range(6):
        big.ingest_batch(mk(["old"] * 10), "k", batch_id=b)
    small = WindowedCountMin(spark, root, width=64, top_k=3, window_batches=2)
    small.ingest_batch(mk(["new"] * 4), "k", batch_id=6)
    small.ingest_batch(mk(["new"] * 4), "k", batch_id=7)
    est = {r["k"]: r["estimate"]
           for r in small.estimate(["old", "new"]).collect()}
    # slots 0-5 hold 'old' but only batches > 7-2=5 are in scope: slot
    # 6%8 and 7%8 — 'old' must have fully aged out even though its
    # slots were never overwritten by the smaller ring
    assert est["old"] == 0
    assert est["new"] == 8


# ---- streaming HDR-histogram quantiles (streaming/quantiles.py) ----


def test_hdr_bucket_round_trip_and_error_bound(spark):
    """lower_bound(bucket(v)) <= v and the relative error of the bound
    is <= 2^-sub_bits, across the linear region, octave boundaries, and
    large values."""
    from pyspark.sql import functions as F

    from cumulus_etl_spark.streaming.quantiles import (
        hdr_bucket,
        hdr_bucket_lower_bound,
    )

    s = 5
    vals = [0, 1, 2, 31, 32, 33, 63, 64, 65, 1000, 12345,
            2**20 - 1, 2**20, 2**20 + 7, 2**40 + 123456789, 2**62]
    df = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v",
        hdr_bucket(F.col("v"), s).alias("b"),
    ).select("v", "b", hdr_bucket_lower_bound(F.col("b"), s).alias("lb"))
    for r in df.collect():
        v, b, lb = r["v"], r["b"], r["lb"]
        assert lb <= v, (v, b, lb)
        if v < 2**s:
            assert lb == v, (v, b, lb)  # exact linear region
        else:
            assert v - lb <= lb / (1 << s) + 1, (v, b, lb)  # <=2^-s rel err
    # bucket ids are monotone in v
    buckets = [r["b"] for r in df.orderBy("v").collect()]
    assert buckets == sorted(buckets)


def test_streaming_hdr_equals_batch_and_replay_safe(spark, tmp_path):
    """After any batch sequence the stored histogram EQUALS the
    batch-built histogram over the concatenated data; a replayed
    batch_id is skipped, not double-counted."""
    from cumulus_etl_spark.streaming.quantiles import (
        StreamingHdrHistogram,
        hdr_histogram,
    )

    hdr = StreamingHdrHistogram(spark, str(tmp_path / "hdr"))
    b1 = spark.createDataFrame([(v,) for v in [1, 5, 90, 90, 4000]], "lat long")
    b2 = spark.createDataFrame([(v,) for v in [2, 90, 70000]], "lat long")
    hdr.ingest_batch(b1, "lat", batch_id=0)
    hdr.ingest_batch(b2, "lat", batch_id=1)
    hdr.ingest_batch(b2, "lat", batch_id=1)  # replay: must be a no-op

    stored = {(r["bucket"], r["n"]) for r in hdr.histogram().select("bucket", "n").collect()}
    batch = {
        (r["bucket"], r["n"])
        for r in hdr_histogram(b1.unionByName(b2), "lat").collect()
    }
    assert stored == batch


def test_hdr_quantiles_within_resolution(spark, tmp_path):
    """Reported quantiles match the exact rank statistic within the
    bucket resolution, and are monotone in q."""
    from cumulus_etl_spark.streaming.quantiles import StreamingHdrHistogram

    vals = sorted([7, 12, 55, 100, 250, 900, 901, 3000, 50000, 50001,
                   123456, 2**21, 13, 77, 1024, 4096, 65535, 9, 300, 888])
    hdr = StreamingHdrHistogram(spark, str(tmp_path / "hdr"))
    hdr.ingest_batch(
        spark.createDataFrame([(v,) for v in vals], "lat long"), "lat"
    )
    qs = [0.1, 0.5, 0.9, 0.99, 1.0]
    got = {r["q"]: r["value"] for r in hdr.quantiles(qs).collect()}
    import math

    for q in qs:
        exact = vals[max(1, math.ceil(q * len(vals))) - 1]
        assert got[q] <= exact, (q, got[q], exact)
        assert exact - got[q] <= exact / 32 + 1, (q, got[q], exact)
    assert [got[q] for q in qs] == sorted(got[q] for q in qs)


def test_hdr_negative_value_fails_loudly(spark, tmp_path):
    import pytest
    from py4j.protocol import Py4JJavaError

    from cumulus_etl_spark.streaming.quantiles import hdr_histogram

    df = spark.createDataFrame([(5,), (-1,)], "lat long")
    with pytest.raises(Exception, match="negative value|raise_error|USER_RAISED"):
        hdr_histogram(df, "lat").collect()


def test_quantiles_cli_verb(spark, tmp_path, capsys):
    """`quantiles` verb: NDJSON landing dir -> persistent histogram ->
    JSON report; second run folds new files in and shifts the tail."""
    import json as _json

    from cumulus_etl_spark.cli import main

    src = str(tmp_path / "landing")
    root = str(tmp_path / "hdr")
    write_ndjson(src, "b1.ndjson", [{"lat": v} for v in [10] * 90 + [500] * 10])
    rc = main(["quantiles", src, root, "lat",
               "--schema", "lat long", "--q", "0.5,0.99"])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = {d["q"]: d["value"] for d in rep["quantiles"]}
    assert got[0.5] == 10
    assert 480 <= got[0.99] <= 500  # bucket lower bound within 2^-5

    # second run: a flood of large values drags the median up
    write_ndjson(src, "b2.ndjson", [{"lat": 100000}] * 900)
    rc = main(["quantiles", src, root, "lat",
               "--schema", "lat long", "--q", "0.5,0.99"])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = {d["q"]: d["value"] for d in rep["quantiles"]}
    assert got[0.5] >= 96000 and got[0.99] >= 96000


def test_hdr_per_key_quantiles_and_mode_guard(spark, tmp_path):
    """Per-key mode: independent quantiles per key, streaming == batch
    per (key, bucket), and a loud guard on reopening in the other mode."""
    import pytest

    from cumulus_etl_spark.streaming.quantiles import (
        StreamingHdrHistogram,
        hdr_histogram,
    )

    root = str(tmp_path / "hdr")
    hdr = StreamingHdrHistogram(spark, root, key_col="route")
    b1 = spark.createDataFrame(
        [("a", v) for v in [10] * 9 + [800]] + [("b", v) for v in [3000] * 10],
        "route string, lat long",
    )
    b2 = spark.createDataFrame(
        [("a", 12), ("b", 3100), ("c", 7)], "route string, lat long"
    )
    hdr.ingest_batch(b1, "lat", batch_id=0)
    hdr.ingest_batch(b2, "lat", batch_id=1)
    hdr.ingest_batch(b2, "lat", batch_id=1)  # replay no-op

    stored = {
        (r["key"], r["bucket"], r["n"])
        for r in hdr.cells.read().select("key", "bucket", "n").collect()
    }
    batch = {
        (r["key"], r["bucket"], r["n"])
        for r in hdr_histogram(
            b1.unionByName(b2), "lat", key_col="route"
        ).collect()
    }
    assert stored == batch

    got = {
        (r["key"], r["q"]): r["value"]
        for r in hdr.quantiles([0.5, 1.0]).collect()
    }
    assert got[("a", 0.5)] == 10          # route a median unaffected by b
    assert 768 <= got[("a", 1.0)] <= 800  # route a max bucket bound
    assert got[("b", 0.5)] >= 2900        # route b lives in the thousands
    assert got[("c", 0.5)] == 7           # singleton key exact (linear region)

    # reopening the same root WITHOUT key_col must fail loudly
    with pytest.raises(ValueError, match="per-key state.*global mode"):
        StreamingHdrHistogram(spark, root)


def test_streaming_reservoir_equals_batch_and_is_replay_safe(spark, tmp_path):
    """The streaming fold over any batch split EQUALS the batch top-k
    over the concatenated data (A-ES with deterministic md5 scores),
    and re-folding a batch changes nothing (idempotent by math, no
    watermark needed)."""
    from cumulus_etl_spark.streaming.reservoir import (
        StreamingReservoir,
        reservoir_top_k,
    )

    rows = [(f"id{i}",) for i in range(60)]
    all_df = spark.createDataFrame(rows, "doc_id string")
    b1 = spark.createDataFrame(rows[:25], "doc_id string")
    b2 = spark.createDataFrame(rows[25:40], "doc_id string")
    b3 = spark.createDataFrame(rows[40:], "doc_id string")

    res = StreamingReservoir(spark, str(tmp_path / "res"), k=10)
    assert res.sample() is None
    res.ingest_batch(b1, "doc_id")
    res.ingest_batch(b2, "doc_id")
    res.ingest_batch(b2, "doc_id")  # replay: identical scores, no-op
    res.ingest_batch(b3, "doc_id")

    streamed = [tuple(r) for r in res.sample().collect()]
    batch = [tuple(r) for r in reservoir_top_k(all_df, 10, "doc_id").collect()]
    assert streamed == batch
    assert len(streamed) == 10
    scores = [s for _, _, s in streamed]
    assert scores == sorted(scores, reverse=True)

    # reopening with a different k fails loudly
    import pytest

    with pytest.raises(ValueError, match="k=10"):
        StreamingReservoir(spark, str(tmp_path / "res"), k=5)
    # reopening with the SAME k resumes the state
    again = StreamingReservoir(spark, str(tmp_path / "res"), k=10)
    assert [tuple(r) for r in again.sample().collect()] == streamed


def test_reservoir_weights_bias_inclusion(spark, tmp_path):
    """Weighted A-ES: heavy rows must be sampled (far) more often. With
    deterministic md5 scores this is a fixed arithmetic fact for a
    fixed id population, not a flaky statistical test."""
    from cumulus_etl_spark.streaming.reservoir import reservoir_top_k

    rows = [(f"h{i}", 50.0) for i in range(50)] + [
        (f"l{i}", 1.0) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id string, w double")
    top = reservoir_top_k(df, 20, "doc_id", weight_col="w").collect()
    heavy = sum(1 for r in top if r["rid"].startswith("h"))
    assert heavy >= 16  # 50x weight dominates the sample
    # and every selected row keeps its weight for downstream reweighting
    assert all(r["weight"] in (50.0, 1.0) for r in top)


def test_streaming_reservoir_checkpointed_ndjson(spark, tmp_path):
    """availableNow end-to-end: files landing between runs fold in
    exactly once; the sample matches the batch construction."""
    import json
    import os

    from cumulus_etl_spark.streaming.reservoir import (
        reservoir_top_k,
        streaming_reservoir,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)

    def drop(name, ids):
        with open(os.path.join(in_dir, name), "w") as fh:
            for i in ids:
                fh.write(json.dumps({"doc_id": f"id{i}"}) + "\n")

    drop("a.ndjson", range(0, 30))
    res = streaming_reservoir(
        spark, in_dir, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        id_col="doc_id", schema="doc_id string", k=8,
    )
    first = [r["rid"] for r in res.sample().collect()]
    assert len(first) == 8

    drop("b.ndjson", range(30, 50))
    res = streaming_reservoir(
        spark, in_dir, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        id_col="doc_id", schema="doc_id string", k=8,
    )
    all_df = spark.createDataFrame(
        [(f"id{i}",) for i in range(50)], "doc_id string"
    )
    expect = [r["rid"] for r in reservoir_top_k(all_df, 8, "doc_id").collect()]
    assert [r["rid"] for r in res.sample().collect()] == expect


def test_reservoir_cli_end_to_end(spark, tmp_path, capsys):
    """reservoir verb: fold a landing dir, print the sample JSON."""
    import json
    import os

    from cumulus_etl_spark.cli import main

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "a.ndjson"), "w") as fh:
        for i in range(30):
            fh.write(json.dumps({"doc_id": f"id{i}", "w": 1.0 + i % 3}) + "\n")

    rc = main(["reservoir", in_dir, str(tmp_path / "state"), "doc_id",
               "--k", "5", "--weight-col", "w",
               "--schema", "doc_id string, w double"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["k"] == 5 and len(rep["sample"]) == 5
    scores = [r["score"] for r in rep["sample"]]
    assert scores == sorted(scores, reverse=True)


def test_reservoir_rejects_nonpositive_weights(spark):
    """A-ES is defined only for w > 0: a null/zero/negative weight would
    give inf/NaN u^(1/w) scores that silently pin themselves to the top
    of the persistent reservoir. The guard fails loudly in the scoring
    pass instead (round-9 advice)."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from cumulus_etl_spark.streaming.reservoir import reservoir_top_k

    for bad in (0.0, -2.5, None):
        df = spark.createDataFrame(
            [("a", 1.0), ("b", bad)], "doc_id string, w double"
        )
        with pytest.raises(SparkRuntimeException, match="must be > 0"):
            reservoir_top_k(df, 5, "doc_id", weight_col="w").collect()
    # positive weights still flow
    ok = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "doc_id string, w double")
    assert reservoir_top_k(ok, 5, "doc_id", weight_col="w").count() == 2
