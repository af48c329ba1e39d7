"""Output checks and lake measurements, run outside the timed window.

A table passes when its read-back rows are exactly the expected state:
one row per expected id, ids equal to HMAC-SHA256(salt, real id)
recomputed with the stdlib, each row holding the newest version's
``meta.lastUpdated`` (so stale versions lost and tombstones are gone), the
quarantined count equal to the injected malformed lines, and no PHI
sentinel, base64 note or raw id anywhere in any column.

Error messages carry counts only, never values, so printing them cannot
leak what the check looks for.
"""

from __future__ import annotations

import json
import os

from gen import SENTINEL, SENTINEL_B64, anon_id

# A raw (un-pseudonymized) generator id, anywhere in a row's JSON.
RAW_ID = r"\b(pat|enc|con|doc|obs)-[0-9]{7}"
PHI_PATTERN = f"{SENTINEL}|{SENTINEL_B64}|{RAW_ID}"
READER_BATCH = "spark.sql.parquet.columnarReaderBatchSize"


def check_table(spark, lake: str, table: str, expected: dict[str, str], salt: str,
                quarantined: int, reported_quarantine: int | None) -> list[str]:
    """Problems with ``lake/table`` against ``expected`` (real id ->
    lastUpdated); empty when the table is right."""
    from pyspark.sql import functions as F

    from cumulus_etl_spark.sinks import ManagedTable

    df = ManagedTable(spark, lake, table).read()
    if df is None:
        return [f"{table}: table missing"]
    # The PHI scan reads every leaf column (about 2,000 for the wide FHIR
    # schemas); at the default batch of 4,096 rows the vectorized reader's
    # per-column buffers make the scan ~3x slower than at a small batch.
    old_batch = spark.conf.get(READER_BATCH)
    spark.conf.set(READER_BATCH, "64")
    try:
        rows = df.select(
            F.col("id"),
            F.col("meta.lastUpdated").alias("updated"),
            F.to_json(F.struct(*[F.col(c) for c in df.columns])).rlike(PHI_PATTERN).alias("phi"),
        ).collect()
    finally:
        spark.conf.set(READER_BATCH, old_batch)
    want = {anon_id(salt, rid): updated for rid, updated in expected.items()}
    got = {r["id"]: r["updated"] for r in rows}
    problems = []
    if len(rows) != len(want):
        problems.append(f"{table}: {len(rows)} rows, expected {len(want)}")
    if len(got) != len(rows):
        problems.append(f"{table}: {len(rows) - len(got)} duplicate ids")
    missing, extra = len(want.keys() - got.keys()), len(got.keys() - want.keys())
    if missing or extra:
        problems.append(f"{table}: {missing} expected ids missing, {extra} unexpected ids")
    stale = sum(1 for k in want.keys() & got.keys() if want[k] != got[k])
    if stale:
        problems.append(f"{table}: {stale} rows hold a version other than the newest")
    phi = sum(1 for r in rows if r["phi"])
    if phi:
        problems.append(f"{table}: {phi} rows carry PHI or a raw id")
    if reported_quarantine != quarantined:
        problems.append(f"{table}: {reported_quarantine} lines quarantined, expected {quarantined}")
    return problems


def current_bytes(lake: str) -> int:
    """Bytes reachable from every table's ``_CURRENT`` version (each inode
    once: re-linked buckets are shared with older versions)."""
    seen: dict[int, int] = {}
    for table in os.listdir(lake):
        ptr = os.path.join(lake, table, "_CURRENT")
        if not os.path.isfile(ptr):
            continue
        with open(ptr) as fh:
            version = json.load(fh)["version"]
        for dirpath, _dirs, files in os.walk(os.path.join(lake, table, f"v{version}")):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                seen[st.st_ino] = st.st_size
    return sum(seen.values())
