"""NDJSON source tests (SURVEY §2.1 S1-S5)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from cumulus_etl_spark.sources import (
    detect_resources,
    read_deleted_ids,
    scan_resources,
    scan_with_quarantine,
)
from cumulus_etl_spark.sources.ndjson import read_lines, tombstones
from tests.fhir_fixtures import (
    CONDITIONS,
    DOCREFS,
    ENCOUNTERS,
    PATIENTS,
    write_ndjson,
    write_standard_input,
)


def test_scan_filters_resource_type(spark, tmp_path):
    root = write_standard_input(str(tmp_path))
    df = scan_resources(spark, root, ["Patient"])
    rows = df.select("id", "gender", "birthDate").orderBy("id").collect()
    assert [r["id"] for r in rows] == ["pat-1", "pat-2"]
    assert rows[0]["gender"] == "female"


def test_scan_nested_fields(spark, tmp_path):
    root = write_standard_input(str(tmp_path))
    df = scan_resources(spark, root, ["Encounter"])
    row = df.filter(F.col("id") == "enc-1").select(F.col("class.code").alias("c"), "period.start").collect()[0]
    assert row["c"] == "AMB"
    assert row["start"] == "2021-02-01T09:00:00Z"


def test_scan_recursive_and_multi_type(spark, tmp_path):
    sub = tmp_path / "nested" / "deeper"
    write_ndjson(str(sub), "mixed.ndjson", [
        {"resourceType": "Patient", "id": "p9"},
        {"resourceType": "Condition", "id": "c9"},
        {"resourceType": "Device", "id": "d9"},  # not requested -> filtered
    ])
    df = scan_resources(spark, str(tmp_path), ["Patient", "Condition"])
    assert {r["id"] for r in df.select("id").collect()} == {"p9", "c9"}


def test_corrupt_rows_quarantined(spark, tmp_path):
    path = os.path.join(str(tmp_path), "bad.ndjson")
    os.makedirs(str(tmp_path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(json.dumps({"resourceType": "Patient", "id": "ok-1"}) + "\n")
        fh.write("{this is not json\n")
    good, bad = scan_with_quarantine(spark, str(tmp_path), ["Patient"])
    assert [r["id"] for r in good.select("id").collect()] == ["ok-1"]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert "not json" in bad_rows[0]["raw_line"]


def test_detect_resources(spark, tmp_path):
    """The census maps each type present to the top-level keys its lines
    hold, counting lines that will be quarantined."""
    root = write_standard_input(str(tmp_path / "in"))
    with open(os.path.join(root, "odd.ndjson"), "w") as fh:
        # schema-breaking (an array field as one object): its key still counts
        fh.write(json.dumps({"resourceType": "Patient", "id": "p-bad",
                             "generalPractitioner": {"reference": "Practitioner/1"}}) + "\n")
        fh.write("{not json\n")
    found = detect_resources(spark, root)
    want: dict[str, set[str]] = {}
    for r in PATIENTS + ENCOUNTERS + CONDITIONS + DOCREFS:
        want.setdefault(r["resourceType"], set()).update(r)
    want["Patient"] |= {"generalPractitioner"}
    assert set(found) == {"Patient", "Encounter", "Condition", "DocumentReference"}
    assert found == want
    assert detect_resources(spark, str(tmp_path / "empty")) == {}


def test_census_cut_parse_quarantines_like_the_full_parse(spark, tmp_path):
    """Parsing under the census-cut schema keeps the present fields only,
    and a key that appears only in a schema-breaking line still
    quarantines that line."""
    root = write_standard_input(str(tmp_path))
    bad_line = {"resourceType": "Patient", "id": "p-bad",
                "generalPractitioner": {"reference": "Practitioner/1"}}
    write_ndjson(root, "odd.ndjson", [bad_line])
    found = detect_resources(spark, root)
    good, bad = scan_with_quarantine(spark, root, ["Patient"], found)
    full_good, full_bad = scan_with_quarantine(spark, root, ["Patient"])
    assert good.columns == [c for c in full_good.columns if c in found["Patient"]]
    assert "generalPractitioner" in good.columns
    def rows(df):
        return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect())

    assert rows(good) == rows(full_good.select(*good.columns))
    assert [json.loads(r["raw_line"])["id"] for r in bad.collect()] == ["p-bad"]
    assert bad.count() == full_bad.count() == 1


def test_read_deleted_ids(spark, tmp_path):
    """Only DELETE entries of Bundle lines under ``deleted/`` count: a
    Bundle elsewhere deletes nothing, and a malformed line under
    ``deleted/`` is skipped. The rows equal those of a ``spark.read.json``
    reader of the same dir, and :func:`tombstones` of the whole tree."""
    deleted_dir = str(tmp_path / "deleted")
    write_ndjson(deleted_dir, "del.ndjson", [
        {
            "resourceType": "Bundle",
            "entry": [
                {"request": {"method": "DELETE", "url": "Patient/pat-1"}},
                {"request": {"method": "DELETE", "url": "Observation/obs-3"}},
                {"request": {"method": "GET", "url": "Patient/pat-2"}},
            ],
        },
        {"resourceType": "Bundle", "entry": {"request": {"method": "DELETE", "url": "Patient/x"}}},
        {"resourceType": "Patient", "id": "pat-4"},
    ])
    with open(os.path.join(deleted_dir, "del.ndjson"), "a") as fh:
        fh.write('{"resourceType": "Bundle", "entry": [\n')
        fh.write("not json\n")
    write_ndjson(str(tmp_path / "other"), "b.ndjson", [
        {"resourceType": "Bundle",
         "entry": [{"request": {"method": "DELETE", "url": "Patient/pat-9"}}]},
    ])
    want = {("Patient", "pat-1"), ("Observation", "obs-3")}

    df = read_deleted_ids(spark, str(tmp_path))
    assert {(r["resource_type"], r["id"]) for r in df.collect()} == want
    whole = tombstones(read_lines(spark.read, str(tmp_path)))
    assert {(r["resource_type"], r["id"]) for r in whole.collect()} == want

    entry = "array<struct<request: struct<method: string, url: string>>>"
    parts = F.split("e.request.url", "/")
    by_read_json = (
        spark.read.schema(f"resourceType string, entry {entry}")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.ndjson")
        .json(deleted_dir)
        .filter(F.col("resourceType") == "Bundle")
        .select(F.explode("entry").alias("e"))
        .filter((F.upper("e.request.method") == "DELETE") & (F.size(parts) == 2))
        .select(parts[0], parts[1])
    )
    assert {tuple(r) for r in by_read_json.collect()} == want


def test_read_deleted_ids_empty(spark, tmp_path):
    df = read_deleted_ids(spark, str(tmp_path))
    assert df.count() == 0
