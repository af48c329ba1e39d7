"""End-to-end ETL pipeline tests (SURVEY §3.1, §3.3): NDJSON in →
de-identified managed tables → SQL."""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from cumulus_etl_spark.etl import run_convert, run_etl, run_init
from cumulus_etl_spark.etl.completion import COMPLETION_ENCOUNTERS_TABLE, COMPLETION_TABLE
from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
from cumulus_etl_spark.sinks.batched import write_ndjson_batches
from tests.fhir_fixtures import write_ndjson, write_standard_input, expected_anon_id


@pytest.fixture()
def dirs(tmp_path):
    return {
        "input": write_standard_input(str(tmp_path / "input")),
        "output": str(tmp_path / "output"),
        "phi": str(tmp_path / "phi"),
    }


def test_etl_end_to_end(spark, dirs):
    summary = run_etl(spark, dirs["input"], dirs["output"], dirs["phi"], group_name="g1",
                      export_datetime="2021-03-05T00:00:00Z")
    assert summary["success"]
    assert summary["tables"]["patient"]["rows"] == 2
    assert summary["tables"]["encounter"]["rows"] == 2

    # Query the lake: de-identified, joinable via pseudonymous refs
    pat = ManagedTable(spark, dirs["output"], "patient").read()
    enc = ManagedTable(spark, dirs["output"], "encounter").read()
    assert pat.count() == 2
    assert "name" not in pat.columns
    joined = enc.join(pat, enc["subject.reference"] == F.concat(F.lit("Patient/"), pat["id"]))
    assert joined.count() == 2

    # Codebook salt determines the pseudonyms
    with open(os.path.join(dirs["phi"], "codebook.json")) as fh:
        salt = json.load(fh)["salt"]
    anon_pat1 = expected_anon_id(salt, "pat-1")
    assert anon_pat1 in {r["id"] for r in pat.collect()}

    # Completion metadata written
    comp = ManagedTable(spark, dirs["output"], COMPLETION_TABLE).read()
    comp_rows = {r["table_name"] for r in comp.collect()}
    assert {"patient", "encounter", "condition", "documentreference"} <= comp_rows
    ce = ManagedTable(spark, dirs["output"], COMPLETION_ENCOUNTERS_TABLE).read()
    assert ce.count() == 2

    # JobConfig + summary persisted
    jc_dir = os.path.join(dirs["output"], "JobConfig")
    runs = os.listdir(jc_dir)
    assert len(runs) == 1
    assert os.path.exists(os.path.join(jc_dir, runs[0], "job_config.json"))
    assert os.path.exists(os.path.join(jc_dir, runs[0], "job_summary.json"))


def test_etl_is_incremental(spark, dirs):
    run_etl(spark, dirs["input"], dirs["output"], dirs["phi"])
    # second run with an updated row
    write_ndjson(dirs["input"], "patients.ndjson", [
        {
            "resourceType": "Patient",
            "id": "pat-1",
            "meta": {"lastUpdated": "2022-01-01T00:00:00Z"},
            "gender": "female",
            "birthDate": "1980-06-15",
        },
        {"resourceType": "Patient", "id": "pat-3", "gender": "other"},
    ])
    run_etl(spark, dirs["input"], dirs["output"], dirs["phi"], tasks=["patient"])
    pat = ManagedTable(spark, dirs["output"], "patient").read()
    assert pat.count() == 3  # pat-1 updated, pat-2 kept, pat-3 inserted


def test_deleted_bundle_applied(spark, dirs):
    run_etl(spark, dirs["input"], dirs["output"], dirs["phi"])
    write_ndjson(os.path.join(dirs["input"], "deleted"), "d.ndjson", [
        {"resourceType": "Bundle",
         "entry": [{"request": {"method": "DELETE", "url": "Patient/pat-2"}}]}
    ])
    run_etl(spark, dirs["input"], dirs["output"], dirs["phi"], tasks=["patient"])
    pat = ManagedTable(spark, dirs["output"], "patient").read()
    with open(os.path.join(dirs["phi"], "codebook.json")) as fh:
        salt = json.load(fh)["salt"]
    assert expected_anon_id(salt, "pat-2") not in {
        r["id"] for r in pat.collect()
    }
    assert pat.count() == 1


def test_phi_pairing_guard(spark, dirs, tmp_path):
    run_etl(spark, dirs["input"], dirs["output"], dirs["phi"])
    other_phi = str(tmp_path / "other-phi")
    with pytest.raises(ValueError, match="refusing to mix"):
        run_etl(spark, dirs["input"], dirs["output"], other_phi)


def test_quarantine_spill(spark, dirs):
    with open(os.path.join(dirs["input"], "broken.ndjson"), "w") as fh:
        fh.write('{"resourceType": "Patient", "id": "okx"}\n')
        fh.write("not json at all\n")
    summary = run_etl(spark, dirs["input"], dirs["output"], dirs["phi"], tasks=["patient"])
    assert not summary["success"]
    assert summary["tables"]["patient"]["quarantined"] == 1
    # PHI discipline: raw quarantined lines live PHI-side, never under the
    # de-identified output tree.
    assert os.path.isdir(os.path.join(dirs["phi"], "errors", "patient"))
    assert not os.path.exists(os.path.join(dirs["output"], "errors"))


def test_quarantine_spill_explicit_errors_dir(spark, dirs, tmp_path):
    with open(os.path.join(dirs["input"], "broken2.ndjson"), "w") as fh:
        fh.write('{"resourceType": "Patient", "id": "oky"}\n')
        fh.write("still not json\n")
    errs = str(tmp_path / "errs")
    summary = run_etl(
        spark, dirs["input"], dirs["output"], dirs["phi"], tasks=["patient"], errors_to=errs
    )
    assert summary["tables"]["patient"]["quarantined"] == 1
    assert os.path.isdir(os.path.join(errs, "patient"))
    assert not os.path.exists(os.path.join(dirs["phi"], "errors"))
    assert not os.path.exists(os.path.join(dirs["output"], "errors"))


def test_etl_all_twenty_task_types(spark, tmp_path):
    """E2E over every basic-task resource type (ref basic_tasks.py:21-138):
    each type gets its table, refs are pseudonymized, and the conditional
    identifier rules keep NPI/CLIA identifiers while dropping site-internal
    ones."""
    import hashlib as _h
    import json as _j

    from tests.fhir_fixtures import write_wide_input

    input_dir = write_wide_input(str(tmp_path / "in"))
    out, phi = str(tmp_path / "out"), str(tmp_path / "phi")
    summary = run_etl(spark, input_dir, out, phi)
    assert summary["success"]
    expected = {
        "patient", "encounter", "allergyintolerance", "condition", "device",
        "diagnosticreport", "documentreference", "episodeofcare", "immunization",
        "location", "medication", "medicationdispense", "medicationrequest",
        "observation", "organization", "practitioner", "practitionerrole",
        "procedure", "servicerequest", "specimen",
    }
    assert expected <= set(summary["tables"])
    assert all(summary["tables"][t]["rows"] >= 1 for t in expected)

    with open(os.path.join(phi, "codebook.json")) as fh:
        salt = _j.load(fh)["salt"]

    def anon(rid):
        return expected_anon_id(salt, rid)

    # conditional identifiers: NPI kept, site-internal dropped
    loc = ManagedTable(spark, out, "location").read().collect()[0]
    systems = {i["system"] for i in (loc["identifier"] or [])}
    assert systems == {"http://hl7.org/fhir/sid/us-npi"}
    assert loc["name"] == "Main Campus ED"
    assert loc["managingOrganization"]["reference"] == f"Organization/{anon('org-1')}"

    org = ManagedTable(spark, out, "organization").read().collect()[0]
    assert {i["system"] for i in (org["identifier"] or [])} == {"urn:oid:2.16.840.1.113883.4.7"}

    # practitioner: names gone, NPI kept, birthDate generalized to year
    prac = ManagedTable(spark, out, "practitioner").read().collect()[0]
    assert "name" not in ManagedTable(spark, out, "practitioner").read().columns
    assert prac["birthDate"] == "1959"
    assert {i["system"] for i in (prac["identifier"] or [])} == {"http://hl7.org/fhir/sid/us-npi"}

    # specimen: collector/subject refs pseudonymized; accession dropped
    spec = ManagedTable(spark, out, "specimen").read()
    assert "accessionIdentifier" not in spec.columns
    row = spec.collect()[0]
    assert row["subject"]["reference"] == f"Patient/{anon('pat-1')}"
    assert row["collection"]["collector"]["reference"] == f"Practitioner/{anon('prac-1')}"

    # device: patient ref pseudonymized, hardware strings intact
    dev = ManagedTable(spark, out, "device").read().collect()[0]
    assert dev["patient"]["reference"] == f"Patient/{anon('pat-1')}"
    assert dev["serialNumber"] == "SN-001"


def test_init_creates_empty_tables_with_schema(spark, tmp_path):
    out = str(tmp_path / "out")
    created = run_init(spark, out, tasks=["patient", "condition"])
    assert created == ["patient", "condition"]
    pat = ManagedTable(spark, out, "patient").read()
    assert pat.count() == 0
    assert "birthDate" in pat.columns and "name" not in pat.columns


def test_etl_ndjson_output_then_convert(spark, dirs, tmp_path):
    """The reference's file-output mode: etl --output-format=ndjson writes
    batched NDJSON per table; convert re-loads it into a lake."""
    staging = str(tmp_path / "staging")
    summary = run_etl(spark, dirs["input"], staging, dirs["phi"], output_format="ndjson")
    assert summary["success"]
    assert os.path.isdir(os.path.join(staging, "patient"))
    lake = str(tmp_path / "lake")
    converted = run_convert(spark, staging, lake)
    assert "patient" in converted and "encounter" in converted
    pat = ManagedTable(spark, lake, "patient").read()
    assert pat.count() == 2
    assert "name" not in pat.columns  # scrubbed before the files were written


def test_convert_roundtrip(spark, dirs, tmp_path):
    run_etl(spark, dirs["input"], dirs["output"], dirs["phi"])
    # export the patient table as batched NDJSON, then convert into a new lake
    pat = ManagedTable(spark, dirs["output"], "patient").read()
    staging = str(tmp_path / "staging")
    write_ndjson_batches(pat, os.path.join(staging, "patient"))
    new_lake = str(tmp_path / "lake2")
    converted = run_convert(spark, staging, new_lake)
    assert converted == ["patient"]
    pat2 = ManagedTable(spark, new_lake, "patient").read()
    assert pat2.count() == 2
    assert {r["id"] for r in pat2.collect()} == {r["id"] for r in pat.collect()}


def test_etl_stores_the_fields_the_export_holds(spark, tmp_path):
    """A fresh ETL table reads under the full scrubbed contract while its
    files store only the fields the export holds; a later export that
    adds an allow-listed field widens the stored columns, and the first
    run's rows read back null in it; a key that only a schema-breaking
    line carries still quarantines that line."""
    from cumulus_etl_spark.etl.pipeline import _scrubbed_schema
    from cumulus_etl_spark.etl.tasks import select_tasks
    from cumulus_etl_spark.sinks.merge import _nullable

    inp, out, phi = (str(tmp_path / d) for d in ("in", "out", "phi"))
    write_ndjson(inp, "p.ndjson", [
        {"resourceType": "Patient", "id": "p1", "gender": "female",
         "meta": {"lastUpdated": "2021-01-01T00:00:00Z"}},
        {"resourceType": "Patient", "id": "p2", "birthDate": "1980-06-15"},
        # an array field as one object: quarantined, and its key is parsed
        {"resourceType": "Patient", "id": "p3", "generalPractitioner": {"reference": "x"}},
    ])
    summary = run_etl(spark, inp, out, phi, tasks=["patient"])
    assert summary["tables"]["patient"] == {"rows": 2, "quarantined": 1}
    spilled = [json.loads(line)["raw_line"]
               for f in glob.glob(os.path.join(phi, "errors", "patient", "*.json"))
               for line in open(f)]
    assert len(spilled) == 1 and '"id": "p3"' in spilled[0]

    table = ManagedTable(spark, out, "patient")
    (task,) = select_tasks(["patient"])
    contract = _scrubbed_schema(spark, task)
    assert table._pointer()["schema"] == _nullable(contract).json()
    read_schema = table.read().schema  # the file source reads it all nullable
    assert read_schema.simpleString() == contract.simpleString()
    stored = table._pointer()["stored"]
    assert {"id", "meta", "gender", "birthDate", "generalPractitioner"} <= set(stored)
    assert "maritalStatus" not in stored and "address" not in stored

    write_ndjson(inp, "p.ndjson", [
        {"resourceType": "Patient", "id": "p1", "gender": "female",
         "meta": {"lastUpdated": "2022-01-01T00:00:00Z"},
         "maritalStatus": {"text": "Married"}},
    ])
    run_etl(spark, inp, out, phi, tasks=["patient"])
    stored2 = table._pointer()["stored"]
    assert set(stored) < set(stored2) and "maritalStatus" in stored2
    assert table.read().schema == read_schema
    salt = _salt(phi)
    marital = {r["id"]: r["maritalStatus"] for r in table.read().collect()}
    assert set(marital) == {expected_anon_id(salt, "p1"), expected_anon_id(salt, "p2")}
    assert marital[expected_anon_id(salt, "p1")]["text"] == "Married"
    assert marital[expected_anon_id(salt, "p2")] is None


def test_init_then_etl_stores_what_a_plain_etl_stores(spark, tmp_path):
    """``init`` writes each table narrow, under the scrubbed contract: a
    sparse load onto it stores the same top-level columns as the same
    load into an empty lake, and the table reads under the contract
    before and after. The pointer records the schema as it reads back,
    and a ``delete_ids`` leaves it as it was."""
    from cumulus_etl_spark.etl.pipeline import _scrubbed_schema
    from cumulus_etl_spark.etl.tasks import select_tasks
    from cumulus_etl_spark.sinks.merge import _nullable

    (task,) = select_tasks(["patient"])
    contract = _nullable(_scrubbed_schema(spark, task))
    inp = str(tmp_path / "in")
    write_ndjson(inp, "p.ndjson", [
        {"resourceType": "Patient", "id": "p1", "gender": "female",
         "meta": {"lastUpdated": "2021-01-01T00:00:00Z"}},
        {"resourceType": "Patient", "id": "p2", "birthDate": "1980-06-15"},
    ])
    plain = str(tmp_path / "plain")
    run_etl(spark, inp, plain, str(tmp_path / "phi_plain"), tasks=["patient"])
    want = ManagedTable(spark, plain, "patient")._pointer()["stored"]
    assert len(want) < len(contract.fields)

    lake = str(tmp_path / "lake")
    assert run_init(spark, lake, tasks=["patient"]) == ["patient"]
    table = ManagedTable(spark, lake, "patient")
    assert table.read().schema == contract == table.schema()
    run_etl(spark, inp, lake, str(tmp_path / "phi"), tasks=["patient"])
    assert table._pointer()["stored"] == want
    assert table.read().schema == contract == table.schema()

    table.delete_ids([table.read().collect()[0]["id"]])
    assert table.schema() == contract and table.read().count() == 1


def test_dense_export_takes_its_contract_from_the_scrubbed_frame(spark, tmp_path, monkeypatch):
    """An export that holds every top-level field parses the full schema,
    so a new table's contract is its scrubbed frame's own schema: no
    separate contract scrub is built, and every column is stored."""
    import cumulus_etl_spark.etl.pipeline as pipeline_mod
    from cumulus_etl_spark.etl.tasks import select_tasks
    from cumulus_etl_spark.schemas import schema_for

    (task,) = select_tasks(["patient"])
    contract = pipeline_mod._scrubbed_schema(spark, task)

    def no_build(*_a, **_k):
        raise AssertionError("contract scrub built for an export holding every field")

    monkeypatch.setattr(pipeline_mod, "_scrubbed_schema", no_build)
    inp, out, phi = (str(tmp_path / d) for d in ("in", "out", "phi"))
    line = dict.fromkeys(schema_for("Patient").fieldNames())
    line.update(resourceType="Patient", id="p1", gender="female")
    write_ndjson(inp, "p.ndjson", [line])
    summary = run_etl(spark, inp, out, phi, tasks=["patient"])
    assert summary["tables"]["patient"] == {"rows": 1, "quarantined": 0}

    table = ManagedTable(spark, out, "patient")
    assert table._pointer()["stored"] == table.schema().fieldNames()
    assert table.read().schema.simpleString() == contract.simpleString()
    assert [r["gender"] for r in table.read().collect()] == ["female"]


def _salt(phi: str) -> str:
    with open(os.path.join(phi, "codebook.json")) as fh:
        return json.load(fh)["salt"]


def test_job_context_recorded(spark, dirs):
    from cumulus_etl_spark.etl.context import JobContext

    run_etl(spark, dirs["input"], dirs["output"], dirs["phi"], tasks=["patient"], batch_size=1234)
    ctx = JobContext(dirs["phi"])
    assert ctx.last_successful_input == dirs["input"]
    assert ctx.last_successful_output == dirs["output"]
    assert ctx.last_successful_datetime is not None
    (saved,) = glob.glob(os.path.join(dirs["output"], "JobConfig", "*", "job_config.json"))
    with open(saved) as fh:
        assert json.load(fh)["batch_size"] == 1234


def test_merge_clustering_prunes_key_lookups(spark, tmp_path):
    """Merge writes range-partition version files by key; a point lookup
    pushes its predicate to the parquet scan."""
    from pyspark.sql import functions as F

    tbl = ManagedTable(spark, str(tmp_path), "clustered")
    df = spark.createDataFrame([(f"k{i:05d}", i) for i in range(1000)], "id string, v int")
    tbl.merge(df, MergePolicy(last_updated_field=None))
    plan = (
        tbl.read().filter(F.col("id") == "k00500")._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,k00500)]" in plan
