"""i2b2 loader tests (S6-S7): CSV dims → FHIR frames → scrubber-compatible."""

from __future__ import annotations

import base64
import json
import os

from cumulus_etl_spark.deid import Scrubber
from cumulus_etl_spark.sources import i2b2


def write_csv(tmp_path, name, header, rows):
    os.makedirs(str(tmp_path), exist_ok=True)
    path = os.path.join(str(tmp_path), name)
    with open(path, "w") as fh:
        fh.write(header + "\n")
        for r in rows:
            fh.write(",".join("" if v is None else str(v) for v in r) + "\n")
    return path


def test_patients(spark, tmp_path):
    path = write_csv(
        tmp_path,
        "patient_dimension.csv",
        "PATIENT_NUM,SEX_CD,BIRTH_DATE,DEATH_DATE,ZIP_CD",
        [
            (1, "F", "1980-06-15 00:00:00", None, "02115"),
            (2, "M", "1975-01-02", "2020-05-05 12:00:00", None),
            (3, "X", None, None, None),
        ],
    )
    rows = {r["id"]: r for r in i2b2.patients(spark, path).collect()}
    assert rows["1"]["gender"] == "female"
    assert rows["1"]["birthDate"] == "1980-06-15"
    assert rows["1"]["address"][0]["postalCode"] == "02115"
    assert rows["2"]["deceasedDateTime"] == "2020-05-05"
    assert rows["3"]["gender"] == "unknown"
    assert rows["3"]["address"] is None


def test_encounters(spark, tmp_path):
    path = write_csv(
        tmp_path,
        "visit_dimension.csv",
        "ENCOUNTER_NUM,PATIENT_NUM,START_DATE,END_DATE,INOUT_CD,LENGTH_OF_STAY",
        [(10, 1, "2021-01-01 08:00:00", "2021-01-03 09:00:00", "Emergency", 2)],
    )
    row = i2b2.encounters(spark, path).collect()[0]
    assert row["class"]["code"] == "EMER"
    assert row["subject"]["reference"] == "Patient/1"
    assert row["period"]["start"] == "2021-01-01"
    assert row["length"]["value"] == 2.0


def test_conditions_icd_mapping(spark, tmp_path):
    path = write_csv(
        tmp_path,
        "observation_fact.csv",
        "INSTANCE_NUM,PATIENT_NUM,ENCOUNTER_NUM,CONCEPT_CD,START_DATE",
        [
            (1, 1, 10, "ICD10:E11.9", "2021-01-01"),
            (2, 1, 10, "LOCAL|weird", "2021-01-02"),
        ],
    )
    rows = i2b2.conditions(spark, path).collect()
    by_date = {r["recordedDate"]: r for r in rows}
    icd = by_date["2021-01-01"]["code"]["coding"][0]
    assert icd["system"] == "http://hl7.org/fhir/sid/icd-10-cm"
    assert icd["code"] == "E11.9"
    local = by_date["2021-01-02"]["code"]["coding"][0]
    assert local["system"] == i2b2.I2B2_SYSTEM
    assert local["code"] == "LOCAL|weird"
    assert by_date["2021-01-01"]["category"][0]["coding"][0]["code"] == "encounter-diagnosis"


def test_observations_valtype_dispatch(spark, tmp_path):
    path = write_csv(
        tmp_path,
        "observation_fact.csv",
        "INSTANCE_NUM,PATIENT_NUM,ENCOUNTER_NUM,CONCEPT_CD,START_DATE,VALTYPE_CD,TVAL_CHAR,NVAL_NUM,UNITS_CD",
        [
            (1, 1, 10, "LOINC:1234-5", "2021-01-01", "N", "GE", 7.5, "mg/dL"),
            (2, 1, 10, "LOINC:9999-9", "2021-01-02", "T", "positive", None, None),
            (3, 1, 10, "LOINC:0000-0", "2021-01-03", "@", None, None, None),
        ],
    )
    rows = {r["effectiveDateTime"]: r for r in i2b2.observations(spark, path).collect()}
    n = rows["2021-01-01"]
    assert n["valueQuantity"]["value"] == 7.5
    assert n["valueQuantity"]["comparator"] == ">="
    assert n["valueQuantity"]["unit"] == "mg/dL"
    assert n["valueCodeableConcept"] is None
    t = rows["2021-01-02"]
    assert t["valueQuantity"] is None
    assert t["valueCodeableConcept"]["coding"][0]["code"] == "positive"
    at = rows["2021-01-03"]
    assert at["valueQuantity"] is None and at["valueCodeableConcept"] is None


def test_docrefs_and_meds(spark, tmp_path):
    path = write_csv(
        tmp_path,
        "observation_fact.csv",
        "INSTANCE_NUM,PATIENT_NUM,ENCOUNTER_NUM,CONCEPT_CD,START_DATE,TVAL_CHAR,OBSERVATION_BLOB",
        [(1, 1, 10, "NOTE:x", "2021-01-01 11:00:00", "Progress note", "hello world")],
    )
    doc = i2b2.documentreferences(spark, path).collect()[0]
    assert doc["date"] == "2021-01-01"  # chopped like every other i2b2 date
    assert base64.b64decode(doc["content"][0]["attachment"]["data"]).decode() == "hello world"
    assert doc["context"]["encounter"][0]["reference"] == "Encounter/10"
    med = i2b2.medicationrequests(spark, path).collect()[0]
    assert med["medicationCodeableConcept"]["coding"][0]["code"] == "NOTE:x"


def test_i2b2_output_scrubs(spark, tmp_path):
    """The i2b2→FHIR frames run straight through the de-id scrubber."""
    path = write_csv(
        tmp_path,
        "patient_dimension.csv",
        "PATIENT_NUM,SEX_CD,BIRTH_DATE,DEATH_DATE,ZIP_CD",
        [(1, "F", "1980-06-15", None, "02115")],
    )
    df = i2b2.patients(spark, path)
    out = Scrubber(salt="ab").scrub(df, "Patient").collect()[0]
    assert out["birthDate"] == "1980"
    assert out["address"][0]["postalCode"] == "02100"
    assert len(out["id"]) == 64  # sha-256 hex


def _seven_csv_dump(root):
    """One CSV of each of the seven kinds ``etl-i2b2`` reads."""
    fact = "INSTANCE_NUM,PATIENT_NUM,ENCOUNTER_NUM,CONCEPT_CD,START_DATE"
    write_csv(root, "patient_dimension.csv",
              "PATIENT_NUM,SEX_CD,BIRTH_DATE,DEATH_DATE,ZIP_CD",
              [(1, "F", "1980-06-15", None, "02115"), (2, "M", "1990-01-01", None, None)])
    write_csv(root, "visit_dimension.csv",
              "ENCOUNTER_NUM,PATIENT_NUM,START_DATE,END_DATE,INOUT_CD,LENGTH_OF_STAY",
              [(10, 1, "2021-01-01", "2021-01-02", "Emergency", 1),
               (11, 2, "2021-02-01 08:00:00", None, "Inpatient", None)])
    write_csv(root, "observation_fact_diagnosis.csv", fact,
              [(1, 1, 10, "ICD10:E11.9", "2021-01-01"), (2, 2, 11, "LOCAL|x", "2021-02-01")])
    write_csv(root, "observation_fact_lab_views.csv",
              fact + ",VALTYPE_CD,TVAL_CHAR,NVAL_NUM,UNITS_CD",
              [(3, 1, 10, "LOINC:1234-5", "2021-01-01", "N", "GE", 7.5, "mg/dL"),
               (4, 2, 11, "LOINC:9999-9", "2021-02-01", "T", "positive", None, None)])
    write_csv(root, "observation_fact_vitals.csv",
              fact + ",VALTYPE_CD,TVAL_CHAR,NVAL_NUM,UNITS_CD",
              [(5, 1, 10, "LOINC:8867-4", "2021-01-01 09:30:00", "N", "E", 72, "bpm")])
    write_csv(root, "observation_fact_notes.csv",
              fact + ",TVAL_CHAR,OBSERVATION_BLOB",
              [(6, 1, 10, "NOTE:x", "2021-01-01 11:00:00", "Progress note", "hello world")])
    write_csv(root, "observation_fact_medications.csv", fact,
              [(7, 2, 11, "RXNORM:197361", "2021-02-01")])


def _row_set(df):
    """Rows as canonical JSON (null fields dropped, keys sorted): frames
    with the same rows compare equal whatever their schema's width."""
    import json

    return sorted(json.dumps(json.loads(j), sort_keys=True) for j in df.toJSON().collect())


def test_run_etl_i2b2_end_to_end(spark, tmp_path):
    """etl-i2b2 stages the dump as FHIR NDJSON under the PHI dir and
    loads it through run_etl: each table equals the scrubbed converter
    output, and the run writes what every etl run writes."""
    import glob
    import shutil
    from pathlib import Path

    from pyspark.sql import functions as F

    from cumulus_etl_spark.deid.codebook import read_salt
    from cumulus_etl_spark.etl.i2b2_pipeline import STAGING_DIR, run_etl_i2b2
    from cumulus_etl_spark.sinks import ManagedTable

    indir = str(tmp_path / "dump")
    out, phi = str(tmp_path / "out"), str(tmp_path / "phi")
    _seven_csv_dump(tmp_path / "dump")

    summary = run_etl_i2b2(spark, indir, out, phi)
    assert summary["success"]
    assert summary["errors"] == 0
    assert summary["tables"]["patient"]["rows"] == 2
    assert summary["tables"]["observation"]["rows"] == 3  # lab_views + vitals
    assert summary["tables"]["condition"]["rows"] == 2

    scrubber = Scrubber(salt=read_salt(phi))
    sources = {
        "Patient": [("patient_dimension.csv", i2b2.patients)],
        "Encounter": [("visit_dimension.csv", i2b2.encounters)],
        "Condition": [("observation_fact_diagnosis.csv", i2b2.conditions)],
        "Observation": [("observation_fact_lab_views.csv", i2b2.observations),
                        ("observation_fact_vitals.csv", i2b2.observations)],
        "DocumentReference": [("observation_fact_notes.csv", i2b2.documentreferences)],
        "MedicationRequest": [("observation_fact_medications.csv",
                               i2b2.medicationrequests)],
    }
    for rt, files in sources.items():
        frames = [fn(spark, os.path.join(indir, name)) for name, fn in files]
        fhir = frames[0]
        for f in frames[1:]:
            fhir = fhir.unionByName(f)
        got = ManagedTable(spark, out, rt.lower()).read()
        assert _row_set(got) == _row_set(scrubber.scrub(fhir, rt)), rt

    pat = ManagedTable(spark, out, "patient").read()
    con = ManagedTable(spark, out, "condition").read()
    assert "birthDate" in pat.columns
    assert {r["birthDate"] for r in pat.collect()} == {"1980", "1990"}  # year-chopped
    # refs align across tables under the same codebook
    joined = con.join(pat, con["subject.reference"] == F.concat(F.lit("Patient/"), pat["id"]))
    assert joined.count() == 2

    # the run shell of every etl run: completion tables and the job record
    for name in ("etl__completion", "etl__completion_encounters"):
        assert ManagedTable(spark, out, name).read().count() > 0, name
    assert glob.glob(os.path.join(out, "JobConfig", "*", "job_summary.json"))
    # staged raw rows stay on the PHI side
    staged = glob.glob(os.path.join(phi, STAGING_DIR, "**", "*.ndjson"), recursive=True)
    assert staged
    docs = [json.loads(line) for path in staged for line in Path(path).read_text().splitlines()
            if '"resourceType":"DocumentReference"' in line]
    assert [d["date"] for d in docs] == ["2021-01-01"]
    assert not glob.glob(os.path.join(out, "**", "*.ndjson"), recursive=True)

    # the staging tree is replaced: a dump without visits stages no Encounter
    smaller = str(tmp_path / "smaller")
    os.makedirs(smaller)
    shutil.copy(os.path.join(indir, "patient_dimension.csv"), smaller)
    assert run_etl_i2b2(spark, smaller, out, phi)["success"]
    staged = glob.glob(os.path.join(phi, STAGING_DIR, "**", "*.ndjson"), recursive=True)
    lines = [line for path in staged for line in Path(path).read_text().splitlines()]
    assert lines and not any('"resourceType":"Encounter"' in line for line in lines)
