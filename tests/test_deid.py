"""De-id engine tests (SURVEY §2.3 P1-P12, §1.3)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from cumulus_etl_spark.deid import Codebook, Scrubber
from cumulus_etl_spark.deid.philter import scrub_text
from cumulus_etl_spark.etl.tasks import BASIC_TASKS
from cumulus_etl_spark.sources import detect_resources, scan_resources, scan_with_quarantine
from tests.fhir_fixtures import write_ndjson, write_standard_input, write_wide_input

SALT = "0123456789abcdef"


def sha(s: str) -> str:
    from tests.fhir_fixtures import expected_anon_id

    return expected_anon_id(SALT, s)


def scrubbed(spark, tmp_path, resource_type):
    root = write_standard_input(str(tmp_path))
    df = scan_resources(spark, root, [resource_type])
    return Scrubber(salt=SALT).scrub(df, resource_type)


def test_patient_projection_and_anon(spark, tmp_path):
    out = scrubbed(spark, tmp_path, "Patient")
    # PHI columns gone from the schema entirely (allow-list projection)
    for gone in ("name", "telecom", "identifier"):
        assert gone not in out.columns
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {sha("pat-1"), sha("pat-2")}
    p1 = rows[sha("pat-1")]
    assert p1["birthDate"] == "1980"  # year generalization
    assert p1["gender"] == "female"
    assert p1["address"][0]["postalCode"] == "02100"  # zip generalize
    assert p1["address"][0]["state"] == "MA"
    assert "line" not in (out.schema["address"].dataType.elementType.fieldNames())
    # restricted prefix 036xx -> fully zeroed
    assert rows[sha("pat-2")]["address"][0]["postalCode"] == "00000"


def test_extension_allowlist(spark, tmp_path):
    out = scrubbed(spark, tmp_path, "Patient")
    p1 = {r["id"]: r for r in out.collect()}[sha("pat-1")]
    urls = [e["url"] for e in (p1["extension"] or [])]
    assert urls == ["http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex"]
    assert p1["extension"][0]["valueCode"] == "F"


def test_reference_rewrite(spark, tmp_path):
    out = scrubbed(spark, tmp_path, "Encounter")
    rows = {r["id"]: r for r in out.collect()}
    e1 = rows[sha("enc-1")]
    assert e1["subject"]["reference"] == f"Patient/{sha('pat-1')}"
    assert e1["class"]["code"] == "AMB"
    assert e1["period"]["start"] == "2021-02-01T09:00:00Z"
    # Reference.display is not allow-listed
    assert "display" not in out.schema["subject"].dataType.fieldNames()


def test_nested_codeable_concepts_survive(spark, tmp_path):
    out = scrubbed(spark, tmp_path, "Condition")
    row = out.collect()[0]
    assert row["code"]["coding"][0]["code"] == "44054006"
    assert row["code"]["coding"][0]["display"] == "Diabetes"
    assert row["encounter"]["reference"] == f"Encounter/{sha('enc-1')}"


def test_docref_note_masked_by_default(spark, tmp_path):
    out = scrubbed(spark, tmp_path, "DocumentReference")
    rows = {r["id"]: r for r in out.collect()}
    d1 = rows[sha("doc-1")]
    att = d1["content"][0]["attachment"]
    assert att["data"] is None  # mask-note
    assert att["url"] is None
    assert att["contentType"] == "text/plain"
    assert d1["context"]["encounter"][0]["reference"] == f"Encounter/{sha('enc-1')}"


def test_masked_fields_get_data_absent_extension(spark, tmp_path):
    """Masked values synthesize the FHIR primitive-extension sibling
    ``_<field>`` with data-absent-reason=masked, only where a value was
    present (ref scrubber.py:178-182,320-335)."""
    out = scrubbed(spark, tmp_path, "DocumentReference")
    rows = {r["id"]: r for r in out.collect()}
    d1 = rows[sha("doc-1")]
    att = d1["content"][0]["attachment"]
    assert att["data"] is None
    ext = att["_data"]["extension"][0]
    assert ext["url"] == "http://hl7.org/fhir/StructureDefinition/data-absent-reason"
    assert ext["valueCode"] == "masked"
    # doc-2 has no attachment data → no marker either
    if sha("doc-2") in rows:
        att2 = rows[sha("doc-2")]["content"][0]["attachment"]
        if att2["data"] is None and "_data" in att2.asDict():
            pass  # marker must be null when nothing was masked
    # Observation.valueString is masked per the reference ruleset
    write_ndjson(str(tmp_path / "obs"), "obs.ndjson", [
        {"resourceType": "Observation", "id": "o-text", "status": "final",
         "code": {"coding": [{"system": "http://loinc.org", "code": "1234-5"}]},
         "valueString": "patient says hello"},
        {"resourceType": "Observation", "id": "o-qty", "status": "final",
         "code": {"coding": [{"system": "http://loinc.org", "code": "8867-4"}]},
         "valueQuantity": {"value": 72.0, "unit": "bpm"}},
    ])
    df = scan_resources(spark, str(tmp_path / "obs"), ["Observation"])
    oout = Scrubber(salt=SALT).scrub(df, "Observation")
    orows = {r["id"]: r for r in oout.collect()}
    masked = orows[sha("o-text")]
    assert masked["valueString"] is None
    assert masked["_valueString"]["extension"][0]["valueCode"] == "masked"
    assert orows[sha("o-qty")]["_valueString"] is None  # nothing was there


def test_nlp_mode_keeps_notes(spark, tmp_path):
    root = write_standard_input(str(tmp_path))
    df = scan_resources(spark, root, ["DocumentReference"])
    out = Scrubber(salt=SALT, nlp_mode=True).scrub(df, "DocumentReference")
    d1 = {r["id"]: r for r in out.collect()}[sha("doc-1")]
    assert d1["content"][0]["attachment"]["data"] is not None


def test_modifier_extension_veto(spark, tmp_path):
    write_ndjson(str(tmp_path), "pats.ndjson", [
        {"resourceType": "Patient", "id": "ok"},
        {
            "resourceType": "Patient",
            "id": "vetoed",
            "modifierExtension": [{"url": "https://example.com/undo", "valueBoolean": True}],
        },
    ])
    df = scan_resources(spark, str(tmp_path), ["Patient"])
    out = Scrubber(salt=SALT).scrub(df, "Patient")
    assert [r["id"] for r in out.collect()] == [sha("ok")]


def test_nested_modifier_extension_veto(spark, tmp_path):
    """A meaning-altering modifier on a BACKBONE element (any depth) vetoes
    the whole resource — array element and nested struct cases (ref
    scrubber.py:289-296 skips the resource at any depth)."""
    mod = [{"url": "https://example.com/not-really", "valueBoolean": True}]
    write_ndjson(str(tmp_path), "encs.ndjson", [
        {"resourceType": "Encounter", "id": "ok", "status": "finished",
         "participant": [{"individual": {"reference": "Practitioner/pr1"}}]},
        {"resourceType": "Encounter", "id": "veto-array", "status": "finished",
         "participant": [{"individual": {"reference": "Practitioner/pr1"},
                          "modifierExtension": mod}]},
        {"resourceType": "Encounter", "id": "veto-struct", "status": "finished",
         "hospitalization": {"modifierExtension": mod}},
    ])
    df = scan_resources(spark, str(tmp_path), ["Encounter"])
    out = Scrubber(salt=SALT).scrub(df, "Encounter")
    assert {r["id"] for r in out.collect()} == {sha("ok")}
    # the modifierExtension field itself never reaches the output schema
    assert "modifierExtension" not in out.columns
    part_type = out.schema["participant"].dataType.elementType
    assert "modifierExtension" not in part_type.fieldNames()


def test_modifier_veto_allow_list_and_contained(spark, tmp_path):
    """An allow-listed modifier URL keeps the row wherever it sits: top
    level, a backbone array element, a contained resource. An unknown one
    in a contained element vetoes the host only when the element's type is
    one the scrubber understands (``Scrubber.CONTAINED_TYPES``)."""
    polarity = "http://fhir-registry.smarthealthit.org/StructureDefinition/nlp-polarity"
    ok = [{"url": polarity, "valueBoolean": True}]
    bad = [{"url": "https://example.com/not-really", "valueBoolean": True}]
    write_ndjson(str(tmp_path), "encs.ndjson", [
        {"resourceType": "Encounter", "id": "top", "status": "finished",
         "modifierExtension": ok},
        {"resourceType": "Encounter", "id": "participant", "status": "finished",
         "participant": [{"individual": {"reference": "Practitioner/pr1"},
                          "modifierExtension": ok}]},
    ])
    write_ndjson(str(tmp_path), "conds.ndjson", [
        {"resourceType": "Condition", "id": "med-ok",
         "contained": [{"resourceType": "Medication", "id": "#m1", "modifierExtension": ok}]},
        {"resourceType": "Condition", "id": "med-bad",
         "contained": [{"resourceType": "Medication", "id": "#m1", "modifierExtension": bad}]},
        {"resourceType": "Condition", "id": "basic-bad",
         "contained": [{"resourceType": "Basic", "id": "#b1", "modifierExtension": bad}]},
    ])
    scrubber = Scrubber(salt=SALT)
    encs = scrubber.scrub(scan_resources(spark, str(tmp_path), ["Encounter"]), "Encounter")
    assert {r["id"] for r in encs.collect()} == {sha("top"), sha("participant")}
    conds = scrubber.scrub(scan_resources(spark, str(tmp_path), ["Condition"]), "Condition")
    assert {r["id"] for r in conds.collect()} == {sha("med-ok"), sha("basic-bad")}


def test_epic_check_system_guard(spark, tmp_path):
    write_ndjson(str(tmp_path), "conds.ndjson", [
        {
            "resourceType": "Condition",
            "id": "c1",
            "code": {
                "coding": [
                    {"system": "urn:oid:1.2.840.114350.1.13.1", "code": "free text PHI", "display": "Joe's note"},
                    {"system": "urn:oid:1.2.840.114350.1.13.1", "code": "12345", "display": "Safe numeric"},
                    {"system": "http://snomed.info/sct", "code": "headache", "display": "ordinary"},
                ]
            },
        }
    ])
    df = scan_resources(spark, str(tmp_path), ["Condition"])
    out = Scrubber(salt=SALT).scrub(df, "Condition")
    codings = out.collect()[0]["code"]["coding"]
    assert codings[0]["code"] is None and codings[0]["display"] is None
    assert codings[1]["code"] == "12345" and codings[1]["display"] == "Safe numeric"
    assert codings[2]["code"] == "headache"


def test_trim_and_empty_drop(spark, tmp_path):
    write_ndjson(str(tmp_path), "pats.ndjson", [
        {"resourceType": "Patient", "id": "p1", "gender": "  female  "},
        {"resourceType": "Patient", "id": "p2", "gender": ""},
    ])
    df = scan_resources(spark, str(tmp_path), ["Patient"])
    rows = {r["id"]: r for r in Scrubber(salt=SALT).scrub(df, "Patient").collect()}
    assert rows[sha("p1")]["gender"] == "female"
    assert rows[sha("p2")]["gender"] is None


def test_philter_enabled_masks_text(spark, tmp_path):
    root = write_standard_input(str(tmp_path))
    df = scan_resources(spark, root, ["Condition"])
    out = Scrubber(salt=SALT, philter_enabled=True).scrub(df, "Condition")
    text = out.collect()[0]["code"]["text"]
    assert "555-867-5309" not in text
    assert text == "Type 2 diabetes, call ***"


def test_scrub_text_patterns():
    assert scrub_text("mail me jane@example.com now") == "mail me **************** now"
    assert scrub_text("ssn 123-45-6789.") == "ssn ***********."
    assert scrub_text("call (617) 555-1234 today") == "call ************** today"
    # labeled-ID rule masks the label WITH its value (philter "patient mrn")
    assert scrub_text("mrn 12345678") == "************"
    assert scrub_text(None) is None


def test_codebook_persistence_and_mappings(spark, tmp_path):
    phi = str(tmp_path / "phi")
    cb1 = Codebook(phi)
    cb2 = Codebook(phi)  # reload
    assert cb1.salt == cb2.salt and cb1.codebook_id == cb2.codebook_id

    root = write_standard_input(str(tmp_path / "input"))
    df = scan_resources(spark, root, ["Patient"])
    cb1.save_mappings(df, "Patient")
    cb1.save_mappings(df, "Patient")  # idempotent append
    m = cb1.load_mappings(spark)
    got = {(r["real_id"], r["anon_id"]) for r in m.collect()}
    from tests.fhir_fixtures import expected_anon_id
    expected_anon = expected_anon_id(cb1.salt, "pat-1")
    assert ("pat-1", expected_anon) in got
    assert len(got) == 2  # distinct() collapses the double append


def test_dropped_extension_report(spark, tmp_path):
    root = write_standard_input(str(tmp_path))
    df = scan_resources(spark, root, ["Patient"])
    rep = Scrubber(salt=SALT).dropped_extension_report(df, "Patient").collect()
    assert len(rep) == 1
    assert rep[0]["url"] == "https://example.com/private-tag"
    assert rep[0]["n"] == 1


def test_scrub_is_pure_catalyst(spark, tmp_path):
    """No Python evaluation in the scrub plan — even with philter on, the
    whole de-id projection is JVM-side expressions."""
    root = write_standard_input(str(tmp_path))
    df = scan_resources(spark, root, ["Patient"])
    for scrubber in (Scrubber(salt=SALT), Scrubber(salt=SALT, philter_enabled=True)):
        plan = scrubber.scrub(df, "Patient")._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("philter", [False, True], ids=["plain", "philter"])
def test_absent_fields_scrub_to_null(spark, tmp_path, philter):
    """Scrubbing a frame parsed under the census-cut schema gives the
    full-schema scrub's values on its columns, and every other column of
    the full-schema scrub is null: a field absent from the input never
    scrubs to a value, so the ETL may leave it unstored."""
    root = write_wide_input(str(tmp_path))
    census = detect_resources(spark, root)
    scrubber = Scrubber(salt=SALT, philter_enabled=philter)
    for task in BASIC_TASKS:
        rt = task.resource_type
        keep = {rt: census[rt] | task.policy.read_columns}
        got = scrubber.scrub(scan_with_quarantine(spark, root, [rt], keep)[0], rt)
        want = scrubber.scrub(scan_resources(spark, root, [rt]), rt)
        others = [c for c in want.columns if c not in got.columns]
        assert got.columns == [c for c in want.columns if c in got.columns], rt
        assert others, rt
        mine = sorted(r[0] for r in got.select(F.to_json(F.struct(*got.columns))).collect())
        full = want.select(
            F.to_json(F.struct(*got.columns)), F.to_json(F.struct(*others))
        ).collect()
        assert sorted(r[0] for r in full) == mine, rt
        assert {r[1] for r in full} == {"{}"}, rt
