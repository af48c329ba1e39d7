"""NLP framework tests (U1-U8, F2, J4)."""

from __future__ import annotations

import base64
import hashlib
import json
import os

from pyspark.sql import functions as F

from cumulus_etl_spark.nlp import (
    StubSymptomModel,
    anchor_span,
    extract_note_text,
    filter_by_cohort,
    filter_by_words,
    run_nlp_task,
)
from cumulus_etl_spark.sinks import ManagedTable
from cumulus_etl_spark.sources import scan_resources
from tests.fhir_fixtures import write_ndjson


def b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def docref(doc_id, text=None, url=None, content_type="text/plain", patient="p1", enc="e1"):
    att = {"contentType": content_type}
    if text is not None:
        att["data"] = b64(text)
    if url is not None:
        att["url"] = url
    return {
        "resourceType": "DocumentReference",
        "id": doc_id,
        "status": "current",
        "subject": {"reference": f"Patient/{patient}"},
        "context": {"encounter": [{"reference": f"Encounter/{enc}"}]},
        "content": [{"attachment": att}],
    }


def load_docrefs(spark, tmp_path, docs):
    write_ndjson(str(tmp_path), "docs.ndjson", docs)
    return scan_resources(spark, str(tmp_path), ["DocumentReference"])


def test_extract_note_text(spark, tmp_path):
    df = load_docrefs(spark, tmp_path, [
        docref("d1", text="Patient has a cough."),
        docref("d2", url="https://blob/1"),
        docref("d3", text="<p>HTML <b>note</b></p>", content_type="text/html"),
        docref("d4", text="ZmFrZQ==-not-text", content_type="application/pdf"),
    ])
    out = {r["id"]: r for r in extract_note_text(df).collect()}
    assert out["d1"]["note_text"] == "Patient has a cough."
    assert out["d2"]["note_text"] is None
    assert out["d2"]["note_missing_reason"] == "remote-only attachment"
    assert "HTML" in out["d3"]["note_text"] and "<b>" not in out["d3"]["note_text"]
    assert out["d4"]["note_missing_reason"] == "no text attachment"


def test_stub_model_negation_and_order():
    m = StubSymptomModel()
    got = m("Fever for 3 days. Denies cough. No nausea reported.")
    by_term = {g["text"]: g for g in got}
    assert by_term["fever"]["polarity"] == "positive"
    assert by_term["cough"]["polarity"] == "negated"
    assert by_term["nausea"]["polarity"] == "negated"
    assert got == sorted(got, key=lambda x: (x["code"], x["begin"]))
    assert m(None) == [] and m("") == []


def test_anchor_span_fuzzy():
    note = "Pt c/o severe   chest-pain,  worse at night."
    assert anchor_span(note, "severe chest pain") == (7, 26)
    assert anchor_span(note, "CHEST PAIN") == (16, 26)
    assert anchor_span(note, "not present") is None
    assert anchor_span(None, "x") is None


def test_filters(spark, tmp_path):
    df = load_docrefs(spark, tmp_path, [
        docref("d1", text="severe cough and fever"),
        docref("d2", text="coughing up a storm"),  # 'cough' whole-word fails
        docref("d3", text="no symptoms"),
    ])
    notes = extract_note_text(df)
    assert {r["id"] for r in filter_by_words(notes, ["cough"]).collect()} == {"d1"}
    assert {r["id"] for r in filter_by_words(notes, ["cough"], reject=True).collect()} == {"d2", "d3"}
    cohort = spark.createDataFrame([("d2",), ("d3",)], "docid string")
    assert {r["id"] for r in filter_by_cohort(notes, cohort, "id").collect()} == {"d2", "d3"}


def _anon(phi_dir: str, real_id: str) -> str:
    """Mirror of anon_id: HMAC-SHA256 with the codebook's salt."""
    with open(os.path.join(phi_dir, "codebook.json")) as fh:
        salt = json.load(fh)["salt"]
    from tests.fhir_fixtures import expected_anon_id
    return expected_anon_id(salt, real_id)


def test_run_model_rejects_deep_structs(spark, tmp_path):
    """Arrow-boundary guard: shipping a full FHIR resource frame into
    mapInPandas segfaulted the Python worker (deep-struct conversion) and
    would serialize megabytes per row even when healthy — run_model must
    fail fast on the driver instead, and the real NLP path (run_nlp_task)
    must prune to flat scalars so it never trips the guard."""
    import pytest

    from cumulus_etl_spark.nlp.provider import _struct_depth, run_model

    write_ndjson(str(tmp_path), "d.ndjson", [docref("n1", text="fever", enc="e1")])
    full = scan_resources(spark, str(tmp_path), ["DocumentReference"])
    assert any(_struct_depth(f.dataType) > 3 for f in full.schema.fields)
    with pytest.raises(ValueError, match="deeply nested"):
        run_model(full.withColumn("note_text", F.lit("x")), StubSymptomModel())


def test_run_nlp_task_cache_and_replacement(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    phi_dir = str(tmp_path / "phi")
    model = StubSymptomModel()

    docs1 = [docref("d1", text="cough and fever present"), docref("d2", text="all clear")]
    df1 = load_docrefs(spark, tmp_path / "in1", docs1)
    s1 = run_nlp_task(spark, df1, model, "study__symptoms", 1, out_dir, phi_dir,
                      generated_on="2021-01-01T00:00:00Z")
    assert s1 == {"seen": 2, "with_text": 2, "from_cache": 0, "model_called": 2}

    # Output refs are pseudonyms — the de-identified table never carries a
    # raw source id.
    d1_ref = f"DocumentReference/{_anon(phi_dir, 'd1')}"
    d2_ref = f"DocumentReference/{_anon(phi_dir, 'd2')}"
    tbl = ManagedTable(spark, out_dir, "study__symptoms").read()
    # no raw ids anywhere (hex pseudonyms may contain 'd1' by chance, so
    # check the exact raw ref form)
    assert tbl.filter(F.col("note_ref") == "DocumentReference/d1").count() == 0
    d1_rows = tbl.filter(F.col("note_ref") == d1_ref).collect()
    assert {r["match"]["text"] for r in d1_rows} == {"cough", "fever"}
    # no-match note keeps a null-match marker row
    d2_rows = tbl.filter(F.col("note_ref") == d2_ref).collect()
    assert len(d2_rows) == 1 and d2_rows[0]["match"] is None
    assert d1_rows[0]["encounter_ref"] == f"Encounter/{_anon(phi_dir, 'e1')}"
    assert d1_rows[0]["subject_ref"] == f"Patient/{_anon(phi_dir, 'p1')}"

    # Re-run: same d1 (cache hit), d2 text changed → one model call;
    # d2's old rows replaced (group replacement on note_ref)
    docs2 = [docref("d1", text="cough and fever present"), docref("d2", text="new: headache")]
    df2 = load_docrefs(spark, tmp_path / "in2", docs2)
    s2 = run_nlp_task(spark, df2, model, "study__symptoms", 1, out_dir, phi_dir,
                      generated_on="2021-02-01T00:00:00Z")
    assert s2["from_cache"] == 1 and s2["model_called"] == 1

    tbl2 = ManagedTable(spark, out_dir, "study__symptoms").read()
    d2_rows2 = tbl2.filter(F.col("note_ref") == d2_ref).collect()
    assert {r["match"]["text"] for r in d2_rows2} == {"headache"}


def test_filter_by_coding_ed_notes(spark, tmp_path):
    from cumulus_etl_spark.nlp.selection import filter_by_coding

    ed = docref("ed1", text="x")
    ed["type"] = {"coding": [{"system": "http://loinc.org", "code": "18842-5"}]}
    ed2 = docref("ed2", text="x")
    ed2["category"] = [{"coding": [{"system": "http://loinc.org", "code": "34878-9"}]}]
    other = docref("other", text="x")
    other["type"] = {"coding": [{"system": "http://loinc.org", "code": "99999-9"}]}
    bare = docref("bare", text="x")
    write_ndjson(str(tmp_path), "d.ndjson", [ed, ed2, other, bare])
    df = load_docrefs(spark, tmp_path, [])  # already written above
    allowed = {"http://loinc.org": {"18842-5", "34878-9"}}
    got = {r["id"] for r in filter_by_coding(df, allowed).collect()}
    assert got == {"ed1", "ed2"}


def test_covid_symptom_study_task(spark, tmp_path):
    from cumulus_etl_spark.nlp.studies import COVID_SYMPTOM_TASK

    ed = docref("ed1", text="cough and fever in ED")
    ed["type"] = {"coding": [{"system": "http://loinc.org", "code": "34111-5"}]}
    non_ed = docref("clinic", text="cough at clinic")
    write_ndjson(str(tmp_path / "in"), "d.ndjson", [ed, non_ed])
    df = scan_resources(spark, str(tmp_path / "in"), ["DocumentReference"])
    summary = COVID_SYMPTOM_TASK.run(spark, df, str(tmp_path / "out"), str(tmp_path / "phi"),
                                     generated_on="2021-01-01T00:00:00Z")
    assert summary["seen"] == 1  # non-ED note filtered before the funnel
    tbl = ManagedTable(spark, str(tmp_path / "out"), "covid_symptom__nlp_results").read()
    assert {r["match"]["text"] for r in tbl.collect()} == {"cough", "fever"}


def test_stub_model_from_bsv_uses_study_vocabulary(tmp_path):
    """A study BSV gives the offline stub its own vocabulary with REAL
    CUIs — the no-server analog of CtakesHttpModel.install_dictionary."""
    from cumulus_etl_spark.nlp.provider import StubSymptomModel

    bsv = tmp_path / "sleep.bsv"
    bsv.write_text(
        "# non-covid sleep vocabulary\n"
        "C0917801|T184|52702003|SNOMEDCT_US|Insomnia|Insomnia\n"
        "C0018681|T184|headache|Headache\n"  # 4-column row passes through
    )
    model = StubSymptomModel.from_bsv(str(bsv))
    out = model("Chronic insomnia; denies headache today.")
    by_term = {m["text"]: m for m in out}
    assert by_term["insomnia"]["code"] == "C0917801"  # real CUI, not md5 fake
    assert by_term["insomnia"]["polarity"] == "positive"
    assert by_term["headache"]["polarity"] == "negated"
    # default model knows nothing about this vocabulary
    assert StubSymptomModel()("Chronic insomnia today.") == []


def test_legacy_toml_task_with_bsv_vocabulary(tmp_path):
    """[tasks.X] bsv = 'file.bsv' builds the task's model from the study
    dictionary (path relative to the toml)."""
    from cumulus_etl_spark.nlp.studies import load_study_tasks

    (tmp_path / "sleep.bsv").write_text("C0917801|T184|insomnia|Insomnia\n")
    toml = tmp_path / "tasks.toml"
    toml.write_text(
        '[tasks.sleep_study]\nversion = 2\nbsv = "sleep.bsv"\n'
    )
    (task,) = load_study_tasks(str(toml))
    assert task.name == "sleep_study" and task.task_version == 2
    assert task.model("insomnia noted")[0]["code"] == "C0917801"


def test_bundled_sleep_example_study_end_to_end(spark, tmp_path):
    """The bundled non-covid sleep study runs offline end-to-end: its
    BSV vocabulary (real UMLS CUIs) drives the stub model through
    run_nlp_task, producing match rows with the study's codes."""
    import os

    from cumulus_etl_spark.nlp.studies import load_study_tasks
    from cumulus_etl_spark.sources import scan_resources

    toml = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..",
        "cumulus_etl_spark", "studies", "sleep_example", "tasks.toml",
    )
    (task,) = load_study_tasks(toml)
    assert task.name == "sleep_example__nlp_symptoms"

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    write_ndjson(in_dir, "d.ndjson", [
        docref("n1", text="Chronic insomnia and loud snoring; denies dyspnea."),
        docref("n2", text="No sleep complaints at all."),
    ])
    docrefs = scan_resources(spark, in_dir, ["DocumentReference"])
    summary = task.run(
        spark, docrefs, str(tmp_path / "out"), str(tmp_path / "phi"),
        "2026-08-15T00:00:00Z",
    )
    assert summary["seen"] == 2

    from cumulus_etl_spark.sinks import ManagedTable

    rows = ManagedTable(spark, str(tmp_path / "out"), task.name).read().collect()
    matches = {r["match"]["text"]: r["match"] for r in rows if r["match"]}
    assert matches["insomnia"]["code"] == "C0917801"
    assert matches["snoring"]["code"] == "C0037384"
    assert matches["dyspnea"]["polarity"] == "negated"


def diagreport(rid, text=None, patient="p1", enc="e1"):
    """Minimal DiagnosticReport note: text rides in presentedForm[]."""
    pf = []
    if text is not None:
        pf.append({"contentType": "text/plain", "data": b64(text)})
    return {
        "resourceType": "DiagnosticReport",
        "id": rid,
        "status": "final",
        "subject": {"reference": f"Patient/{patient}"},
        "encounter": {"reference": f"Encounter/{enc}"},
        "presentedForm": pf,
    }


def test_extract_note_text_diagnostic_report(spark, tmp_path):
    """DiagnosticReport notes decode from presentedForm[] — including in
    a MIXED multi-type scan where rows dispatch on resourceType (ref
    cfs.get_text_from_note_res handles both note types)."""
    write_ndjson(str(tmp_path), "d.ndjson", [
        diagreport("r1", text="CBC shows anemia."),
        diagreport("r2"),  # no presentedForm text
        docref("d1", text="a plain docref note"),
    ])
    df = scan_resources(spark, str(tmp_path),
                        ["DiagnosticReport", "DocumentReference"])
    out = {r["id"]: r for r in extract_note_text(df).collect()}
    assert out["r1"]["note_text"] == "CBC shows anemia."
    assert out["r2"]["note_text"] is None
    assert out["r2"]["note_missing_reason"] == "no text attachment"
    assert out["d1"]["note_text"] == "a plain docref note"


def test_run_nlp_task_diagnostic_reports(spark, tmp_path):
    """The NLP envelope handles DiagnosticReport notes: note_ref keeps
    the resource type, encounter comes from the single `encounter`
    reference, and DocumentReference refs are unchanged (goldens)."""
    out_dir = str(tmp_path / "out")
    phi_dir = str(tmp_path / "phi")
    write_ndjson(str(tmp_path / "in"), "d.ndjson", [
        diagreport("r1", text="fever found on exam", enc="e9"),
        docref("d1", text="cough noted"),
    ])
    df = scan_resources(spark, str(tmp_path / "in"),
                        ["DiagnosticReport", "DocumentReference"])
    s = run_nlp_task(spark, df, StubSymptomModel(), "study__mixed", 1,
                     out_dir, phi_dir, generated_on="2021-01-01T00:00:00Z")
    assert s["seen"] == 2 and s["with_text"] == 2

    tbl = ManagedTable(spark, out_dir, "study__mixed").read().collect()
    refs = {r["note_ref"].split("/")[0] for r in tbl}
    assert refs == {"DiagnosticReport", "DocumentReference"}
    dr = [r for r in tbl if r["note_ref"].startswith("DiagnosticReport/")][0]
    assert dr["match"]["text"] == "fever"
    assert dr["note_ref"].split("/")[1] == _anon(phi_dir, "r1")
    assert dr["encounter_ref"] == f"Encounter/{_anon(phi_dir, 'e9')}"


def test_rewrite_textual_spans_reference_semantics():
    """The textual-span rewrite mirrors the reference's
    BaseModelTaskWithSpans._process_dict (etl/tasks/nlp_task.py:407-452):
    ALL fuzzy occurrences anchored (not just the first), end punctuation
    and whitespace differences tolerated, unmatched spans dropped with
    all_found=False, nested structures walked, index pairs idempotent."""
    from cumulus_etl_spark.nlp.span import rewrite_textual_spans

    note = "Mild  Crohn disease.\nHistory: Crohn disease stable."
    parsed = {
        "has_mention": True,
        "spans": ["crohn disease,"],          # case + punct + ws fuzz
        "facts": [{"spans": ["History:"]}],    # nested list-of-dicts
        "inner": {"spans": ["not in the note"]},
    }
    all_found = rewrite_textual_spans(parsed, note)
    assert all_found is False  # the unmatched inner span
    assert parsed["spans"] == [[6, 19], [30, 43]]  # both occurrences
    # the trailing colon is stripped before matching, so the anchored
    # span covers "History" only
    assert parsed["facts"][0]["spans"] == [[21, 28]]
    assert parsed["inner"]["spans"] == []  # dropped, not passed through
    # idempotent on replays: index pairs survive a second rewrite
    again = rewrite_textual_spans(parsed, note)
    assert again is True and parsed["spans"] == [[6, 19], [30, 43]]


def test_note_verbs_share_select_notes(spark, tmp_path, monkeypatch):
    """sample, upload-notes and the nlp verb hand their --select-by-*
    flags to the one selection surface, nlp/selection.py:select_notes,
    and each refuses two cohort sources at once."""
    import pytest

    from cumulus_etl_spark.cli import main as cli_main
    from cumulus_etl_spark.etl.sample import sample_notes
    from cumulus_etl_spark.etl.upload_notes import run_upload_notes
    from cumulus_etl_spark.nlp import selection
    from tests.test_upload_notes import _FakeLsClient

    in_dir, phi = str(tmp_path / "in"), str(tmp_path / "phi")
    write_ndjson(in_dir, "d.ndjson", [docref("n1", text="fever"), docref("n2", text="cough")])
    sel = str(tmp_path / "sel.csv")
    with open(sel, "w") as fh:
        fh.write("docref_id\nn1\n")

    class Selected(Exception):
        pass

    calls = []

    def spy(spark, notes, **flags):
        assert "note_text" in notes.columns
        calls.append({k: v for k, v in flags.items() if v})
        raise Selected

    def nlp_verb(select_words=(), select_regex=None, **cohorts):
        argv = ["nlp", in_dir, str(tmp_path / "out"), phi]
        for w in select_words:
            argv += ["--select-by-word", w]
        if select_regex:
            argv += ["--select-by-regex", select_regex]
        for dest, path in cohorts.items():  # select_by_csv -> --select-by-csv
            argv += ["--" + dest.replace("_", "-"), path]
        return cli_main(argv)

    verbs = {
        "sample": lambda **kw: sample_notes(spark, in_dir, 5, phi_dir=phi, **kw),
        "upload-notes": lambda **kw: run_upload_notes(
            spark, in_dir, phi, _FakeLsClient(), philter_mode="disable", **kw
        ),
        "nlp": nlp_verb,
    }
    flags = {"select_words": ["fever,cough"], "select_regex": "fe.er", "select_by_csv": sel}
    for name, run in verbs.items():
        with monkeypatch.context() as m:
            m.setattr(selection, "select_notes", spy)
            with pytest.raises(Selected):
                run(**flags)
        assert calls.pop() == dict(flags, phi_dir=phi), name
        with pytest.raises(ValueError, match="Multiple selection arguments"):
            run(select_by_csv=sel, select_by_anon_csv=sel)


def test_anon_selection_needs_an_existing_codebook(spark, tmp_path):
    """Anon selection matches the codebook's pseudonyms: against a PHI dir
    without a codebook it is an error naming the missing file, and it
    writes no fresh codebook (whose new salt would match nothing)."""
    import pytest

    from cumulus_etl_spark.etl.sample import sample_notes

    in_dir, phi = str(tmp_path / "in"), str(tmp_path / "wrong-phi")
    write_ndjson(in_dir, "d.ndjson", [docref("n1", text="fever")])
    sel = str(tmp_path / "anon.csv")
    with open(sel, "w") as fh:
        fh.write("anon_docref_id\nabc\n")
    with pytest.raises(FileNotFoundError, match="codebook.json"):
        sample_notes(spark, in_dir, 5, select_by_anon_csv=sel, phi_dir=phi)
    assert not os.path.exists(os.path.join(phi, "codebook.json"))
