"""Chart-review operator tests (J3/J5/O4/O5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cumulus_etl_spark.etl.upload_notes import (
    enrich_with_practitioners,
    group_notes_by_encounter,
    order_charts,
    pick_human_name,
)
from cumulus_etl_spark.nlp import extract_note_text
from cumulus_etl_spark.sources import scan_resources
from tests.fhir_fixtures import write_ndjson
from tests.test_nlp import docref


def test_pick_human_name(spark):
    df = spark.createDataFrame(
        [
            ([{"use": "nickname", "family": "Nick", "given": ["N"]},
              {"use": "official", "family": "Off", "given": ["O", "Q"]},
              {"use": "usual", "family": "Usu", "given": ["U"]}],),
            ([{"use": None, "family": "Only", "given": None}],),
            (None,),
        ],
        "name array<struct<use:string,family:string,given:array<string>>>",
    )
    got = [r["d"] for r in df.select(F.expr(pick_human_name("name")).alias("d")).collect()]
    assert got == ["O Q Off", "Only", None]


def test_enrich_with_practitioners(spark, tmp_path):
    notes = spark.createDataFrame(
        [("d1", [{"reference": "PractitionerRole/r1"}]),
         ("d2", [{"reference": "Practitioner/p2"}]),
         ("d3", None)],
        "id string, author array<struct<reference:string>>",
    )
    roles = spark.createDataFrame(
        [("r1", {"reference": "Practitioner/p1"},
          [{"text": "Cardiology"}, {"text": "Internal Medicine"}])],
        "id string, practitioner struct<reference:string>, specialty array<struct<text:string>>",
    )
    pracs = spark.createDataFrame(
        [("p1", [{"use": "official", "family": "House", "given": ["Greg"]}]),
         ("p2", [{"use": "usual", "family": "Wilson", "given": ["James"]}])],
        "id string, name array<struct<use:string,family:string,given:array<string>>>",
    )
    out = {r["id"]: r for r in enrich_with_practitioners(notes, roles, pracs).collect()}
    assert out["d1"]["author_display"] == "Greg House"  # via role hop
    assert out["d1"]["author_specialties"] == ["Cardiology", "Internal Medicine"]
    assert out["d2"]["author_display"] == "James Wilson"  # direct ref
    assert out["d3"]["author_display"] is None


def test_group_notes_by_encounter_offsets(spark, tmp_path):
    docs = [
        docref("n1", text="AAAA", enc="e1"),
        docref("n2", text="BBBBBB", enc="e1"),
        docref("n3", text="CC", enc="e2"),
    ]
    # dates drive merge order inside the chart
    docs[0]["date"] = "2021-01-02T00:00:00Z"
    docs[1]["date"] = "2021-01-01T00:00:00Z"
    docs[2]["date"] = None
    write_ndjson(str(tmp_path), "d.ndjson", docs)
    notes = extract_note_text(scan_resources(spark, str(tmp_path), ["DocumentReference"]))
    charts = {r["chart_id"]: r for r in group_notes_by_encounter(notes).collect()}
    e1 = charts["Encounter/e1"]
    assert e1["chart_text"] == "BBBBBB\n\nAAAA"  # date order, n2 first
    n2, n1 = e1["notes"]
    assert (n2["offset_start"], n2["offset_end"]) == (0, 6)
    assert (n1["offset_start"], n1["offset_end"]) == (8, 12)  # after "\n\n"
    assert e1["chart_text"][n1["offset_start"]:n1["offset_end"]] == "AAAA"
    assert charts["Encounter/e2"]["chart_text"] == "CC"


def test_order_charts_nulls_last(spark, tmp_path):
    docs = [
        docref("n1", text="x", enc="e1"),
        docref("n2", text="y", enc="e2"),
        docref("n3", text="z", enc="e3"),
    ]
    docs[0]["date"] = "2021-06-01T00:00:00Z"
    docs[1]["date"] = None
    docs[2]["date"] = "2021-01-01T00:00:00Z"
    write_ndjson(str(tmp_path), "d.ndjson", docs)
    notes = extract_note_text(scan_resources(spark, str(tmp_path), ["DocumentReference"]))
    ordered = [r["chart_id"] for r in order_charts(group_notes_by_encounter(notes)).collect()]
    assert ordered == ["Encounter/e3", "Encounter/e1", "Encounter/e2"]


class _FakeLsClient:
    """Duck-typed Label Studio client: records pushed notes."""

    def __init__(self):
        self.pushed = []

    def push_tasks(self, notes, overwrite=False):
        self.pushed = list(notes)
        return {"new": len(notes), "updated": 0, "skipped": 0}


def test_upload_manifest_round_trip(spark, tmp_path):
    """Round-8 verdict ask 5 (ref upload_notes/manifest.py:14-31):
    upload writes uploaded_notes.csv into --export-to, one row per REAL
    note with real+anon refs; feeding that manifest back through
    --select-by-csv re-selects exactly the uploaded notes."""
    import csv
    import os

    from cumulus_etl_spark.etl.upload_notes import (
        MANIFEST_COLUMNS,
        run_upload_notes,
    )
    from cumulus_etl_spark.nlp.selection import filter_by_note_csv

    docs = [
        docref("n1", text="fever and cough", enc="e1", patient="pA"),
        docref("n2", text="follow-up visit", enc="e1", patient="pA"),
        docref("n3", text="sprained ankle", enc="e2", patient="pB"),
        docref("n4", text="unrelated note", enc="e3", patient="pC"),
    ]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    write_ndjson(in_dir, "d.ndjson", docs)
    phi_dir = str(tmp_path / "phi")
    export_to = str(tmp_path / "export")
    client = _FakeLsClient()

    summary = run_upload_notes(
        spark, in_dir, phi_dir, client,
        select_words=["fever", "follow-up", "ankle"],  # n4 filtered out
        philter_mode="disable",
        export_to=export_to,
    )
    assert summary["charts"] == 2  # e1 (n1+n2 merged) and e2
    manifest = summary["manifest"]
    assert manifest == os.path.join(export_to, "uploaded_notes.csv")

    with open(manifest, newline="") as fh:
        rows = list(csv.DictReader(fh))
    assert [r["note_ref"] for r in rows] == [
        "DocumentReference/n1", "DocumentReference/n2", "DocumentReference/n3",
    ]
    assert set(rows[0]) == set(MANIFEST_COLUMNS)
    r1 = rows[0]
    assert r1["patient_id"] == "pA" and r1["encounter_id"] == "e1"
    assert r1["unique_id"] == "Encounter/e1"
    # anon ids are the codebook HMAC pseudonyms — present and stable
    assert r1["anon_note_ref"].startswith("DocumentReference/")
    assert len(r1["anon_patient_id"]) == 64  # hex sha256-hmac width
    from cumulus_etl_spark.deid import Codebook
    from cumulus_etl_spark.functions.scalars import anon_id_py

    salt = Codebook(phi_dir).salt
    assert r1["anon_patient_id"] == anon_id_py(salt, "pA")
    assert r1["anon_note_ref"] == "DocumentReference/" + anon_id_py(salt, "n1")

    # ---- feed the manifest straight back in as the selection ----
    notes = extract_note_text(scan_resources(spark, in_dir, ["DocumentReference"]))
    reselected = filter_by_note_csv(spark, notes, manifest)
    assert sorted(r["id"] for r in reselected.select("id").collect()) == [
        "n1", "n2", "n3",
    ]
    # full verb round trip too: second session selects by the manifest
    client2 = _FakeLsClient()
    summary2 = run_upload_notes(
        spark, in_dir, phi_dir, client2,
        select_by_csv=manifest, philter_mode="disable",
    )
    assert summary2["charts"] == 2
    uploaded2 = sorted(
        nid for note in client2.pushed for nid in note.doc_mappings
    )
    assert uploaded2 == ["n1", "n2", "n3"]


def test_filter_by_note_csv_patient_and_bare_id_columns(spark, tmp_path):
    """The CSV scanner's OR-semantics: a note passes if its own ref OR
    its patient is listed; bare docref_id columns work too."""
    import os

    from cumulus_etl_spark.nlp.selection import filter_by_note_csv

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    write_ndjson(in_dir, "d.ndjson", [
        docref("n1", text="a", patient="pA"),
        docref("n2", text="b", patient="pB"),
        docref("n3", text="c", patient="pC"),
    ])
    notes = extract_note_text(scan_resources(spark, in_dir, ["DocumentReference"]))

    p = str(tmp_path / "sel.csv")
    with open(p, "w") as fh:
        fh.write("docref_id,patient_id\nn1,\n,pC\n")
    got = sorted(r["id"] for r in
                 filter_by_note_csv(spark, notes, p).select("id").collect())
    assert got == ["n1", "n3"]  # n1 by ref, n3 by patient

    import pytest

    bad = str(tmp_path / "bad.csv")
    with open(bad, "w") as fh:
        fh.write("something_else\nx\n")
    with pytest.raises(ValueError, match="no note_ref"):
        filter_by_note_csv(spark, notes, bad)


def test_label_by_csv_reanchors_spans_into_charts(spark, tmp_path):
    """--label-by-csv (ref upload_notes/labeling.py:66-113): a previous
    NLP run's (note id, label, span) rows become chart highlights with
    note-relative spans re-anchored by each note's offset in the merged
    chart text; malformed rows are skipped; word-highlight args are
    mutually exclusive."""
    import os

    import pytest

    from cumulus_etl_spark.etl.upload_notes import run_upload_notes

    docs = [
        docref("n1", text="fever noted", enc="e1", patient="pA"),
        docref("n2", text="cough heavy today", enc="e1", patient="pA"),
    ]
    docs[0]["date"] = "2021-01-01T00:00:00Z"
    docs[1]["date"] = "2021-01-02T00:00:00Z"
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    write_ndjson(in_dir, "d.ndjson", docs)

    labels = tmp_path / "labels.csv"
    labels.write_text(
        "note_ref,label,span\n"
        "DocumentReference/n1,Fever,0:5\n"        # 'fever' in note 1
        "DocumentReference/n2,Cough,0:5\n"        # 'cough' in note 2
        "DocumentReference/n2,Bad,notaspan\n"     # malformed: skipped
        "DocumentReference/n2,,3:5\n"             # no label: skipped
        "DocumentReference/zz,Ghost,0:2\n"        # not uploaded: ignored
    )
    client = _FakeLsClient()
    summary = run_upload_notes(
        spark, in_dir, str(tmp_path / "phi"), client,
        philter_mode="disable", label_by_csv=str(labels),
    )
    assert summary["charts"] == 1
    note = client.pushed[0]
    # chart text is 'fever noted\n\ncough heavy today'; n2 starts at 13
    assert note.doc_spans["n2"][0] == 13
    assert note.highlights == [("Fever", 0, 5), ("Cough", 13, 18)]
    assert note.text[13:18] == "cough"

    with pytest.raises(ValueError, match="just one"):
        run_upload_notes(
            spark, in_dir, str(tmp_path / "phi"), client,
            philter_mode="disable", label_by_csv=str(labels),
            highlight_words=["fever"],
        )


def test_select_by_anon_csv_round_trips_the_manifest(spark, tmp_path):
    """The manifest's ANON columns feed back through --select-by-anon-csv:
    pseudonyms are a pure HMAC of (salt, id), so membership is checked by
    anonymizing the notes' own ids on the fly — no reverse lookup."""
    import os

    import pytest

    from cumulus_etl_spark.etl.upload_notes import run_upload_notes
    from cumulus_etl_spark.nlp.selection import filter_by_note_csv

    docs = [
        docref("n1", text="fever noted", enc="e1", patient="pA"),
        docref("n2", text="sprain noted", enc="e2", patient="pB"),
        docref("n3", text="other note", enc="e3", patient="pC"),
    ]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    write_ndjson(in_dir, "d.ndjson", docs)
    phi_dir = str(tmp_path / "phi")
    export_to = str(tmp_path / "export")

    client = _FakeLsClient()
    summary = run_upload_notes(
        spark, in_dir, phi_dir, client,
        select_words=["fever", "sprain"], philter_mode="disable",
        export_to=export_to,
    )
    assert summary["charts"] == 2

    # second session: select by the manifest's ANON columns only
    import csv

    with open(summary["manifest"], newline="") as fh:
        rows = list(csv.DictReader(fh))
    anon_csv = str(tmp_path / "anon_sel.csv")
    with open(anon_csv, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["anon_note_ref"])
        for r in rows:
            w.writerow([r["anon_note_ref"]])

    client2 = _FakeLsClient()
    summary2 = run_upload_notes(
        spark, in_dir, phi_dir, client2,
        select_by_anon_csv=anon_csv, philter_mode="disable",
    )
    uploaded2 = sorted(nid for note in client2.pushed for nid in note.doc_mappings)
    assert uploaded2 == ["n1", "n2"]

    # anon selection without a salt fails loudly; both flags at once too
    from cumulus_etl_spark.nlp import extract_note_text
    from cumulus_etl_spark.sources import scan_resources

    notes = extract_note_text(scan_resources(spark, in_dir, ["DocumentReference"]))
    with pytest.raises(ValueError, match="codebook salt"):
        filter_by_note_csv(spark, notes, anon_csv, is_anon=True)
    with pytest.raises(ValueError, match="just one"):
        run_upload_notes(
            spark, in_dir, phi_dir, client2, philter_mode="disable",
            select_by_csv=anon_csv, select_by_anon_csv=anon_csv,
        )


def test_select_by_athena_table(spark, tmp_path):
    """--select-by-athena-table: a catalog table of anon ids (the Athena
    surface) drives selection — same anon-membership check as anon-CSV
    (ref nlp/selection.py:146-149 treats Athena results as anon)."""
    import os

    from cumulus_etl_spark.deid import Codebook
    from cumulus_etl_spark.etl.upload_notes import run_upload_notes
    from cumulus_etl_spark.functions.scalars import anon_id_py

    docs = [docref(f"n{i}", text=f"note {i}", patient=f"p{i}", enc=f"e{i}")
            for i in range(4)]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    write_ndjson(in_dir, "d.ndjson", docs)
    phi_dir = str(tmp_path / "phi")
    salt = Codebook(phi_dir).salt

    spark.createDataFrame(
        [(f"DocumentReference/{anon_id_py(salt, i)}",) for i in ("n1", "n3")],
        "anon_note_ref string",
    ).createOrReplaceTempView("study__selected_notes")
    try:
        client = _FakeLsClient()
        run_upload_notes(
            spark, in_dir, phi_dir, client, philter_mode="disable",
            select_by_athena_table="study__selected_notes",
        )
        uploaded = sorted(nid for note in client.pushed for nid in note.doc_mappings)
        assert uploaded == ["n1", "n3"]
    finally:
        spark.catalog.dropTempView("study__selected_notes")


def test_upload_notes_covers_diagnostic_reports(spark, tmp_path):
    """Chart review spans both note types (ref upload_notes/selector.py
    processes DiagnosticReport AND DocumentReference): a report and a
    docref sharing an encounter merge into one chart, refs stay typed in
    the manifest, and the manifest round-trips through selection."""
    import csv
    import os

    from cumulus_etl_spark.etl.upload_notes import run_upload_notes
    from tests.test_nlp import diagreport

    docs = [
        docref("d1", text="clinic visit note", enc="e1", patient="pA"),
        diagreport("r1", text="lab report text", enc="e1", patient="pA"),
        diagreport("r2", text="solo report", enc="e2", patient="pB"),
    ]
    docs[0]["date"] = "2021-01-01T00:00:00Z"
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    write_ndjson(in_dir, "d.ndjson", docs)
    export_to = str(tmp_path / "export")

    client = _FakeLsClient()
    summary = run_upload_notes(
        spark, in_dir, str(tmp_path / "phi"), client,
        philter_mode="disable", export_to=export_to,
    )
    assert summary["charts"] == 2  # e1 (d1+r1 merged) and e2
    e1 = next(n for n in client.pushed if n.unique_id == "Encounter/e1")
    assert set(e1.doc_mappings) == {"d1", "r1"}
    assert e1.doc_types == {"d1": "DocumentReference", "r1": "DiagnosticReport"}
    # both texts merged with correct spans
    s = e1.doc_spans["r1"]
    assert e1.text[s[0]:s[1]] == "lab report text"

    with open(summary["manifest"], newline="") as fh:
        rows = {r["note_ref"]: r for r in csv.DictReader(fh)}
    assert set(rows) == {"DocumentReference/d1", "DiagnosticReport/r1",
                         "DiagnosticReport/r2"}
    assert rows["DiagnosticReport/r1"]["anon_note_ref"].startswith("DiagnosticReport/")

    # typed manifest feeds straight back in
    client2 = _FakeLsClient()
    summary2 = run_upload_notes(
        spark, in_dir, str(tmp_path / "phi"), client2,
        philter_mode="disable", select_by_csv=summary["manifest"],
    )
    assert summary2["charts"] == 2
