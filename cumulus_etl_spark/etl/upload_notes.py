"""Chart-review (upload-notes) support operators: SURVEY §2.5 J3/J5,
§2.7 O2/O4/O5.

The reference assembles chart-review bundles for Label Studio: resolve
note authors via PractitionerRole→Practitioner lookups
(fhir/fhir_utils.py:206-293, a nested-loop scan), group notes by
encounter and merge their text with recomputed span offsets
(upload_notes/cli.py:50-74,205-262), order charts by date with
first-appearance stability (:176-202), and pick display names by use
priority (fhir_utils.py:184-203).

Spark-first: the lookups are broadcast left joins, the grouping is
``groupBy(encounter).agg(sort_array(collect_list(struct)))``, offsets
come from a prefix-sum window — no driver-side assembly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# O5: HumanName.use priority — official > usual > anything > nickname-ish
_USE_PRIORITY = {"official": 0, "usual": 1}


def pick_human_name(names: Column) -> Column:
    """Pick the best HumanName from an array by use priority and render
    ``given... family`` (ref fhir_utils.py:184-203)."""
    prio = lambda n: (  # noqa: E731
        F.when(n["use"] == "official", F.lit(0))
        .when(n["use"] == "usual", F.lit(1))
        .otherwise(F.lit(2))
    )
    best = F.element_at(
        F.array_sort(
            F.transform(names, lambda n: F.struct(prio(n).alias("p"), n.alias("n"))),
            # comparator on priority only; stable for ties
            lambda a, b: F.when(a["p"] < b["p"], -1).when(a["p"] > b["p"], 1).otherwise(0),
        ),
        1,
    )["n"]
    # nullif: concat_ws of a null given array yields "" which would
    # otherwise leave a leading space in the outer join
    rendered = F.concat_ws(
        " ", F.nullif(F.concat_ws(" ", best["given"]), F.lit("")), best["family"]
    )
    return F.when(names.isNotNull() & (F.size(names) > 0), F.nullif(rendered, F.lit("")))


def enrich_with_practitioners(
    notes: DataFrame, practitioner_roles: DataFrame, practitioners: DataFrame
) -> DataFrame:
    """J3: resolve note author display names + specialties.

    notes.author[0].reference may point at a PractitionerRole (hop through
    it) or directly at a Practitioner. Two broadcast left joins replace
    the reference's per-note nested-loop scans.
    """
    author_ref = F.element_at(F.col("author"), 1)["reference"]
    n = notes.withColumn("__author_ref", author_ref)

    roles = practitioner_roles.select(
        F.concat(F.lit("PractitionerRole/"), F.col("id")).alias("__role_ref"),
        F.col("practitioner")["reference"].alias("__role_prac_ref"),
        F.transform(F.col("specialty"), lambda s: s["text"]).alias("author_specialties"),
    )
    pracs = practitioners.select(
        F.concat(F.lit("Practitioner/"), F.col("id")).alias("__prac_ref"),
        pick_human_name(F.col("name")).alias("author_display"),
    )
    out = (
        n.join(F.broadcast(roles), n["__author_ref"] == roles["__role_ref"], "left")
        .withColumn("__prac_lookup", F.coalesce("__role_prac_ref", "__author_ref"))
        .join(F.broadcast(pracs), F.col("__prac_lookup") == pracs["__prac_ref"], "left")
    )
    return out.drop("__author_ref", "__role_ref", "__role_prac_ref", "__prac_lookup", "__prac_ref")


def group_notes_by_encounter(
    notes: DataFrame,
    id_col: str = "id",
    text_col: str = "note_text",
    date_col: str = "date",
) -> DataFrame:
    """J5: one chart per encounter — notes merged in date order with
    per-note [offset_start, offset_end) into the merged text.

    Fallback grouping key is the note's own reference (a note without an
    encounter becomes its own chart), matching upload_notes/cli.py:50-74.
    Offsets come from a prefix-sum window over (chart, date) — the merged
    text is then one concat_ws; no quadratic string building. Handles
    both note types: encounter refs come from ``context.encounter[]``
    (DocumentReference) or the single ``encounter`` reference
    (DiagnosticReport), and each collected note carries its
    ``note_rtype`` so downstream refs stay typed.
    """
    sep = "\n\n"
    enc_refs = []
    if "context" in notes.columns:
        enc_refs.append(F.element_at(F.col("context.encounter"), 1)["reference"])
    if "encounter" in notes.columns:
        enc_refs.append(F.col("encounter.reference"))
    enc_ref = F.coalesce(*enc_refs) if enc_refs else F.lit(None).cast("string")
    rtype = (
        F.coalesce(F.col("resourceType"), F.lit("DocumentReference"))
        if "resourceType" in notes.columns
        else F.lit("DocumentReference")
    )
    own_ref = F.concat(rtype, F.lit("/"), F.col(id_col))
    keyed = (
        notes.withColumn("__note_rtype", rtype)
        .withColumn("chart_id", F.coalesce(enc_ref, own_ref))
        .filter(F.col(text_col).isNotNull())
    )
    w = (
        Window.partitionBy("chart_id")
        .orderBy(F.col(date_col).asc_nulls_last(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sized = keyed.withColumn(
        "offset_start",
        F.coalesce(F.sum(F.length(F.col(text_col)) + F.lit(len(sep))).over(w), F.lit(0)),
    ).withColumn("offset_end", F.col("offset_start") + F.length(F.col(text_col)))
    return (
        sized.groupBy("chart_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("offset_start"),
                        F.col("offset_end"),
                        F.col(id_col).alias("note_id"),
                        F.col(date_col).alias("note_date"),
                        F.col(text_col).alias("note_text"),
                        F.col("__note_rtype").alias("note_rtype"),
                    )
                )
            ).alias("notes"),
            F.min(F.col(date_col)).alias("chart_date"),
        )
        .withColumn("chart_text", F.concat_ws(sep, F.transform("notes", lambda n: n["note_text"])))
    )


def order_charts(charts: DataFrame) -> DataFrame:
    """O4: stable chart ordering — by earliest note date (nulls last),
    then chart id for total order."""
    return charts.orderBy(F.col("chart_date").asc_nulls_last(), F.col("chart_id"))


def load_label_csv(spark, csv_path: str, note_ids: list[str]) -> dict:
    """--label-by-csv (ref upload_notes/labeling.py:66-113): read a
    labeling CSV — typically a previous NLP run's match table — and
    return {note_id: [(label, begin, end), ...]} for the uploaded notes.

    Recognized columns (case-insensitive): ``note_ref`` (``Type/id``) or
    ``docref_id`` (bare id) to name the note, ``label``, and ``span`` as
    ``begin:end`` note-relative offsets. Rows with a missing label or a
    malformed span are skipped (the reference's guard). The CSV can be
    NLP-output-sized, so it is FILTERED to the uploaded note ids in
    Spark before the bounded collect — only rows for this session's
    charts ever reach the driver."""
    from pyspark.sql import functions as F

    df = spark.read.option("header", True).csv(csv_path)
    cols = {c.lower(): c for c in df.columns}
    if "note_ref" in cols:
        nid = F.element_at(F.split(F.col(cols["note_ref"]), "/"), -1)
    elif "docref_id" in cols:
        nid = F.col(cols["docref_id"])
    else:
        raise ValueError(
            f"{csv_path}: no note_ref / docref_id column (found {list(df.columns)})"
        )
    if "label" not in cols or "span" not in cols:
        raise ValueError(f"{csv_path}: label and span columns are required")
    picked = (
        df.select(
            nid.alias("nid"),
            F.col(cols["label"]).alias("label"),
            F.col(cols["span"]).alias("span"),
        )
        .filter(F.col("nid").isin(note_ids))
        .filter(F.col("label").isNotNull() & F.col("span").rlike(r"^\d+:\d+$"))
        .collect()
    )
    out: dict[str, list[tuple[str, int, int]]] = {}
    for r in picked:
        begin, end = r["span"].split(":", 1)
        out.setdefault(r["nid"], []).append((r["label"], int(begin), int(end)))
    return out


# ---- upload manifest (ref upload_notes/manifest.py:14-31) ----

MANIFEST_FILENAME = "uploaded_notes.csv"
# `note_ref` matches what --select-by-csv expects, so the manifest can be
# fed straight back in as a selection input on the next session.
MANIFEST_COLUMNS = [
    "note_ref",
    "anon_note_ref",
    "patient_id",
    "anon_patient_id",
    "encounter_id",
    "anon_encounter_id",
    "unique_id",
]


def write_upload_manifest(notes, export_to: str | None) -> str | None:
    """Write ``uploaded_notes.csv`` into the export folder: one row per
    REAL note uploaded (a grouped chart contributes one row per merged
    note, from its doc_mappings), with real+anon refs and ids (ref
    upload_notes/manifest.py:14-31). Only written when the user asked to
    keep the export via --export-to; returns the path, or None when no
    export folder was requested. The chart list is already a bounded
    driver-side structure at this point (it just went to Label Studio),
    so this is plain csv.writer, not a Spark write."""
    if not export_to:
        return None
    import csv
    import os

    os.makedirs(export_to, exist_ok=True)
    path = os.path.join(export_to, MANIFEST_FILENAME)
    with open(path, "w", newline="") as fh:
        writer = csv.writer(fh)
        writer.writerow(MANIFEST_COLUMNS)
        for note in notes:
            for note_id, anon_note_id in note.doc_mappings.items():
                rtype = note.doc_types.get(note_id, "DocumentReference")
                writer.writerow(
                    [
                        f"{rtype}/{note_id}",
                        f"{rtype}/{anon_note_id}" if anon_note_id else "",
                        note.patient_id or "",
                        note.anon_patient_id or "",
                        note.encounter_id or "",
                        note.anon_encounter_id or "",
                        note.unique_id,
                    ]
                )
    return path


def run_upload_notes(
    spark,
    input_dir: str,
    phi_dir: str,
    ls_client,
    *,
    select_words: list[str] | None = None,
    select_regex: str | None = None,
    select_by_csv: str | None = None,
    select_by_anon_csv: str | None = None,
    select_by_athena_table: str | None = None,
    export_to: str | None = None,
    label_by_csv: str | None = None,
    highlight_words: list[str] | None = None,
    highlight_regexes: list[str] | None = None,
    philter_mode: str = "redact",  # disable | redact | label
    grouping: str = "encounter",  # encounter | none
    count: int | None = None,
    seed: int = 42,
    overwrite: bool = False,
) -> dict:
    """The upload-notes verb end-to-end (ref upload_notes/cli.py:415-470):
    select notes → philter → group into charts → sample → push to Label
    Studio. Selection/philter/grouping run in Spark; payload conversion is
    a bounded driver-side pass over the final (sampled) chart list."""
    from cumulus_etl_spark.deid import Codebook
    from cumulus_etl_spark.functions.scalars import anon_id_py
    from cumulus_etl_spark.deid.philter import philter_udf, scrub_text
    from cumulus_etl_spark.etl.labelstudio import LabelStudioNote, find_highlights
    from cumulus_etl_spark.nlp import extract_note_text
    from cumulus_etl_spark.nlp.selection import select_notes
    from cumulus_etl_spark.sources import scan_resources

    # both note resource types, like the reference's selector
    # (upload_notes/selector.py:17-18 processes DiagnosticReport AND
    # DocumentReference)
    docrefs = scan_resources(
        spark, input_dir, ["DiagnosticReport", "DocumentReference"]
    )
    notes = extract_note_text(docrefs).filter(F.col("note_text").isNotNull())
    notes = select_notes(
        spark, notes,
        select_words=select_words, select_regex=select_regex,
        select_by_csv=select_by_csv, select_by_anon_csv=select_by_anon_csv,
        select_by_athena_table=select_by_athena_table, phi_dir=phi_dir,
    )
    # after select_notes, whose anon sources must not find a codebook minted here
    salt = Codebook(phi_dir).salt
    if philter_mode == "redact":
        # length-preserving so doc spans/highlights stay aligned
        notes = notes.withColumn("note_text", philter_udf(F.col("note_text")))

    if "subject" in notes.columns:
        notes = notes.withColumn("__patient_ref", F.col("subject")["reference"])
    else:
        notes = notes.withColumn("__patient_ref", F.lit(None).cast("string"))
    if grouping == "none":
        # each note is its own chart: blank the encounter context so the
        # grouping key falls back to the note's own reference
        for c in ("context", "encounter"):
            if c in notes.columns:
                notes = notes.withColumn(
                    c, F.lit(None).cast(notes.schema[c].dataType)
                )
    enc_refs = []
    if "context" in notes.columns:
        enc_refs.append(F.element_at(F.col("context.encounter"), 1)["reference"])
    if "encounter" in notes.columns:
        enc_refs.append(F.col("encounter.reference"))
    rtype = (
        F.coalesce(F.col("resourceType"), F.lit("DocumentReference"))
        if "resourceType" in notes.columns
        else F.lit("DocumentReference")
    )
    patients = notes.select(
        F.coalesce(
            *enc_refs, F.concat(rtype, F.lit("/"), F.col("id"))
        ).alias("chart_id"),
        F.col("__patient_ref"),
    ).groupBy("chart_id").agg(F.first("__patient_ref", ignorenulls=True).alias("patient_ref"))

    charts = group_notes_by_encounter(notes.drop("__patient_ref"))
    charts = charts.join(patients, "chart_id", "left")
    if count is not None:
        charts = charts.orderBy(F.xxhash64(F.col("chart_id"), F.lit(seed))).limit(count)
    rows = order_charts(charts).collect()

    # --label-by-csv vs word/regex highlights are mutually exclusive,
    # matching the reference's labeling-args guard (labeling.py:30-36)
    if label_by_csv and (highlight_words or highlight_regexes):
        raise ValueError(
            "Multiple labeling arguments provided. Please specify just one."
        )
    csv_labels: dict = {}
    if label_by_csv:
        uploaded_ids = [n["note_id"] for r in rows for n in r["notes"]]
        csv_labels = load_label_csv(spark, label_by_csv, uploaded_ids)

    def anon(ref: str | None) -> str | None:
        # Same HMAC pseudonyms as the de-id engine (functions/scalars.py
        # anon_id) so chart doc-mappings line up with ETL'd table ids.
        if not ref:
            return None
        rid = ref.split("/")[-1]
        return anon_id_py(salt, rid)

    ls_notes = []
    for r in rows:
        text = r["chart_text"]
        highlights = find_highlights(text, highlight_words, highlight_regexes)
        if csv_labels:
            # note-relative spans re-anchor into the merged chart text by
            # each note's offset (ref labeling.py:92-113)
            for n in r["notes"]:
                for label, begin, end in csv_labels.get(n["note_id"], []):
                    highlights.append(
                        (label, begin + n["offset_start"], end + n["offset_start"])
                    )
            highlights.sort(key=lambda h: (h[1], h[2]))
        if philter_mode == "label":
            # tag PHI spans instead of redacting (ref labelstudio.py:317-338)
            masked = scrub_text(text)
            i = 0
            while i < len(masked):
                if masked[i] == "*" and text[i] != "*":
                    j = i
                    while j < len(masked) and masked[j] == "*" and text[j] != "*":
                        j += 1
                    highlights.append(("PHI", i, j))
                    i = j
                else:
                    i += 1
            highlights.sort(key=lambda h: (h[1], h[2]))
        enc_id = r["chart_id"].split("/")[-1] if r["chart_id"].startswith("Encounter/") else None
        pat_id = (r["patient_ref"] or "").split("/")[-1] or None
        ls_notes.append(
            LabelStudioNote(
                unique_id=r["chart_id"],
                patient_id=pat_id,
                anon_patient_id=anon(r["patient_ref"]),
                encounter_id=enc_id,
                anon_encounter_id=anon(enc_id and f"Encounter/{enc_id}"),
                text=text,
                date=str(r["chart_date"]) if r["chart_date"] is not None else None,
                doc_mappings={n["note_id"]: anon(n["note_id"]) for n in r["notes"]},
                doc_types={n["note_id"]: n["note_rtype"] for n in r["notes"]},
                doc_spans={
                    n["note_id"]: (n["offset_start"], n["offset_end"]) for n in r["notes"]
                },
                highlights=highlights,
            )
        )
    summary = ls_client.push_tasks(ls_notes, overwrite=overwrite)
    summary["charts"] = len(ls_notes)
    manifest_path = write_upload_manifest(ls_notes, export_to)
    if manifest_path:
        summary["manifest"] = manifest_path
    return summary
