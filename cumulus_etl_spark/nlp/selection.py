"""Note selection filters (SURVEY §2.4 F2, §2.5 J4; ref nlp/selection.py).

Word/regex filters become ``rlike`` predicates; cohort CSV / table
filters become broadcast semi- or anti-joins. All Catalyst.
:func:`select_notes` applies the ``--select-by-*`` flags of every note
verb (ref nlp/selection.py:12-64,129-164).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cumulus_etl_spark.deid.codebook import read_salt
from cumulus_etl_spark.functions import anon_id


def filter_by_words(
    notes: DataFrame, words: list[str], text_col: str = "note_text", reject: bool = False
) -> DataFrame:
    """Whole-word match on any of ``words`` (ref cli_utils.py:187-201
    compiles words to whole-word regexes the same way)."""
    pattern = "(?i)\\b(?:" + "|".join(re.escape(w) for w in words) + ")\\b"
    return filter_by_regex(notes, pattern, text_col=text_col, reject=reject)


def filter_by_regex(
    notes: DataFrame, pattern: str, text_col: str = "note_text", reject: bool = False
) -> DataFrame:
    cond = F.col(text_col).rlike(pattern)
    return notes.filter(~F.coalesce(cond, F.lit(False)) if reject else cond)


def filter_by_coding(
    notes: DataFrame,
    allowed: dict[str, set[str]],
    fields: tuple[str, ...] = ("type", "category"),
) -> DataFrame:
    """F3: keep notes whose type/category codings hit an allow-list of
    (system → codes) — the ED-note filter shape
    (etl/studies/covid_symptom/covid_tasks.py:18-79). Pure higher-order
    array expressions: exists over flattened codings, no explode shuffle.
    """
    conds = []
    for field in fields:
        if field not in notes.columns:
            continue
        dtype = notes.schema[field].dataType.simpleString()
        codings = (
            F.flatten(F.col(field + ".coding"))
            if dtype.startswith("array")
            else F.col(field + ".coding")
        )
        def coding_hit(c):
            expr = F.lit(False)
            for sys, codes in allowed.items():
                expr = expr | F.coalesce(
                    (c["system"] == sys) & c["code"].isin(*codes), F.lit(False)
                )
            return expr

        conds.append(F.coalesce(F.exists(codings, coding_hit), F.lit(False)))
    if not conds:
        raise ValueError(f"none of {fields} present in the notes frame")
    keep = conds[0]
    for c in conds[1:]:
        keep = keep | c
    return notes.filter(keep)


def filter_by_note_csv(
    spark,
    notes: DataFrame,
    csv_path: str,
    id_col: str = "id",
    resource_type: str = "DocumentReference",
    is_anon: bool = False,
    salt: str | None = None,
) -> DataFrame:
    """--select-by-csv / --select-by-anon-csv: keep notes named in a
    selection CSV (ref nlp/selection.py:104-126 scans the CSV's columns
    for note refs and patient ids; upload_notes/manifest.py writes
    ``uploaded_notes.csv`` in exactly this shape — real AND anon columns
    — so a chart-review session can re-select the notes it uploaded
    last time with either flag).

    Recognized columns (case-insensitive) — real mode: ``note_ref``
    (``Type/id`` values), ``docref_id`` (bare DocumentReference ids),
    ``patient_id``; anon mode (``is_anon=True``, requires the codebook
    ``salt``): ``anon_note_ref`` / ``anon_docref_id`` / ``anon_patient_id``,
    matched by anonymizing the notes' OWN ids on the fly — pseudonyms
    are a pure HMAC of (salt, id), so no reverse lookup is needed (the
    reference's ``codebook.fake_id`` membership check, run as a column
    expression). A note passes when its own ref OR its patient matches —
    the reference's NoteFilter OR-semantics. Cohort CSVs are small, so
    matching is broadcast joins against the distinct ref/patient sets;
    the note scan never collects."""
    cohort = spark.read.option("header", True).csv(csv_path)
    return filter_by_cohort_frame(
        notes, cohort, source=csv_path, id_col=id_col,
        resource_type=resource_type, is_anon=is_anon, salt=salt,
    )


def filter_by_note_table(
    spark,
    notes: DataFrame,
    table_name: str,
    id_col: str = "id",
    resource_type: str = "DocumentReference",
    salt: str | None = None,
) -> DataFrame:
    """--select-by-athena-table: keep notes named in a catalog table —
    the reference queries Athena and treats the result as ANON ids
    (nlp/selection.py:146-149); here the table comes from the Spark
    catalog (our Athena surface, sinks/catalog_ddl.py) and the same
    anon-membership check applies. The table's anon_* columns are the
    contract, exactly like --select-by-anon-csv."""
    return filter_by_cohort_frame(
        notes, spark.table(table_name), source=table_name, id_col=id_col,
        resource_type=resource_type, is_anon=True, salt=salt,
    )


def filter_by_cohort_frame(
    notes: DataFrame,
    cohort: DataFrame,
    source: str = "cohort",
    id_col: str = "id",
    resource_type: str = "DocumentReference",
    is_anon: bool = False,
    salt: str | None = None,
) -> DataFrame:
    """The shared matching core for CSV/table note selection."""
    cols = {c.lower(): c for c in cohort.columns}

    prefix = "anon_" if is_anon else ""
    if is_anon and not salt:
        raise ValueError("anon-CSV selection requires the codebook salt")
    ref_exprs = []
    if f"{prefix}note_ref" in cols:
        ref_exprs.append(F.col(cols[f"{prefix}note_ref"]))
    if f"{prefix}docref_id" in cols:
        ref_exprs.append(
            F.concat(F.lit("DocumentReference/"), F.col(cols[f"{prefix}docref_id"]))
        )
    patient_col = cols.get(f"{prefix}patient_id")
    if not ref_exprs and not patient_col:
        raise ValueError(
            f"{source}: no {prefix}note_ref / {prefix}docref_id / "
            f"{prefix}patient_id column (found {list(cohort.columns)})"
        )

    own_id: Column = F.col(id_col)
    if "subject" in notes.columns:
        pat_id = F.element_at(F.split(F.col("subject")["reference"], "/"), -1)
    else:
        pat_id = F.lit(None).cast("string")
    if is_anon:
        own_id = anon_id(own_id, salt)
        pat_id = F.when(pat_id.isNotNull(), anon_id(pat_id, salt))
    # mixed multi-type note frames ref by their own resourceType
    rtype = (
        F.coalesce(F.col("resourceType"), F.lit(resource_type))
        if "resourceType" in notes.columns
        else F.lit(resource_type)
    )
    own_ref = F.concat(rtype, F.lit("/"), own_id)
    n = notes.withColumn("__own_ref", own_ref)
    n = n.withColumn("__own_pat", pat_id)

    keep = F.lit(False)
    if ref_exprs:
        refs = cohort.select(
            F.explode(F.array(*ref_exprs)).alias("__sel_ref")
        ).filter(F.col("__sel_ref").isNotNull()).distinct()
        n = n.join(F.broadcast(refs), n["__own_ref"] == F.col("__sel_ref"), "left")
        keep = keep | F.col("__sel_ref").isNotNull()
    if patient_col:
        pats = (
            cohort.select(F.col(patient_col).alias("__sel_pat"))
            .filter(F.col("__sel_pat").isNotNull() & (F.col("__sel_pat") != ""))
            .distinct()
        )
        n = n.join(F.broadcast(pats), n["__own_pat"] == F.col("__sel_pat"), "left")
        keep = keep | F.col("__sel_pat").isNotNull()
    return n.filter(keep).drop("__own_ref", "__own_pat", "__sel_ref", "__sel_pat")


def filter_by_cohort(
    notes: DataFrame,
    cohort: DataFrame,
    note_col: str,
    cohort_col: str | None = None,
    reject: bool = False,
) -> DataFrame:
    """Semi-join (or anti-join for rejects) against a cohort id frame —
    CSV- or table-sourced (S8/S9). Broadcast: cohorts are small."""
    cohort_col = cohort_col or cohort.columns[0]
    ids = F.broadcast(cohort.select(F.col(cohort_col).alias("__cohort_id")).distinct())
    how = "left_anti" if reject else "left_semi"
    return notes.join(ids, notes[note_col] == F.col("__cohort_id"), how)


def select_notes(
    spark,
    notes: DataFrame,
    *,
    select_words: list[str] | None = None,
    select_regex: str | None = None,
    select_by_csv: str | None = None,
    select_by_anon_csv: str | None = None,
    select_by_athena_table: str | None = None,
    phi_dir: str | None = None,
) -> DataFrame:
    """Apply the ``--select-by-*`` flags to a frame with ``note_text``:
    at most one cohort source (CSV, anon CSV, catalog table); the anon
    ones read the salt of the codebook already in ``phi_dir`` (a wrong
    PHI dir is an error, not an empty selection); words may repeat or be
    comma-separated (ref cli_utils.py:187-201)."""
    if sum(map(bool, (select_by_csv, select_by_anon_csv, select_by_athena_table))) > 1:
        raise ValueError(
            "Multiple selection arguments provided. Please specify just one."
        )
    if select_by_csv:
        notes = filter_by_note_csv(spark, notes, select_by_csv)
    elif select_by_anon_csv or select_by_athena_table:
        if not phi_dir:
            raise ValueError("anon note selection requires the PHI dir")
        salt = read_salt(phi_dir)
        if select_by_anon_csv:
            notes = filter_by_note_csv(
                spark, notes, select_by_anon_csv, is_anon=True, salt=salt
            )
        else:
            notes = filter_by_note_table(
                spark, notes, select_by_athena_table, salt=salt
            )
    words = [w.strip() for arg in select_words or () for w in arg.split(",") if w.strip()]
    if words:
        notes = filter_by_words(notes, words)
    if select_regex:
        notes = filter_by_regex(notes, select_regex)
    return notes
