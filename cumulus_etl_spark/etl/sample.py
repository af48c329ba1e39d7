"""The ``sample`` verb: uniform random clinical-note samples
(SURVEY §2.7 O1, F5, F7; ref cumulus_etl/sample/cli.py).

The reference runs Algorithm R over a note stream with a seeded RNG and
re-reads winners by byte offset (S10). Distributed, the same contract is
a seeded top-N: every row gets a stable ``rand(seed)`` draw; TakeOrdered
keeps a per-partition heap — no global sort, no re-read (rows stay in
the DataFrame).

The ``--select-by-*`` flags go through the note verbs' one selection
surface, :func:`~cumulus_etl_spark.nlp.selection.select_notes`, after
this verb's own de-dup and has-text filter and before the draw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cumulus_etl_spark.nlp import extract_note_text
from cumulus_etl_spark.operators.sampling import reservoir_sample
from cumulus_etl_spark.sources import scan_resources


def sample_notes(
    spark: SparkSession,
    input_dir: str,
    n: int,
    seed: int = 42,
    select_words: list[str] | None = None,
    select_regex: str | None = None,
    select_by_csv: str | None = None,
    select_by_anon_csv: str | None = None,
    phi_dir: str | None = None,
    resource_types: tuple[str, ...] = ("DiagnosticReport", "DocumentReference"),
) -> DataFrame:
    """N uniformly-sampled clinical notes that have inline text — over
    BOTH note resource types by default, like the reference's sample
    verb (sample/cli.py:89-94 --type default).

    F5 duplicate suppression (dropDuplicates on resourceType+id) and F7
    has-text predicate applied before sampling, like the reference's
    seen-set + text filter (sample/cli.py:159-170). The note-selection
    surface the reference shares across its note CLIs
    (nlp.add_note_selection; here ``select_notes``) applies BEFORE the
    draw, so the sample is uniform over the selected population."""
    from cumulus_etl_spark.nlp.selection import select_notes

    docs = scan_resources(spark, input_dir, list(resource_types))
    docs = docs.dropDuplicates(["resourceType", "id"])
    notes = extract_note_text(docs).filter(F.col("note_text").isNotNull())
    notes = select_notes(
        spark, notes,
        select_words=select_words, select_regex=select_regex,
        select_by_csv=select_by_csv, select_by_anon_csv=select_by_anon_csv,
        phi_dir=phi_dir,
    )
    return reservoir_sample(notes, n, seed=seed, tiebreak=["id"])


def sample_refs_frame(sampled: DataFrame, columns: set[str]) -> DataFrame:
    """The reference's CSV projection of a sample (sample/cli.py:96-116):
    note_ref / subject_ref / encounter_id, in that column order."""
    out = []
    if "note" in columns:
        out.append(
            F.concat(F.col("resourceType"), F.lit("/"), F.col("id")).alias("note_ref")
        )
    if "subject" in columns:
        out.append(F.col("subject")["reference"].alias("subject_ref"))
    if "encounter" in columns:
        enc_refs = []
        if "context" in sampled.columns:  # DocumentReference
            enc_refs.append(F.element_at(F.col("context.encounter"), 1)["reference"])
        if "encounter" in sampled.columns:  # DiagnosticReport single ref
            enc_refs.append(F.col("encounter.reference"))
        enc = F.coalesce(*enc_refs) if enc_refs else F.lit(None).cast("string")
        out.append(
            F.element_at(F.split(enc, "/"), -1).alias("encounter_id")
        )
    if not out:
        raise ValueError("No valid columns selected")
    return sampled.select(*out)
