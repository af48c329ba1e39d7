"""NLP task runner: cache-first model pipeline with replacement writes
(SURVEY §3.2; ref etl/tasks/nlp_task.py:38-482).

Flow per task:
  notes → extract text → checksum → [cache hits ∪ run model on misses]
        → envelope (note_ref / encounter_ref / subject_ref / generated_on
          / task_version) → explode matches → merge with
          group_field=note_ref (a re-run REPLACES a note's rows — J2)

The provider only ever sees cache misses; the cache append happens
before the table merge so an interrupted run still banks its model
calls (parity: nlp/models.py:571-582 resume semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cumulus_etl_spark.deid import Codebook
from cumulus_etl_spark.functions import anon_id, anon_ref
from cumulus_etl_spark.nlp.cache import NlpCache
from cumulus_etl_spark.nlp.notes import extract_note_text, note_checksum
from cumulus_etl_spark.nlp.provider import MATCH_SCHEMA, run_model
from cumulus_etl_spark.sinks import ManagedTable, MergePolicy

NLP_POLICY = MergePolicy(keys=("id",), group_field="note_ref", last_updated_field=None)


def run_nlp_task(
    spark: SparkSession,
    docrefs: DataFrame,
    model,
    task_name: str,
    task_version: int,
    output_dir: str,
    phi_dir: str,
    generated_on: str,
    batch_provider=None,
    response_schema: dict | None = None,
    result_col: str = "result",
) -> dict:
    """Run one NLP study task over DocumentReference rows. Returns funnel
    counters (A3: seen/with_text/from_cache/model_called).

    With ``batch_provider`` set, cache misses go through the provider
    batch API (submit files → poll → results; nlp/batch_api.py) instead
    of synchronous mapInPandas calls — the reference's batch mode
    (nlp_task.py:199-222): results land in the cache first, then the
    normal cache-first flow proceeds.

    With ``response_schema`` set (a JSON schema), the task is a
    structured-extraction task (ref BaseCovidGptTask covid_tasks.py:
    244-329 and the dynamic-TOML tasks): the model's JSON answer is
    parsed against the compiled schema into ONE typed struct row per
    note (column ``result_col``), instead of the match-explode envelope.
    """
    all_notes = extract_note_text(docrefs)
    # A3 funnel: one aggregate job for seen + with_text instead of two
    # count() launches (count("note_text") skips nulls).
    funnel = all_notes.agg(
        F.count(F.lit(1)).alias("seen"), F.count("note_text").alias("with_text")
    ).first()
    seen, with_text = funnel["seen"], funnel["with_text"]
    # Prune to exactly the columns the NLP stage needs BEFORE anything
    # crosses the Arrow boundary.  DocumentReference's full struct is
    # thousands of nested fields; shipping it through mapInPandas both
    # segfaults Arrow's deep-struct conversion at sandbox scale and would
    # serialize megabytes per row through Python at cluster scale.  The
    # envelope only ever needs these five scalars.
    # DocumentReference carries its encounter in context.encounter[];
    # DiagnosticReport as a single `encounter` Reference — take whichever
    # the frame has (both, per row, on a mixed multi-type scan).
    enc_candidates = []
    if "context" in docrefs.columns:
        enc_candidates.append(
            F.element_at(F.col("context.encounter"), 1)["reference"]
        )
    if "encounter" in docrefs.columns:
        enc_candidates.append(F.col("encounter.reference"))
    enc_src = (
        F.coalesce(*enc_candidates)
        if enc_candidates
        else F.lit(None).cast("string")
    )
    rtype = (
        F.col("resourceType")
        if "resourceType" in docrefs.columns
        else F.lit("DocumentReference")
    )
    notes = (
        all_notes.filter(F.col("note_text").isNotNull())
        .withColumn("checksum", note_checksum())
        .select(
            "id",
            F.coalesce(rtype, F.lit("DocumentReference")).alias("note_rtype"),
            F.col("subject.reference").alias("subject_ref_src"),
            enc_src.alias("encounter_ref_src"),
            "note_text",
            "checksum",
        )
    )
    # cache() here: the hits/misses split and the later union both read
    # this frame; without it the scan + decode would run twice.
    notes.cache()

    cache = NlpCache(spark, phi_dir, task_name, task_version)
    hits, misses = cache.split(notes)
    n_hits = hits.count() if hits is not None else 0

    if batch_provider is not None:
        from cumulus_etl_spark.nlp.batch_api import BatchRun

        import os

        run = BatchRun(spark, os.path.join(phi_dir, f"batch__{task_name}__v{task_version}"))
        run.submit(misses.select("checksum", "note_text").distinct(), batch_provider)
        while not run.poll(batch_provider):  # pragma: no cover - stub is sync
            pass
        delivered = run.results()
        fresh = misses.join(delivered, "checksum", "inner")
    else:
        fresh = run_model(misses, model)
    cache.append(fresh)
    # cache hits carry no usage column (no tokens were spent on them)
    scored = fresh if hits is None else hits.unionByName(fresh, allowMissingColumns=True)

    if response_schema is not None:
        from cumulus_etl_spark.nlp.span import rewrite_spans_udf, schema_mentions_spans

        if schema_mentions_spans(response_schema):
            # Span-augmented schemas: the model answers with span TEXT;
            # the compiled output type is integer pairs (no note text may
            # reach the de-identified table). Rewrite every `spans` field
            # against the note before the from_json parse — without this
            # the type mismatch would silently null the field (ref
            # BaseModelTaskWithSpans, etl/tasks/nlp_task.py:397-452).
            # Applies to cache hits too (the cache keeps raw answers).
            scored = scored.withColumn(
                "result", rewrite_spans_udf(F.col("result"), F.col("note_text"))
            )

    # The output table lives on the de-identified side, so every source
    # identifier is pseudonymized with the codebook salt before the
    # envelope (ref scrubs each docref via the codebook before emitting —
    # etl/tasks/nlp_task.py:136-151 + deid/codebook.py). note_ref doubles
    # as the replacement group key; anon is deterministic, so re-runs
    # still replace the same group.
    salt = Codebook(phi_dir).salt
    envelope = scored.select(
        # resourceType-prefixed so DiagnosticReport notes keep their type
        # in the ref (DocumentReference rows unchanged — goldens stable)
        F.expr(f"concat(`note_rtype`, '/', {anon_id('`id`', salt)})").alias("note_ref"),
        F.expr(anon_ref("`encounter_ref_src`", salt)).alias("encounter_ref"),
        F.expr(anon_ref("`subject_ref_src`", salt)).alias("subject_ref"),
        F.lit(generated_on).alias("generated_on"),
        F.lit(task_version).alias("task_version"),
        F.col("result"),
    )
    if response_schema is not None:
        # Structured-extraction envelope: one typed row per note, the
        # anon docref id doubling as the row id (ref covid_tasks.py:
        # 300-329 — id == docref_id, `symptoms` struct per note).
        from cumulus_etl_spark.nlp.response_schema import compile_response_schema

        rows = envelope.select(
            F.regexp_replace("note_ref", "^[A-Za-z]+/", "").alias("id"),
            "note_ref",
            "encounter_ref",
            "subject_ref",
            "generated_on",
            "task_version",
            F.from_json(F.col("result"), compile_response_schema(response_schema)).alias(
                result_col
            ),
        )
    else:
        result = envelope.withColumn(
            "matches", F.from_json(F.col("result"), MATCH_SCHEMA)
        ).drop("result")
        # one row per match; a no-match note keeps one null row so
        # "processed, found nothing" is distinguishable from "never
        # processed" (ref covid_ctakes.py:141-147)
        exploded = result.select(
            "*", F.explode_outer("matches").alias("match")
        ).drop("matches")
        rows = exploded.select(
            F.sha2(
                F.concat_ws(
                    "|",
                    "note_ref",
                    F.coalesce(F.col("match.code"), F.lit("-")),
                    F.coalesce(F.col("match.begin").cast("string"), F.lit("-")),
                ),
                256,
            ).alias("id"),
            "note_ref",
            "encounter_ref",
            "subject_ref",
            "generated_on",
            "task_version",
            "match",
        )

    table = ManagedTable(spark, output_dir, task_name)
    table.merge(rows, NLP_POLICY)
    notes.unpersist()
    return {
        "seen": seen,
        "with_text": with_text,
        "from_cache": n_hits,
        "model_called": with_text - n_hits,
    }
