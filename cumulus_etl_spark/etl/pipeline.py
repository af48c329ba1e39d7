"""The ETL pipeline verbs: etl / init / convert (SURVEY §3).

The reference's lifecycle (etl/pipeline.py, etl/tasks/base.py) is an
async row-iterator with hand-rolled batching. Spark-first, a task is
three lazy plan stages — scan → scrub → merge — and all batching,
spilling, and parallelism belong to the engine. Per-table row counts are
collected with ``df.observe`` metrics, not a second pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cumulus_etl_spark.deid import Codebook, Scrubber
from cumulus_etl_spark.etl.completion import (
    write_completion,
    write_completion_encounters,
)
from cumulus_etl_spark.etl.config import JobConfig, check_output_phi_pairing
from cumulus_etl_spark.etl.context import JobContext
from cumulus_etl_spark.etl.tasks import TaskDef, select_tasks
from cumulus_etl_spark.schemas import cut_schema, schema_for
from cumulus_etl_spark.sinks import ManagedTable
from cumulus_etl_spark.sources import (
    detect_resources,
    read_deleted_ids,
    scan_with_quarantine,
)


def run_etl(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    phi_dir: str,
    tasks: list[str] | None = None,
    philter: bool = False,
    philter_bare_names: bool = False,
    group_name: str | None = None,
    export_datetime: str | None = None,
    output_format: str = "merged",
    batch_size: int = 100_000,
    errors_to: str | None = None,
) -> dict:
    """The main de-identifying ETL run. Returns the job summary dict.

    ``output_format="merged"`` upserts managed tables (the Delta-style
    path); ``"ndjson"`` writes batched NDJSON files per table instead
    (the reference's file-output mode, formats/ndjson.py) — ``convert``
    re-loads those into a lake later.

    Quarantined raw lines carry PHI, so they are NEVER written under
    ``output_dir`` (the de-identified side): they go to ``errors_to``
    when the caller opts in (ref --errors-to), else under ``phi_dir``.
    """
    codebook = Codebook(phi_dir)
    check_output_phi_pairing(output_dir, codebook.codebook_id)

    available = detect_resources(spark, input_dir)
    selected = select_tasks(tasks, available_resources=available)
    config = JobConfig(
        input_dir=input_dir,
        output_dir=output_dir,
        phi_dir=phi_dir,
        tasks=[t.name for t in selected],
        group_name=group_name,
        export_datetime=export_datetime,
        philter=philter,
        batch_size=batch_size,
    )
    config.save()

    scrubber = Scrubber(
        salt=codebook.salt,
        philter_enabled=philter,
        philter_bare_names=philter_bare_names,
    )
    deleted = read_deleted_ids(spark, input_dir)

    errors_root = errors_to or os.path.join(phi_dir, "errors")
    summary: dict = {"tables": {}, "errors": 0}
    for task in selected:
        good, bad = scan_with_quarantine(
            spark, input_dir, [task.resource_type], task.fields(available)
        )
        table_summary = _run_task(
            task, good, bad, deleted, output_dir, codebook, scrubber, group_name,
            errors_dir=os.path.join(errors_root, task.name), errors_mode="overwrite",
            output_format=output_format, batch_size=batch_size,
        )
        summary["tables"][task.table_name] = table_summary
        summary["errors"] += table_summary["quarantined"]

    write_completion(
        spark,
        output_dir,
        [t.table_name for t in selected],
        group_name,
        export_datetime,
    )
    summary["success"] = summary["errors"] == 0
    config.save_summary(summary)
    if summary["success"]:
        JobContext(phi_dir).record_success(input_dir, output_dir)
    return summary


def _run_task(
    task: TaskDef,
    good: DataFrame,
    bad: DataFrame,
    deleted: DataFrame,
    output_dir: str,
    codebook: Codebook,
    scrubber: Scrubber,
    group_name: str | None,
    *,
    errors_dir: str,
    errors_mode: str,
    output_format: str = "merged",
    batch_size: int = 100_000,
) -> dict:
    """The one task body of ``etl`` and of each ``incremental_etl``
    micro-batch: mappings, scrub and merge of the parsed ``good`` lines,
    then ``deleted``'s tombstones of the task's type, the ``bad`` lines'
    spill and Encounter completion rows. Returns ``{rows, quarantined}``.

    Every write runs in ``good``'s session: the rows ``Observation``
    completes only for an action in the session of the frame it
    observes."""
    spark = good.sparkSession
    # Codebook audit mappings committed before data (crash-safe either way:
    # pseudonyms are pure functions of the salt; see deid/codebook.py).
    codebook.save_mappings(good, task.resource_type)

    obs = Observation(f"etl_{task.name}")
    scrubbed = scrubber.scrub(good, task.resource_type).observe(
        obs, F.count(F.lit(1)).alias("rows")
    )

    # Tombstones from the bulk export's deleted/ bundles (J6), applied
    # post-merge with anonymized ids. Kept as a DataFrame — deletes flow
    # through an anti-join, never a driver-side id list (bulk deletes at
    # scale would bottleneck on collect).
    dead = deleted.filter(F.col("resource_type") == task.resource_type)
    dead_anon = dead.select(codebook.anonymize("id").alias("id"))
    have_dead = not dead_anon.isEmpty()

    if output_format == "ndjson":
        from cumulus_etl_spark.sinks.batched import write_ndjson_batches

        # The .meta sidecar is a small JSON document, so the ndjson path
        # is the one place the tombstone set legitimately materializes.
        dead_ids = [r["id"] for r in dead_anon.collect()] if have_dead else None
        write_ndjson_batches(
            scrubbed,
            os.path.join(output_dir, task.table_name),
            batch_size=batch_size,
            deleted_ids=dead_ids,
        )
        encounters_for_completion = scrubbed if task.resource_type == "Encounter" else None
    else:
        table = ManagedTable(spark, output_dir, task.table_name)
        contract = None if table.exists() else _scrubbed_schema(task)
        table.merge(scrubbed, task.policy, contract=contract)
        if have_dead:
            table.delete_ids(dead_anon)
        encounters_for_completion = (
            table.read() if task.resource_type == "Encounter" else None
        )

    # Quarantined raw lines spill to errors_dir (K7). They are raw source
    # records — PHI — so the callers keep it under phi_dir by default,
    # never the de-identified output tree (ref only writes errors to an
    # explicit --errors-to dir, base.py:356-364).
    bad_rows = bad.count()
    if bad_rows:
        bad.write.mode(errors_mode).json(errors_dir)

    if encounters_for_completion is not None:
        write_completion_encounters(spark, output_dir, encounters_for_completion, group_name)

    return {"rows": obs.get["rows"], "quarantined": bad_rows}


def run_init(spark: SparkSession, output_dir: str, tasks: list[str] | None = None) -> list[str]:
    """Create every output table empty but with its full de-identified
    schema, so downstream SQL works before data arrives
    (ref etl/init/cli.py:32-46). The full schema is the pointer's
    contract; the table stores only the columns a merge reads, so a
    later load stores what its export holds, as on a fresh table."""
    created = []
    for task in select_tasks(tasks):
        table = ManagedTable(spark, output_dir, task.table_name)
        if table.exists():
            continue
        contract = _scrubbed_schema(task)
        empty = spark.createDataFrame([], cut_schema(contract, task.policy.read_columns))
        table.merge(empty, task.policy, contract=contract)
        created.append(task.table_name)
    return created


def run_convert(spark: SparkSession, ndjson_dir: str, output_dir: str) -> list[str]:
    """Re-load a previous run's batched NDJSON output into managed tables
    (ref etl/convert/cli.py:191-208). The batch files + sidecars are a
    complete serialized representation of a run: conversion is just
    scan → merge per table (data is already de-identified)."""
    from cumulus_etl_spark.sinks.batched import read_meta

    converted = []
    for task in select_tasks():
        src = os.path.join(ndjson_dir, task.table_name)
        if not os.path.isdir(src):
            continue
        df = spark.read.schema(_scrubbed_schema(task)).json(src)
        table = ManagedTable(spark, output_dir, task.table_name)
        table.merge(df, task.policy)
        meta = read_meta(src)
        if meta.get("deleted"):
            table.delete_ids(meta["deleted"])
        converted.append(task.table_name)
    return converted


def _scrubbed_schema(task: TaskDef) -> StructType:
    """The post-scrub schema of a task's table: a new table's contract,
    and the schema engine NDJSON output reads back under. The scrubber's
    rule walk yields it from the full FHIR schema without Spark."""
    rt = task.resource_type
    return Scrubber(salt="00").compile(rt, schema_for(rt)).schema
