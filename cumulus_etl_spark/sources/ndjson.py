"""FHIR bulk-export NDJSON sources (SURVEY §2.1 S1-S5).

The reference streams dict-per-line with a Python iterator
(cumulus_etl/common.py:134-168) and stages remote inputs to local disk
first (loaders/fhir/ndjson_loader.py:40-69). Here every resource read,
batch or streaming, goes through one path: :func:`read_lines` reads the
raw text lines of every ``*.ndjson`` under a root (recursively, object
stores natively, no staging copy) as a frame of lines, and three readers
share that frame, whether it is a whole export or one micro-batch:

- :func:`census` — the resource types present and the top-level keys
  each type's lines hold;
- :func:`parse_lines` — dispatches each line on its ``resourceType``
  and parses it under that type's schema with ``from_json``;
- :func:`tombstones` — the ``(resource_type, id)`` rows that the
  ``deleted/`` Bundle lines delete.

A run parses only the top-level fields its export holds:
:func:`parse_lines` cuts each type's schema down to the keys the census
found. A field no line carries parses to null under the full schema, so
the cut drops only all-null columns; readers get the full contract back
from the table's pointer (sinks/merge.py). Nested structs are never cut.

Malformed lines are quarantined, not dropped silently: a line that is
not JSON, has no resourceType, or breaks its type's schema lands on the
bad side with its raw text and source file (parity: common.py:159-168
warns and skips; etl/tasks/base.py:356-364 spills them).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from cumulus_etl_spark.schemas import cut_schema, schema_for, wide_schema

CORRUPT_COL = "_corrupt_record"
_BUNDLE_SCHEMA = "entry array<struct<request: struct<method: string, url: string>>>"


def _with_corrupt(schema: StructType) -> StructType:
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)])


def _conform(df: DataFrame, own: StructType, wide: StructType) -> DataFrame:
    """Project a per-type parsed frame onto the wide schema: absent fields
    become typed nulls; a scalar field whose wide form is an array (the
    Condition.category vs MedicationDispense.category divergence) is
    wrapped with ``F.array`` — parse stays exact per type, union stays
    cheap."""
    own_types = {f.name: f.dataType for f in own.fields}
    cols = []
    for f in wide.fields:
        have = own_types.get(f.name)
        if have is None:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif have == f.dataType:
            cols.append(F.col(f.name))
        else:  # scalar → array promotion (wide_schema guarantees this shape)
            c = F.col(f.name)
            cols.append(F.when(c.isNotNull(), F.array(c)).alias(f.name))
    return df.select(*cols)


def read_lines(reader, root: str) -> DataFrame:
    """Every ``*.ndjson`` line under ``root`` (recursively) as
    ``(raw_line, source_file, _rt)``, where ``_rt`` is the line's
    resourceType read without a schema parse (null when the line is not
    JSON or has none). ``reader`` is ``spark.read`` or
    ``spark.readStream``, so batch and streaming scans share it.

    Text, not ``read.json``: Spark disallows queries that touch only the
    corrupt-record column, and the raw line must survive for the
    quarantine side."""
    return (
        reader.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.ndjson")
        .text(root)
        .select(
            F.col("value").alias("raw_line"),
            F.input_file_name().alias("source_file"),
            F.get_json_object(F.col("value"), "$.resourceType").alias("_rt"),
        )
    )


def parse_lines(
    lines: DataFrame,
    resource_types: list[str] | tuple[str, ...],
    fields: Mapping[str, Iterable[str]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """S1 + K7: split a :func:`read_lines` frame into (good rows under the
    wide schema of ``resource_types``, quarantined ``(raw_line,
    source_file)``).

    ``fields`` maps a type to the top-level fields to parse (the keys a
    :func:`census` found, plus any the caller needs; an ETL task's rule
    is ``TaskDef.fields``); its schema is cut down to them, and the
    good side's columns are the wide schema cut down to the union. A
    type it does not name parses every field. As long as the census
    covered every line, a line breaks the cut schema exactly when it
    breaks the full one: it can only break a field it carries, and
    every field it carries is kept.

    Lines are dispatched on resourceType BEFORE any schema parse (ref
    common.py:144-156 filters before validating): a foreign-type line is
    simply skipped — it is someone else's input, not an error — and only
    same-type parse failures quarantine, along with lines that are not
    JSON or lack a resourceType.
    """
    types = list(resource_types)
    fields = fields or {}
    own_of = {rt: cut_schema(schema_for(rt), fields.get(rt)) for rt in types}
    kept = {f.name for own in own_of.values() for f in own.fields}
    wide = cut_schema(wide_schema(types), kept)
    goods = []
    # Unparseable JSON / missing resourceType: malformed for every type.
    bad = lines.filter(F.col("_rt").isNull()).select("raw_line", "source_file")
    for rt in types:
        own = own_of[rt]
        mine = lines.filter(F.col("_rt") == rt).withColumn(
            "parsed",
            # PERMISSIVE + corrupt column: field-level type mismatches
            # (e.g. a singleton object where FHIR requires an array)
            # populate the corrupt column and route to quarantine instead
            # of flowing through with silently-nulled fields.
            F.from_json(
                F.col("raw_line"),
                _with_corrupt(own),
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
            ),
        )
        ok = F.col("parsed").isNotNull() & F.col(f"parsed.{CORRUPT_COL}").isNull()
        goods.append(
            _conform(mine.filter(ok).select("parsed.*").drop(CORRUPT_COL), own, wide)
        )
        bad = bad.unionByName(mine.filter(~ok).select("raw_line", "source_file"))
    good = goods[0]
    for g in goods[1:]:
        good = good.unionByName(g)
    return good, bad


def scan_with_quarantine(
    spark: SparkSession,
    root: str,
    resource_types: list[str] | tuple[str, ...],
    fields: Mapping[str, Iterable[str]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """S1 + K7: (good rows, quarantined raw lines) of every ``*.ndjson``
    under ``root``: :func:`read_lines` then :func:`parse_lines` (which
    documents ``fields``).

    Both sides are lazy plans over the same files; each action on either
    one scans them again. The quarantine side carries the raw line plus
    its source file so a run can spill them to ``errors/`` (parity:
    etl/tasks/base.py:356-364).
    """
    return parse_lines(read_lines(spark.read, root), resource_types, fields)


def scan_resources(
    spark: SparkSession,
    root: str,
    resource_types: list[str] | tuple[str, ...],
) -> DataFrame:
    """S1/F1: the rows of the requested resource types under ``root``, in
    the contractual union schema — the good side of
    :func:`scan_with_quarantine`."""
    return scan_with_quarantine(spark, root, resource_types)[0]


def detect_resources(spark: SparkSession, root: str) -> dict[str, set[str]]:
    """S2: the :func:`census` of every line under ``root``. Drives task
    selection like ndjson_loader.py:36-38, and :func:`parse_lines`
    parses only the keys it found."""
    if not _has_ndjson(root):
        return {}
    return census(read_lines(spark.read, root))


def census(lines: DataFrame) -> dict[str, set[str]]:
    """The resource types a :func:`read_lines` frame names, each with the
    top-level keys its lines hold.

    Every line of a type counts, the ones that will be quarantined too,
    so a key that only a schema-breaking line carries is still parsed
    and still quarantines it. A type counts as present whenever a line
    names it, even with no other key (``explode_outer``)."""
    pairs = (
        lines.filter(F.col("_rt").isNotNull())
        .select("_rt", F.explode_outer(F.json_object_keys("raw_line")).alias("key"))
        .distinct()
    )
    found: dict[str, set[str]] = {}
    for r in pairs.collect():
        keys = found.setdefault(r["_rt"], set())
        if r["key"] is not None:
            keys.add(r["key"])
    return found


def read_deleted_ids(spark: SparkSession, root: str) -> DataFrame:
    """S4: the :func:`tombstones` of the NDJSON under ``<root>/deleted``."""
    deleted_dir = os.path.join(root, "deleted")
    if not _has_ndjson(deleted_dir):
        return spark.createDataFrame([], "resource_type string, id string")
    return tombstones(read_lines(spark.read, deleted_dir))


def tombstones(lines: DataFrame) -> DataFrame:
    """S4: the ``(resource_type, id)`` rows that the ``deleted/`` Bundle
    lines of a :func:`read_lines` frame delete.

    Bulk-export deleted bundles live under a ``deleted/`` dir and hold
    entries whose ``request.method`` is DELETE and ``request.url`` is
    ``Type/id`` (loaders/fhir/ndjson_loader.py:92-116). A Bundle
    elsewhere deletes nothing, and a line that is not JSON or breaks
    the entry schema yields no entry. Expressed as explode+filter+split
    — fully Catalyst, no driver loop.
    """
    bundles = lines.filter(
        (F.col("_rt") == "Bundle") & F.col("source_file").contains("/deleted/")
    )
    entries = bundles.select(
        F.explode(F.from_json("raw_line", _BUNDLE_SCHEMA).getField("entry")).alias("e")
    )
    parts = F.split(F.col("e.request.url"), "/")
    return (
        entries.filter(F.upper(F.col("e.request.method")) == "DELETE")
        .filter(F.size(parts) == 2)
        .select(parts.getItem(0).alias("resource_type"), parts.getItem(1).alias("id"))
        .distinct()
    )


def _has_ndjson(root: str) -> bool:
    """Local-path existence probe so empty dirs don't throw AnalysisException.

    On object stores Spark handles missing-path listing itself; this guard
    is test/local convenience only.
    """
    if "://" in root:
        return True
    for dirpath, _dirs, files in os.walk(root):
        if any(f.endswith(".ndjson") for f in files):
            return True
    return False
