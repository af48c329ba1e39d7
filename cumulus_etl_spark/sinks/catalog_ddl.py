"""SQL-catalog registration of managed tables (SURVEY §2.2 K6).

The reference generates Athena ``CREATE EXTERNAL TABLE`` DDL from its
pyarrow schemas (formats/nlp.py:10-134), versioned dirs and all. On
Spark the metastore speaks StructType natively: registration is a
``CREATE TABLE`` with the table's contractual schema pointed at the
current version directory (hive-partitioned by ``__bucket`` — see
sinks/merge.py), plus partition recovery, re-pointed after each merge.
A view projects the data columns so downstream SQL never sees the
bucket column: ``SELECT ... FROM <db>.<table>`` with full pushdown.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

from cumulus_etl_spark.sinks.merge import BUCKET_COL, ManagedTable


def register_table(spark: SparkSession, table: ManagedTable, db: str = "default") -> str:
    """(Re-)register a managed table's current version in the catalog.

    DROP+CREATE like the reference (it re-registers after the first batch,
    formats/nlp.py:67-93) — the pointer flip is metadata-only. The explicit
    schema (from the table pointer) means empty tables register cleanly
    and schema evolution never depends on file-footer inference.
    """
    v = table.current_version()
    schema = table.schema()
    if v is None or schema is None:
        raise ValueError(f"table {table.name} has no data to register")
    qualified = f"{db}.{table.name}"
    files_table = f"{qualified}__files"
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(f"DROP VIEW IF EXISTS {qualified}")
    spark.sql(f"DROP TABLE IF EXISTS {files_table}")
    spark.sql(
        f"CREATE TABLE {files_table} ({cols}, `{BUCKET_COL}` INT) "
        f"USING PARQUET PARTITIONED BY (`{BUCKET_COL}`) "
        f"LOCATION '{table._vdir(v)}'"
    )
    # pick up the version dir's bucket partitions (metadata-only listing)
    spark.sql(f"ALTER TABLE {files_table} RECOVER PARTITIONS")
    col_list = ", ".join(f"`{f.name}`" for f in schema.fields)
    spark.sql(f"CREATE VIEW {qualified} AS SELECT {col_list} FROM {files_table}")
    return qualified


# ---- Athena external-table DDL emission (K6 proper) ----
#
# For lakes that Athena queries directly, emit the same CREATE EXTERNAL
# TABLE the reference generates from its pyarrow schemas
# (formats/nlp.py:86-134), from our StructType instead. Executing the DDL
# needs an Athena connection (not available here), so emission and
# execution are split: ``athena_create_table_ddl`` returns the SQL;
# ``register_athena_table`` runs it through any DB-API cursor.

_ATHENA_FORMATS = {
    # pre-LOCATION and post-LOCATION clauses (ref ndjson.py:43-44, parquet.py:24-25)
    "ndjson": ("ROW FORMAT SERDE 'org.openx.data.jsonserde.JsonSerDe'", ""),
    "parquet": ("STORED AS PARQUET", 'TBLPROPERTIES ("parquet.compression"="SNAPPY")'),
}


def athena_type(dtype: DataType) -> str:
    """Spark type → Athena DDL type (ref _pyarrow_schema_to_athena_cols,
    formats/nlp.py:95-134: every integer width maps to INT, every float
    to DOUBLE; anything else unsupported is a hard error, not a guess)."""
    if isinstance(dtype, StringType):
        return "STRING"
    if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
        return "INT"
    if isinstance(dtype, (FloatType, DoubleType)):
        return "DOUBLE"
    if isinstance(dtype, BooleanType):
        return "BOOLEAN"
    if isinstance(dtype, TimestampType):
        return "TIMESTAMP"
    if isinstance(dtype, ArrayType):
        return f"ARRAY<{athena_type(dtype.elementType)}>"
    if isinstance(dtype, StructType):
        inner = ", ".join(f"{f.name}: {athena_type(f.dataType)}" for f in dtype.fields)
        return f"STRUCT<{inner}>"
    raise ValueError(f"Unsupported Spark type for Athena DDL: {dtype.simpleString()}")


def athena_cols(schema: StructType) -> str:
    return ", ".join(f"{f.name} {athena_type(f.dataType)}" for f in schema.fields)


def versioned_location(root: str, dbname: str, version: int) -> tuple[str, str]:
    """The reference's results-bucket layout (formats/nlp.py:28-44):
    ``{study}__{table}`` registers at ``{root}/{study}/{table}_v{version}/``.
    A dbname without ``__`` keeps a flat ``{root}/{dbname}_v{version}/``.
    Returns (table folder, versioned dir name)."""
    if "__" in dbname:
        study, table = dbname.split("__", 1)
        return f"{root.rstrip('/')}/{study}", f"{table}_v{version}"
    return root.rstrip("/"), f"{dbname}_v{version}"


def athena_create_table_ddl(
    dbname: str,
    schema: StructType,
    root: str,
    version: int = 1,
    fmt: str = "parquet",
) -> str:
    """CREATE EXTERNAL TABLE DDL string for one managed table version."""
    pre_params, post_params = _ATHENA_FORMATS[fmt]
    folder, vdir = versioned_location(root, dbname, version)
    parts = [
        f"CREATE EXTERNAL TABLE {dbname} (",
        f"    {athena_cols(schema)}",
        ")",
    ]
    if pre_params:
        parts.append(pre_params)
    parts.append(f"LOCATION '{folder}/{vdir}/'")
    if post_params:
        parts.append(post_params)
    return "\n".join(parts)


def register_athena_table(
    cursor,
    dbname: str,
    schema: StructType,
    root: str,
    version: int = 1,
    fmt: str = "parquet",
) -> str:
    """DROP + CREATE through a DB-API cursor (PyAthena or compatible),
    mirroring ref formats/nlp.py:67-93. Returns the executed DDL."""
    cursor.execute(f"DROP TABLE IF EXISTS {dbname}")
    ddl = athena_create_table_ddl(dbname, schema, root, version=version, fmt=fmt)
    cursor.execute(ddl)
    return ddl


class AthenaRegistrar:
    """Registration-after-first-batch hook (ref formats/nlp.py:50-57:
    "Register after dropping the first batch, as it's nice to be able to
    show immediate progress in Athena ... As more batches come in, the
    table will automatically expand").

    Holds any DB-API connection (PyAthena-shaped: ``.cursor().execute``)
    plus the table's identity; callers invoke :meth:`on_batch` after each
    batch/micro-batch commit. The DDL executes exactly once, after the
    FIRST committed batch — the external table points at the folder, so
    later batches are visible without re-registration. A ``None``
    connection makes the hook a no-op, keeping call sites unconditional.
    """

    def __init__(
        self,
        connection,
        dbname: str,
        schema: StructType,
        root: str,
        version: int = 1,
        fmt: str = "parquet",
    ) -> None:
        self._connection = connection
        self._dbname = dbname
        self._schema = schema
        self._root = root
        self._version = version
        self._fmt = fmt
        self.registered_ddl: str | None = None

    def on_batch(self, batch_id: int | None = None) -> bool:
        """Returns True iff this call performed the registration."""
        if self._connection is None or self.registered_ddl is not None:
            return False
        self.registered_ddl = register_athena_table(
            self._connection.cursor(),
            self._dbname,
            self._schema,
            self._root,
            version=self._version,
            fmt=self._fmt,
        )
        return True
