"""Bucketed tables: co-located (exchange-free) fact-fact joins (SURVEY
§2.11 joins row; the 100TB answer to orders ⋈ lineitem).

A shuffle join on two 10-TB fact tables moves both across the network
every query. Bucketing pre-partitions each table by the join key at
write time: ``bucketBy(n, key) sortBy(key)`` persists hash-bucket
files + metastore metadata, and any equi-join between tables bucketed
the same way (same key, same n) skips BOTH exchanges — often the sort
too. Pay one shuffle at load time, never again.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_keys: list[str],
    num_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a metastore-managed bucketed parquet table.

    Overwrite mode also clears an orphaned table location — a managed
    directory left by a previous session whose (in-memory) metastore is
    gone would otherwise fail LOCATION_ALREADY_EXISTS.
    """
    spark = df.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        if warehouse.startswith("file:"):
            warehouse = warehouse[len("file:") :]
        if warehouse and "://" not in warehouse:
            shutil.rmtree(
                f"{warehouse.rstrip('/')}/{table_name.split('.')[-1].lower()}",
                ignore_errors=True,
            )
    writer = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_keys)
    if sort:
        writer = writer.sortBy(*bucket_keys)
    writer.saveAsTable(table_name)
