from cumulus_etl_spark.sources.ndjson import (
    detect_resources,
    read_deleted_ids,
    scan_resources,
    scan_with_quarantine,
)
from cumulus_etl_spark.sources.tables import TPCH_TABLES, table, register_views

__all__ = [
    "TPCH_TABLES",
    "table",
    "register_views",
    "scan_resources",
    "scan_with_quarantine",
    "detect_resources",
    "read_deleted_ids",
]
