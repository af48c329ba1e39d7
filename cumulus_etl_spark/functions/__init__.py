from cumulus_etl_spark.functions.scalars import (
    anon_id,
    anon_ref,
    check_literal_parsing,
    year_only,
    zip_generalize,
    nullif_empty,
    sql_double,
    sql_ident,
    sql_str,
    RESTRICTED_ZIP_PREFIXES,
)

__all__ = [
    "anon_id",
    "anon_ref",
    "check_literal_parsing",
    "year_only",
    "zip_generalize",
    "nullif_empty",
    "sql_double",
    "sql_ident",
    "sql_str",
    "RESTRICTED_ZIP_PREFIXES",
]
