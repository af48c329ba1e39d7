from cumulus_etl_spark.schemas.fhir import (
    FHIR_RESOURCE_TYPES,
    cut_schema,
    schema_for,
    wide_schema,
)

__all__ = ["FHIR_RESOURCE_TYPES", "cut_schema", "schema_for", "wide_schema"]
