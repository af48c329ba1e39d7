"""i2b2 CSV loader: dimension tables → FHIR DataFrames (SURVEY §2.1 S6-S7).

The reference streams csv.DictReader rows into dataclasses and converts
row-by-row in Python (loaders/i2b2/extract.py:12-53,
transform.py:22-392, code-system maps external_mappings.py). Spark-first,
each ``to_fhir_*`` becomes a single ``select`` of struct-building
expressions over a ``spark.read.csv`` scan, and the small code-system
mappings become broadcast-joined lookup frames — per-row Python never
runs.

Code-system mappings (CDC race, FHIR gender, SNOMED admission class,
UCUM units, comparators, ICD prefixes) are public terminology, authored
fresh here with the subset needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

I2B2_SYSTEM = "http://cumulus.smarthealthit.org/i2b2"

# public terminology subsets --------------------------------------------------

FHIR_GENDER = {"F": "female", "M": "male", "U": "unknown"}

# inout_cd → (SNOMED code, display) admission-status mapping
SNOMED_ADMISSION = {
    "Inpatient": ("32485007", "IMP"),
    "Emergency": ("50849002", "EMER"),
    "Outpatient": ("371883000", "AMB"),
}

COMPARATOR = {"GE": ">=", "LE": "<=", "G": ">", "L": "<"}

ICD_SYSTEMS = {
    "ICD10": "http://hl7.org/fhir/sid/icd-10-cm",
    "ICD-10": "http://hl7.org/fhir/sid/icd-10-cm",
    "ICD10PROC": "http://www.cms.gov/Medicare/Coding/ICD10",
    "ICD9": "http://hl7.org/fhir/sid/icd-9-cm",
    "ICD-9": "http://hl7.org/fhir/sid/icd-9-cm",
    "SNOMED": "http://snomed.info/sct",
    "SNOMED-CT": "http://snomed.info/sct",
    "SNOMEDCT": "http://snomed.info/sct",
    "SCT": "http://snomed.info/sct",
}


def scan_csv(spark: SparkSession, path: str) -> DataFrame:
    """S6: header CSV scan with lowercased column names."""
    df = spark.read.option("header", "true").csv(path)
    return df.select([F.col(c).alias(c.lower()) for c in df.columns])


def _chop_date(c: Column) -> Column:
    """i2b2 timestamps → FHIR date (first 10 chars; transform.py:318-326)."""
    return F.nullif(F.substring(c, 1, 10), F.lit(""))


def _concept(code: Column, system: str | Column, display: Column | None = None) -> Column:
    coding = F.struct(
        (F.lit(system) if isinstance(system, str) else system).alias("system"),
        code.alias("code"),
        (display if display is not None else F.lit(None).cast("string")).alias("display"),
    )
    return F.struct(F.array(coding).alias("coding"))


def _ref(resource_type: str, id_col: Column) -> Column:
    return F.struct(
        F.concat(F.lit(resource_type + "/"), id_col.cast("string")).alias("reference")
    )


def _map_frame(spark: SparkSession, mapping: dict, key: str, *vals: str) -> DataFrame:
    rows = [(k, *(v if isinstance(v, tuple) else (v,))) for k, v in mapping.items()]
    cols = ", ".join(f"{c} string" for c in (key, *vals))
    return spark.createDataFrame(rows, cols)


# ---- PatientDimension → Patient (transform.py:22-85) ----

def patients(spark: SparkSession, csv_path: str) -> DataFrame:
    dim = scan_csv(spark, csv_path)
    gender = _map_frame(spark, FHIR_GENDER, "sex_cd_key", "fhir_gender")
    out = dim.join(
        F.broadcast(gender), dim["sex_cd"] == F.col("sex_cd_key"), "left"
    )
    return out.select(
        F.lit("Patient").alias("resourceType"),
        F.col("patient_num").alias("id"),
        F.coalesce(F.col("fhir_gender"), F.lit("unknown")).alias("gender"),
        _chop_date(F.col("birth_date")).alias("birthDate"),
        _chop_date(F.col("death_date")).alias("deceasedDateTime"),
        F.when(
            F.col("zip_cd").isNotNull(),
            F.array(F.struct(F.col("zip_cd").alias("postalCode"))),
        ).alias("address"),
    )


# ---- VisitDimension → Encounter (transform.py:87-122) ----

def encounters(spark: SparkSession, csv_path: str) -> DataFrame:
    dim = scan_csv(spark, csv_path)
    adm = _map_frame(spark, SNOMED_ADMISSION, "inout_key", "snomed_code", "act_code")
    out = dim.join(F.broadcast(adm), dim["inout_cd"] == F.col("inout_key"), "left")
    return out.select(
        F.lit("Encounter").alias("resourceType"),
        F.col("encounter_num").alias("id"),
        F.lit("unknown").alias("status"),
        F.struct(
            F.lit("http://terminology.hl7.org/CodeSystem/v3-ActCode").alias("system"),
            F.coalesce(F.col("act_code"), F.lit("?")).alias("code"),
        ).alias("class"),
        _ref("Patient", F.col("patient_num")).alias("subject"),
        F.struct(
            _chop_date(F.col("start_date")).alias("start"),
            _chop_date(F.col("end_date")).alias("end"),
        ).alias("period"),
        F.when(
            F.col("length_of_stay").isNotNull(),
            F.struct(
                F.col("length_of_stay").cast("double").alias("value"),
                F.lit("days").alias("unit"),
            ),
        ).alias("length"),
    )


# ---- ObservationFact → Condition (transform.py:195-243) ----

def conditions(spark: SparkSession, csv_path: str) -> DataFrame:
    fact = scan_csv(spark, csv_path)
    sys_part = F.split(F.col("concept_cd"), ":").getItem(0)
    code_part = F.split(F.col("concept_cd"), ":").getItem(1)
    icd = _map_frame(spark, ICD_SYSTEMS, "icd_key", "fhir_system")
    out = fact.join(F.broadcast(icd), sys_part == F.col("icd_key"), "left")
    # unmapped prefixes fall back to the whole concept_cd under the i2b2 system
    system = F.coalesce(F.col("fhir_system"), F.lit(I2B2_SYSTEM))
    code = F.when(F.col("fhir_system").isNotNull(), code_part).otherwise(F.col("concept_cd"))
    return out.select(
        F.lit("Condition").alias("resourceType"),
        F.concat_ws("-", F.col("instance_num"), F.col("patient_num"), F.col("concept_cd")).alias(
            "id"
        ),
        _concept(code, system).alias("code"),
        _ref("Patient", F.col("patient_num")).alias("subject"),
        _ref("Encounter", F.col("encounter_num")).alias("encounter"),
        _chop_date(F.col("start_date")).alias("recordedDate"),
        F.struct(
            F.array(
                F.struct(
                    F.lit("http://terminology.hl7.org/CodeSystem/condition-category").alias(
                        "system"
                    ),
                    F.lit("encounter-diagnosis").alias("code"),
                )
            ).alias("coding")
        ).alias("category_single"),
    ).withColumn("category", F.array(F.col("category_single"))).drop("category_single")


# ---- ObservationFact → Observation (labs/vitals, transform.py:124-193,329-379) ----

def observations(spark: SparkSession, csv_path: str) -> DataFrame:
    fact = scan_csv(spark, csv_path)
    cmp_map = _map_frame(spark, COMPARATOR, "tval_key", "fhir_cmp")
    out = fact.join(F.broadcast(cmp_map), fact["tval_char"] == F.col("tval_key"), "left")
    valtype = F.upper(F.col("valtype_cd"))
    value_quantity = F.when(
        valtype == "N",
        F.struct(
            F.col("nval_num").cast("double").alias("value"),
            F.col("fhir_cmp").alias("comparator"),
            F.col("units_cd").alias("unit"),
        ),
    )
    value_cc = F.when(valtype == "T", _concept(F.col("tval_char"), I2B2_SYSTEM))
    return out.select(
        F.lit("Observation").alias("resourceType"),
        F.concat_ws("-", F.col("instance_num"), F.col("patient_num"), F.col("concept_cd")).alias(
            "id"
        ),
        F.lit("unknown").alias("status"),
        _concept(F.col("concept_cd"), I2B2_SYSTEM).alias("code"),
        _ref("Patient", F.col("patient_num")).alias("subject"),
        _ref("Encounter", F.col("encounter_num")).alias("encounter"),
        _chop_date(F.col("start_date")).alias("effectiveDateTime"),
        value_quantity.alias("valueQuantity"),
        value_cc.alias("valueCodeableConcept"),
    )


# ---- ObservationFact (notes) → DocumentReference (transform.py:271-316) ----

def documentreferences(spark: SparkSession, csv_path: str) -> DataFrame:
    fact = scan_csv(spark, csv_path)
    return fact.select(
        F.lit("DocumentReference").alias("resourceType"),
        F.concat_ws("-", F.col("instance_num"), F.col("patient_num")).alias("id"),
        F.lit("current").alias("status"),
        _concept(F.col("concept_cd"), I2B2_SYSTEM, F.col("tval_char")).alias("type"),
        _ref("Patient", F.col("patient_num")).alias("subject"),
        F.struct(F.array(_ref("Encounter", F.col("encounter_num"))).alias("encounter")).alias(
            "context"
        ),
        _chop_date(F.col("start_date")).alias("date"),
        F.array(
            F.struct(
                F.struct(
                    F.lit("text/plain").alias("contentType"),
                    F.base64(F.col("observation_blob").cast("binary")).alias("data"),
                ).alias("attachment")
            )
        ).alias("content"),
    )


# ---- ObservationFact (meds) → MedicationRequest (transform.py:245-269) ----

def medicationrequests(spark: SparkSession, csv_path: str) -> DataFrame:
    fact = scan_csv(spark, csv_path)
    return fact.select(
        F.lit("MedicationRequest").alias("resourceType"),
        F.concat_ws("-", F.col("instance_num"), F.col("patient_num")).alias("id"),
        F.lit("unknown").alias("status"),
        F.lit("order").alias("intent"),
        _concept(F.col("concept_cd"), I2B2_SYSTEM, F.col("concept_cd")).alias(
            "medicationCodeableConcept"
        ),
        _ref("Patient", F.col("patient_num")).alias("subject"),
        _ref("Encounter", F.col("encounter_num")).alias("encounter"),
        _chop_date(F.col("start_date")).alias("authoredOn"),
    )
