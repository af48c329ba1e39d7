"""The i2b2 ETL verb: CSV dump → FHIR NDJSON → the ``etl`` pipeline
(SURVEY §3.1 i2b2 branch; ref etl/pipeline.py:192-195 picks the i2b2
loader inside ``etl``, which converts the dump to FHIR NDJSON before the
shared task loop).

Each CSV present (reference dump layout, ``_FILE_MAP``) is converted by
``sources/i2b2.py`` and staged as ``*.ndjson`` under
``<phi_dir>/i2b2-ndjson/``: raw rows are PHI, so the staging tree is
never under the output dir, and it is replaced on every run.
:func:`~cumulus_etl_spark.etl.pipeline.run_etl` then loads it like any
bulk export (scan, quarantine, scrub, codebook mappings, task merge
policies, completion tables, ``JobConfig``, ``JobContext``) and its job
summary is this verb's.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from cumulus_etl_spark.etl.pipeline import run_etl
from cumulus_etl_spark.sources import i2b2

STAGING_DIR = "i2b2-ndjson"

_FILE_MAP = [  # (csv filename, FHIR converter)
    ("patient_dimension.csv", i2b2.patients),
    ("visit_dimension.csv", i2b2.encounters),
    ("observation_fact_diagnosis.csv", i2b2.conditions),
    ("observation_fact_lab_views.csv", i2b2.observations),
    ("observation_fact_vitals.csv", i2b2.observations),
    ("observation_fact_notes.csv", i2b2.documentreferences),
    ("observation_fact_medications.csv", i2b2.medicationrequests),
]


def run_etl_i2b2(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    phi_dir: str,
    philter: bool = False,
) -> dict:
    """i2b2 CSVs present in ``input_dir`` → staged FHIR NDJSON →
    :func:`run_etl`. Returns ``run_etl``'s job summary."""
    staging = os.path.join(phi_dir, STAGING_DIR)
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    for filename, convert in _FILE_MAP:
        path = os.path.join(input_dir, filename)
        if not os.path.exists(path):
            continue
        out = os.path.join(staging, filename[: -len(".csv")])
        convert(spark, path).write.json(out)
        for name in os.listdir(out):  # run_etl reads *.ndjson only
            if name.endswith(".json"):
                os.rename(os.path.join(out, name), os.path.join(out, name[:-5] + ".ndjson"))
    return run_etl(spark, staging, output_dir, phi_dir, philter=philter)
