"""Codebook: the PHI-side salt + reversible-mapping audit trail (P7).

The reference keeps a persistent codebook.json holding a random salt and
caches Patient/Encounter real→fake mappings for reversibility
(cumulus_etl/deid/codebook.py:10-267, saved mid-run before each batch
write, etl/tasks/base.py:337-340).

Spark-first, anonymization itself is a *stateless* expression —
HMAC-SHA256(salt, id), the reference's exact algorithm compiled to two
sha2 calls (functions/scalars.py:anon_id) — the hot path needs no lookups and no shared
state across 1000 executors; the salt broadcasts as a literal. The
codebook becomes (a) salt persistence and (b) an audit side-output:
``distinct(id, anon_id)`` appended to a mapping table after data commits,
which is crash-safe by construction (pure function of salt ⇒ a lost
mapping batch is re-derivable, unlike the reference's random legacy IDs).
"""

from __future__ import annotations

import json
import os
import secrets
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cumulus_etl_spark.functions import anon_id

CODEBOOK_FILE = "codebook.json"
MAPPING_DIR = "codebook-cached-mappings"

# Resource types whose mappings are cached for reversibility
# (ref codebook.py:145-158: only Patient and Encounter).
CACHED_TYPES = ("Patient", "Encounter")


def read_salt(phi_dir: str) -> str:
    """The salt of the codebook already in ``phi_dir``, writing nothing
    (a freshly minted salt would match no existing pseudonym)."""
    path = os.path.join(phi_dir, CODEBOOK_FILE)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no codebook at {path}: is this the right PHI dir?")
    with open(path) as fh:
        return json.load(fh)["salt"]


class Codebook:
    def __init__(self, phi_dir: str):
        self.phi_dir = phi_dir
        os.makedirs(phi_dir, exist_ok=True)
        path = os.path.join(phi_dir, CODEBOOK_FILE)
        if os.path.exists(path):
            with open(path) as fh:
                doc = json.load(fh)
            self.codebook_id: str = doc["id"]
            self.salt: str = doc["salt"]
        else:
            self.codebook_id = str(uuid.uuid4())
            self.salt = secrets.token_hex(32)  # 256-bit, ref codebook.py:132-140
            with open(path, "w") as fh:
                json.dump({"version": 1, "id": self.codebook_id, "salt": self.salt}, fh)

    def anonymize(self, id_col: str = "id"):
        """Column expression for this codebook's pseudonym of ``id_col``."""
        return anon_id(F.col(id_col), self.salt)

    def mapping_frame(self, df: DataFrame, resource_type: str, id_col: str = "id") -> DataFrame:
        """The (real → fake) audit mapping rows for one batch."""
        return (
            df.select(F.col(id_col).alias("real_id"))
            .distinct()
            .select(
                F.lit(resource_type).alias("resource_type"),
                "real_id",
                anon_id(F.col("real_id"), self.salt).alias("anon_id"),
            )
        )

    def save_mappings(self, df: DataFrame, resource_type: str, id_col: str = "id") -> None:
        """Append this batch's mappings to the PHI-side mapping table.

        Append-only parquet; readers dedupe with ``distinct()`` (mappings
        are deterministic, so duplicates are harmless re-derivations).
        """
        if resource_type not in CACHED_TYPES:
            return
        out = os.path.join(self.phi_dir, MAPPING_DIR)
        self.mapping_frame(df, resource_type, id_col).write.mode("append").parquet(out)

    def load_mappings(self, spark) -> DataFrame:
        out = os.path.join(self.phi_dir, MAPPING_DIR)
        if not os.path.exists(out):
            return spark.createDataFrame(
                [], "resource_type string, real_id string, anon_id string"
            )
        return spark.read.parquet(out).distinct()
