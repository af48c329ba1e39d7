"""Dedup-at-ingestion: an incrementally maintained MinHash-LSH index.

Batch fuzzy dedup (operators/dedup.py) re-scans the corpus; a training-
data LANDING ZONE wants the reverse — as documents arrive, flag the ones
that near-duplicate anything already ingested, without touching the
historical corpus text again. This module keeps two ManagedTables:

- ``lsh_index``: (id, band_idx, band_hash) — the LSH postings a new doc
  can collide with. Bucket-joinable; grows by O(bands) rows per doc.
- ``shingles``: (id, sh: array<long>) — hashed shingle sets for exact
  Jaccard verification of collisions (so reported dups are verified,
  not just candidate-level).

Per micro-batch (foreachBatch, checkpointed — an interrupted ingest
resumes where it left off):

1. shingle + band-hash ONLY the new docs,
2. join their band rows against the index (old ∪ this batch) — one
   bucket join, no corpus scan,
3. verify colliding pairs with exact Jaccard on stored shingle sets,
4. append verified dups to a results table; merge the new docs' rows
   into both index tables.

At 100 TB the index tables are the small derived artifact (the text
stays in the lake); the per-batch cost is ∝ batch size + collisions,
never ∝ corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cumulus_etl_spark.functions import check_literal_parsing, sql_ident
from cumulus_etl_spark.operators.dedup import banded_signatures, shingle_hashes
from cumulus_etl_spark.sinks import ManagedTable, MergePolicy
from cumulus_etl_spark.streaming.ckpt import fold_stream

INDEX_TABLE = "lsh_index"
SHINGLE_TABLE = "shingles"
DUPS_TABLE = "dups"


class DedupIndex:
    """The persistent LSH index over an ingestion directory."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_hashes: int = 32,
        bands: int = 8,
        shingle_k: int = 3,
        threshold: float = 0.7,
    ):
        self.spark = spark
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_k = shingle_k
        self.threshold = threshold
        self.index = ManagedTable(spark, root, INDEX_TABLE)
        self.shingles = ManagedTable(spark, root, SHINGLE_TABLE)
        self.dups = ManagedTable(spark, root, DUPS_TABLE)
        # one index row per (doc, band); one shingle row per doc
        self._index_policy = MergePolicy(keys=("id", "band_idx"), last_updated_field=None)
        self._row_policy = MergePolicy(keys=("id",), last_updated_field=None)

    def ingest_batch(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> None:
        """Index a batch of new docs and record verified near-dups
        against everything ingested before them (and within the batch)."""
        check_literal_parsing(docs.sparkSession)
        sh = docs.select(
            F.col(id_col).alias("id"),
            F.expr(shingle_hashes(sql_ident(text_col), self.shingle_k)).alias("sh"),
        ).localCheckpoint(eager=True)  # feeds banding, verify, and the merge
        banded = banded_signatures(sh, num_hashes=self.num_hashes, bands=self.bands)

        prior_index = self.index.read()
        all_banded = banded if prior_index is None else banded.unionByName(prior_index)
        # bucket join: new band rows vs the full index; triangular filter
        # keeps each pair once and in-batch pairs deduplicate
        cand = (
            banded.select(F.col("id").alias("id_new"), "band_idx", "band_hash")
            .join(
                all_banded.select(F.col("id").alias("id_old"), "band_idx", "band_hash"),
                ["band_idx", "band_hash"],
            )
            .filter(F.col("id_old") < F.col("id_new"))
            .select("id_new", "id_old")
            .distinct()
        )

        prior_sh = self.shingles.read()
        all_sh = sh if prior_sh is None else sh.unionByName(prior_sh)
        verified = (
            cand.join(
                sh.select(F.col("id").alias("id_new"), F.col("sh").alias("sh_new")), "id_new"
            )
            .join(
                all_sh.select(F.col("id").alias("id_old"), F.col("sh").alias("sh_old")), "id_old"
            )
            .withColumn("inter", F.size(F.array_intersect("sh_new", "sh_old")))
            .withColumn(
                "jaccard",
                F.col("inter")
                / (F.size("sh_new") + F.size("sh_old") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .select(
                F.col("id_new").alias("id"),
                F.col("id_old").alias("dup_of"),
                F.round("jaccard", 6).alias("jaccard"),
            )
        )
        if verified.limit(1).count() > 0:
            dup_policy = MergePolicy(keys=("id", "dup_of"), last_updated_field=None)
            self.dups.merge(verified, dup_policy)
        self.index.merge(banded, self._index_policy)
        self.shingles.merge(sh, self._row_policy)

    def known_dups(self) -> DataFrame | None:
        """(id, dup_of, jaccard) — every verified near-dup so far."""
        return self.dups.read()


def incremental_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    index_root: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    **index_kwargs,
) -> DedupIndex:
    """Checkpointed ingest: NDJSON docs landing in ``input_dir`` are
    LSH-indexed batch by batch; each run processes exactly the files
    that arrived since the last one (file-source checkpoint)."""
    idx = DedupIndex(spark, index_root, **index_kwargs)
    fold_stream(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.ndjson")
        .json(input_dir),
        checkpoint_dir,
        lambda batch_df, batch_id: idx.ingest_batch(batch_df),
    )
    return idx
