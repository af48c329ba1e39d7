"""Regression pins for the round-4 ADVICE fixes to the operators (the
merge-sink pins of that round live in test_merge_sink.py).

- profile_columns with dotted column names
- logreg_train_gd null handling
- text_bigram_lm_score case-folding parity with its oracle
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_profile_handles_dotted_column_names(spark):
    """ADVICE r3: derived aggregate references must be backtick-quoted or a
    legal-in-parquet dotted column name parses as a struct path."""
    from cumulus_etl_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [Row(**{"a": 1, "b": None}), Row(**{"a": 2, "b": 5})]
    ).withColumnRenamed("a", "a.x").withColumnRenamed("b", "b.y")
    got = {r["column_name"]: r for r in profile_columns(df).collect()}
    assert got["a.x"]["n_nulls"] == 0 and got["a.x"]["n_distinct"] == 2
    assert got["b.y"]["n_nulls"] == 1
    assert got["a.x"]["min_num"] == 1.0 and got["a.x"]["max_num"] == 2.0


def test_logreg_ignores_null_rows_consistently(spark):
    """ADVICE r3: rows with NULL features/label must not dilute n — the
    fit over data-with-nulls equals the fit over pre-dropped data."""
    from cumulus_etl_spark.operators.mlstats import logreg_train_gd

    rows = [(float(i % 7) / 3.0, float((i * 5) % 11) / 5.0, i % 2) for i in range(60)]
    clean = spark.createDataFrame(rows, "x1 double, x2 double, y int")
    dirty = clean.unionByName(spark.createDataFrame(
        [(None, 1.0, 1), (2.0, None, 0), (1.0, 1.0, None)],
        "x1 double, x2 double, y int",
    ))
    w_clean, loss_clean, _ = logreg_train_gd(
        clean, ["x1", "x2"], F.col("y"), iters=5)
    w_dirty, loss_dirty, _ = logreg_train_gd(
        dirty, ["x1", "x2"], F.col("y"), iters=5)
    assert w_clean == pytest.approx(w_dirty, abs=1e-12)
    assert loss_clean == pytest.approx(loss_dirty, abs=1e-12)


def test_bigram_lm_score_case_folds_like_its_oracle(spark, tmp_path):
    """ADVICE r3: mixed-case text must produce oracle-identical scores —
    parity previously held only because the generated corpus is all
    lowercase. (Originally pinned text_bigram_lm_score; that entry was
    retired in r9 as subsumed by text_lm_surprisal — the same
    corpus-trained bigram model with the same lower(trim()) folding —
    so the pin moved with it.)"""
    from cumulus_etl_spark.plans import CATALOG
    from tests.oracle_harness import compare

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    for f in os.listdir(SF):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(SF, f), os.path.join(sf_dir, f))
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    upper = docs.withColumn(
        "text",
        F.when(F.crc32(F.col("doc_id").cast("string")) % 2 == 0, F.upper("text"))
        .otherwise(F.initcap("text")),
    )
    # single parquet FILE (the testdata layout DuckDB's view expects)
    import pyarrow.parquet as pq

    pq.write_table(
        upper.toArrow(), os.path.join(sf_dir, "documents.parquet")
    )
    entry = CATALOG["text_lm_surprisal"]
    result = compare(spark, sf_dir, "text_lm_surprisal", entry.build, entry.oracle)
    assert result["ok"], result


def test_simhash_bucket_cap_bounds_pair_explosion(spark):
    """VERDICT r3 item 3: 5k near-identical docs must not go quadratic —
    the capped bucket keeps the lowest-id members only."""
    from cumulus_etl_spark.operators import dedup as D

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog every day").alias("text"),
    )
    pairs = D.simhash_candidates(docs, max_bucket=50, feature_hash="md5")
    rows = pairs.collect()
    assert len(rows) == 50 * 49 // 2  # C(cap, 2), not C(5000, 2)
    assert max(max(r["id_a"], r["id_b"]) for r in rows) < 50  # lowest ids kept
    assert all(r["hamming"] == 0 for r in rows)


def test_simhash_cap_does_not_change_candidates_on_real_corpus(spark):
    """The default cap must be invisible on the fuzz corpus (no bucket
    anywhere near 200 members): capped == uncapped pair sets."""
    from cumulus_etl_spark.operators import dedup as D
    from cumulus_etl_spark.sources import table

    d = table(spark, SF, "documents")
    capped = {(r["id_a"], r["id_b"]) for r in
              D.simhash_candidates(d, feature_hash="md5").collect()}
    uncapped = {(r["id_a"], r["id_b"]) for r in
                D.simhash_candidates(d, max_bucket=10**6, feature_hash="md5").collect()}
    assert capped == uncapped


def test_minhash_survivors_equal_exact(spark):
    """The LSH dedup's oracle premise: banded-minhash candidate recall is
    1 on this corpus, so LSH survivors == exact all-pairs survivors."""
    from cumulus_etl_spark.operators import dedup as D
    from cumulus_etl_spark.sources import table

    d = table(spark, SF, "documents")
    lsh = {r["doc_id"] for r in
           D.ngram_jaccard_dedup(d, "doc_id", "text", shingle_k=3, threshold=0.7)
           .select("doc_id").collect()}
    sh = d.select(F.col("doc_id").alias("id"), D.shingles("text", 3).alias("sh")) \
          .withColumn("sz", F.size("sh"))
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b"))
    pairs = (
        a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        .filter(F.least("sz_a", "sz_b") >= 0.7 * F.greatest("sz_a", "sz_b"))
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("j", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("j") >= 0.7)
    )
    losers = {r["id_b"] for r in pairs.select("id_b").distinct().collect()}
    exact = {r["doc_id"] for r in d.select("doc_id").collect()} - losers
    assert lsh == exact


def test_banded_signatures_match_explode_formulation(spark):
    """r13 opt pin: the map-side array_min(transform) signature build
    must emit the exact (id, band_idx, band_hash) rows of the historical
    explode->groupBy(id) formulation — including dropping docs whose
    shingle set is empty or null (explode emitted no rows for those)."""
    import random

    from cumulus_etl_spark.operators import dedup as D

    rows = [
        (1, [11, 22, 33, 44]),
        (2, [22, 33, 44, 55, 66]),
        (3, [11]),
        (4, []),            # empty set: must produce NO signature rows
        (5, None),          # null set: likewise
        (6, [77, 88, 99, 11, 22, 33]),
    ]
    sh = spark.createDataFrame(rows, "id long, sh array<long>")
    got = {(r["id"], r["band_idx"], r["band_hash"])
           for r in D.banded_signatures(sh, num_hashes=32, bands=8).collect()}

    # reference: the pre-r13 explode->aggregate shape, same coefficients
    rng = random.Random(42)
    coefs = [(rng.randrange(1, D._MINHASH_PRIME), rng.randrange(0, D._MINHASH_PRIME))
             for _ in range(32)]
    hashed = sh.select("id", F.explode("sh").alias("h"))
    sig_cols = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(D._MINHASH_PRIME)).alias(f"s{j}")
        for j, (a, b) in enumerate(coefs)
    ]
    sigs = hashed.groupBy("id").agg(*sig_cols)
    band_hashes = F.array(*[
        F.xxhash64(F.concat_ws(",", *[
            F.col(f"s{b * 4 + i}").cast("string") for i in range(4)
        ]))
        for b in range(8)
    ])
    want = {(r["id"], r["band_idx"], r["band_hash"]) for r in
            sigs.select("id", F.posexplode(band_hashes).alias("band_idx", "band_hash"))
            .collect()}
    assert got == want
    assert not any(i in (4, 5) for i, _, _ in got)


def test_assign_clusters_join_path_matches_literal(spark):
    """VERDICT r3 item 4: the broadcast-centroid-frame join (large-k path)
    must produce identical assignments and distances to the literal-
    expression path, ties included."""
    from cumulus_etl_spark.operators import similarity as S
    from cumulus_etl_spark.sources import table

    emb = table(spark, SF, "embeddings")
    cents = S.first_k_centroids(emb, 32)
    base = emb.select(F.col("vec_id").alias("id"), S.as_double_array("embedding").alias("v"))
    lit = {(r["id"], r["cluster"], r["sq_dist"])
           for r in S.assign_clusters(base, cents).collect()}
    joined = {(r["id"], r["cluster"], r["sq_dist"])
              for r in S.assign_clusters(base, cents, literal_limit=0).collect()}
    assert lit == joined


def test_kmeans_lloyd_large_k_join_path(spark):
    """kmeans_lloyd(k=256) through the join path: runs green and matches
    the literal path exactly (same centroids, assignments, inertias)."""
    from cumulus_etl_spark.operators import similarity as S

    vecs = spark.range(1200).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda d: ((F.col("id") * 37 + d * 11) % 101).cast("double") / 101.0,
        ).alias("embedding"),
    )
    c_lit, a_lit, i_lit = S.kmeans_lloyd(vecs, k=256, iters=2)
    c_join, a_join, i_join = S.kmeans_lloyd(vecs, k=256, iters=2, literal_limit=0)
    assert c_lit == c_join
    assert i_lit == i_join
    assert ({(r["id"], r["cluster"]) for r in a_lit.collect()}
            == {(r["id"], r["cluster"]) for r in a_join.collect()})


def test_semdedup_join_path_matches_literal(spark):
    """SemDeDup keep-set is identical through either assignment path."""
    from cumulus_etl_spark.operators import similarity as S
    from cumulus_etl_spark.sources import table

    emb = table(spark, SF, "embeddings")
    lit = {(r["id"], r["cluster"], r["keep"]) for r in S.semdedup(emb, k=8).collect()}
    joined = {(r["id"], r["cluster"], r["keep"])
              for r in S.semdedup(emb, k=8, literal_limit=0).collect()}
    assert lit == joined


def test_bpe_train_merges_semantics(spark):
    """BPE trainer: merges apply greedily left-to-right, counts are
    corpus-frequency-weighted, rounds feed forward."""
    from cumulus_etl_spark.operators.textstats import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "aaab aaab aaab"), (2, "ab ab")], "doc_id long, text string"
    )
    got = [(r["merge_round"], r["pair"], r["n"])
           for r in bpe_train_merges(docs, n_merges=3).collect()]
    # round 1: pairs in 'a a a b'x3 (a a:2 each -> 6) + 'a b'x2(+3) -> 'a a'=6 wins
    assert got[0] == (1, "a a", 6)
    # after merge: 'aa a b'x3, 'a b'x2 -> round 2: 'a b'=5 vs 'aa a'=3
    assert got[1] == (2, "a b", 5)
    # after merge: 'aa ab'x3, 'ab'x2 -> round 3: 'aa ab'=3
    assert got[2] == (3, "aa ab", 3)


def test_bpe_merges_adjacent_runs_like_reference(spark):
    """Sennrich semantics on symbol runs: merging (c, c) in 'c c c c'
    yields 'cc cc' (BOTH adjacent occurrences), not 'cc c c' — the
    double-space-delimiter replace matches the lookaround-regex
    reference (code-review r4 finding)."""
    from cumulus_etl_spark.operators.textstats import bpe_train_merges

    docs = spark.createDataFrame([(1, "cccc cccc")], "doc_id long, text string")
    got = [(r["merge_round"], r["pair"], r["n"])
           for r in bpe_train_merges(docs, n_merges=2).collect()]
    # 'c c c c' x2 words (deduped to one vocab row of n=2): (c,c) = 3*2
    assert got[0] == (1, "c c", 6)
    # fixed semantics: 'c c c c' -> 'cc cc', so round 2 sees (cc, cc) = 2
    assert got[1] == (2, "cc cc", 2)


def test_hash_sample_is_stable_under_growth(spark):
    """Hash sampling keeps the same rows when the corpus grows — the
    split-stability property rand(seed) can't give."""
    from cumulus_etl_spark.operators.sampling import hash_sample

    small = spark.range(500).select(F.col("id").alias("k"))
    big = spark.range(1000).select(F.col("id").alias("k"))
    s_small = {r["k"] for r in hash_sample(small, "k", 0.3).collect()}
    s_big = {r["k"] for r in hash_sample(big, "k", 0.3).collect()}
    assert s_small == {k for k in s_big if k < 500}
    assert 0.2 < len(s_big) / 1000 < 0.4


def test_hash_sample_fraction_monotone(spark):
    """Growing the fraction only ADDS rows (threshold grows, the per-key
    hash is fixed) — lets a pipeline upsample without resampling."""
    from cumulus_etl_spark.operators.sampling import hash_sample

    df = spark.range(2000).select(F.col("id").alias("k"))
    prev: set = set()
    for f in (0.1, 0.3, 0.6, 1.0):
        cur = {r["k"] for r in hash_sample(df, "k", f).collect()}
        assert prev <= cur, f
        prev = cur
    assert prev == set(range(2000))  # fraction 1.0 keeps everything


def test_bpe_top_counts_non_increasing(spark):
    """Each BPE round's winning count can't exceed the previous round's:
    a merge only removes occurrences of existing pairs, and any new pair
    (x, ab) occurs at most as often as the old (x, a) did."""
    from cumulus_etl_spark.operators.textstats import bpe_train_merges
    from cumulus_etl_spark.sources import table

    d = table(spark, SF, "documents")
    rows = bpe_train_merges(d, n_merges=6).orderBy("merge_round").collect()
    counts = [r["n"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(" " in r["pair"] for r in rows)  # pairs are two symbols


def test_cluster_quality_silhouette_bounds(spark):
    """Simplified silhouette lies in [-1, 1]; centroid seed vectors score
    positively (they sit at distance 0 from their own centroid)."""
    from cumulus_etl_spark.plans import CATALOG

    rows = CATALOG["vector_cluster_quality"].build(spark, SF).collect()
    assert rows and all(-1.0 <= r["avg_silhouette"] <= 1.0 for r in rows)
