"""Text analysis operators for training-data pipelines.

All hot-path logic is Catalyst expressions (regexp/split/length) so it
runs JVM-side inside whole-stage codegen — no Python UDFs. Patterned after
the reference's note-text handling (SURVEY §2.9 U1-U6) but built for
100TB document corpora: every function is a narrow projection over one
row at a time, embarrassingly parallel, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cumulus_etl_spark.functions import check_literal_parsing, sql_ident, sql_str

# Tiny per-language stopword sets for the n-gram/stopword language heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ein", "zu", "ist"),
    "fr": ("le", "la", "et", "un", "une", "est", "les"),
    "es": ("el", "la", "y", "un", "una", "es", "los"),
}

PUNCT_PATTERN = r"[^a-zA-Z0-9\s]"
TOKEN_SPLIT = r"\s+"
# BPE-ish word/number/punct tokenizer (GPT-2-style contractions + words).
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_count(text: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    t = F.trim(F.col(text) if isinstance(text, str) else text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, TOKEN_SPLIT)))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count via a GPT-2-style regex (a cheap proxy for
    BPE token budgeting in training-data prep)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def punct_count(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(PUNCT_PATTERN), F.lit(0)))


def _stopword_pattern(lang: str) -> str:
    return r"(?i)\b(?:" + "|".join(LANG_STOPWORDS[lang]) + r")\b"


def stopword_count(text: Column | str, lang: str = "en") -> Column:
    """Count of stopword hits (word-bounded, case-insensitive)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(_stopword_pattern(lang)), F.lit(0)))


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-scoring feature bundle: length, token stats, punctuation and
    stopword ratios. Mirrors common LLM-corpus quality filters (C4/Gopher
    rules) as pure expressions."""
    t = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(t)
    n_tokens = token_count(t)
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": (n_chars - (n_tokens - 1)) / safe_tokens,
        "punct_ratio": punct_count(t) / F.greatest(n_chars, F.lit(1)),
        "stopword_ratio": stopword_count(t) / safe_tokens,
    }


def lang_id(text: str) -> str:
    """Stopword-vote language ID of the SQL text ``text``: the language
    whose stopword set hits the text most wins; ties broken by language
    code order; no hits → 'und'.

    A real deployment swaps in fastText/CLD3 via pandas_udf — this is the
    dependency-free heuristic baseline, fully JVM-side.
    """
    # struct(hits, lang) sorted desc by hits picks the winner.
    scored = ", ".join(
        f"struct(size(regexp_extract_all({text}, {sql_str(_stopword_pattern(lang))}, 0)) AS hits,"
        f" {sql_str(lang)} AS lang)"
        for lang in sorted(LANG_STOPWORDS)
    )
    best = (
        f"array_sort(array({scored}), (__a, __b) -> CASE WHEN __a.hits > __b.hits THEN -1"
        " WHEN __a.hits < __b.hits THEN 1 WHEN __a.lang < __b.lang THEN -1"
        " WHEN __a.lang > __b.lang THEN 1 ELSE 0 END)[0]"
    )
    return f"CASE WHEN {best}.hits > 0 THEN {best}.lang ELSE 'und' END"


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of case/whitespace-normalized
    text. The exact-dedup key (SURVEY beyond-parity; ref analogue is the
    NLP cache checksum, nlp/utils.py:93-94 sha256 of note text)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.regexp_replace(F.trim(t), r"\s+", " ")))


def words_array(text: str) -> str:
    """Whitespace word array of the SQL text ``text``; empty array for
    blank OR NULL text.

    The coalesce matters: with NULL text, size(split(NULL)) is -1 in Spark
    (n_words=-1, keep=false) while the DuckDB oracles propagate NULL — a
    latent parity break if documents.text ever becomes nullable.  Treating
    NULL as blank keeps both engines identical."""
    t = f"trim(coalesce({text}, ''))"
    return (
        f"CASE WHEN {t} = '' THEN CAST(array() AS ARRAY<STRING>)"
        f" ELSE split({t}, {sql_str(TOKEN_SPLIT)}) END"
    )


def repetition_features(words: str) -> dict[str, str]:
    """Gopher-style repetition/quality features over the word array
    ``words`` (SQL text), each as SQL text (Rae et al. 2021 §A1.1
    repetition-removal rules, re-expressed as pure Catalyst expressions —
    row-local, no shuffle, scale-free):

    - ``dup_word_frac``: fraction of word occurrences that are repeats
    - ``dup_bigram_frac``: same for adjacent word bigrams
    - ``top_word_frac``: occurrences of the most frequent word / n
      (O(distinct × n) per row — bounded row-local compute, the
      distributed analog of Gopher's most-common-word rule)
    - ``mean_word_len``: average word length
    - ``alpha_word_frac``: fraction of words containing a letter
    """
    n = f"size({words})"
    safe_n = f"greatest({n}, 1)"
    nd = f"size(array_distinct({words}))"
    bigrams = (
        f"CASE WHEN {n} >= 2 THEN zip_with(slice({words}, 1, {safe_n} - 1),"
        f" slice({words}, 2, {safe_n} - 1), (__a, __b) -> concat_ws(' ', __a, __b))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    nb = f"size({bigrams})"
    top = (
        f"coalesce(array_max(transform(array_distinct({words}),"
        f" __u -> size(filter({words}, __w -> __w = __u)))), 0)"
    )
    sum_len = f"coalesce(aggregate({words}, 0, (__acc, __w) -> __acc + length(__w)), 0)"
    alpha = f"size(filter({words}, __w -> __w RLIKE '[A-Za-z]'))"
    return {
        "n_words": n,
        "dup_word_frac": f"({n} - {nd}) / {safe_n}",
        "dup_bigram_frac": f"({nb} - size(array_distinct({bigrams}))) / greatest({nb}, 1)",
        "top_word_frac": f"{top} / {safe_n}",
        "mean_word_len": f"{sum_len} / {safe_n}",
        "alpha_word_frac": f"{alpha} / {safe_n}",
    }


def bpe_train_merges(docs, text_col: str = "text", n_merges: int = 5):
    """Iterative BPE vocabulary induction (Sennrich et al. 2016): learn
    the first ``n_merges`` merges over the corpus vocabulary. Returns a
    DataFrame (merge_round, pair, n).

    The scale-defining property of the classic BPE trainer: after ONE
    corpus scan builds the distinct-word frequency table, every round's
    work is vocabulary-bounded, not corpus-bounded — pair counting and
    the merge rewrite run over |vocab| rows regardless of corpus size,
    and only the single winning (pair, count) row reaches the driver per
    round. Words are symbol sequences in a space-joined string; a merge
    is a literal replace on a DOUBLE-SPACE-delimited form: each match
    consumes one of the two delimiter spaces on each side, so adjacent
    occurrences ('a a a a' → 'aa aa') merge exactly like the Sennrich
    reference's lookaround regex — which RE2 (DuckDB) can't express
    directly, but plain replace() on the doubled form can, with
    byte-identical left-to-right non-overlapping behavior in both
    engines (fuzz-validated against the regex reference; what lets the
    catalog entry hash-check all rounds — plans/textops.py
    _BPE_TRAIN_ORACLE).
    Ties break lexicographically on the pair. localCheckpoint pins the
    (small) vocab frame each round so lineage doesn't re-run all prior
    rounds."""
    spark = docs.sparkSession
    state = _bpe_vocab_state(docs, text_col)
    state, merges = _bpe_merge_loop(state, n_merges)
    state.unpersist()
    return spark.createDataFrame(merges, "merge_round int, pair string, n bigint")


def _bpe_vocab_state(docs, text_col: str, keep_word: bool = False):
    """Distinct-word frequency table as the BPE state frame: ``s`` is
    the space-joined symbol string, ``n`` the word frequency, plus the
    raw word ``w`` when keep_word (the encoder needs it back)."""
    from pyspark.sql import functions as F

    check_literal_parsing(docs.sparkSession)
    words = docs.select(
        F.explode(F.expr(words_array(f"lower({sql_ident(text_col)})"))).alias("w")
    ).filter(F.length("w") > 0)
    wc = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cols = (["w"] if keep_word else []) + [
        F.concat_ws(" ", F.split("w", "")).alias("s"),
        "n",
    ]
    return wc.select(*cols).localCheckpoint(eager=True)


def _bpe_merge_loop(state, n_merges: int):
    """The Sennrich merge loop over a state frame with symbol-string
    column ``s`` and weight ``n`` (any extra columns ride along
    untouched). Each round: count adjacent pairs weighted by n, pick
    (count DESC, pair ASC), rewrite every string with the double-space
    literal replace. Returns (final_state, merges)."""
    from pyspark.sql import functions as F

    merges: list[tuple[int, str, int]] = []
    for r in range(1, n_merges + 1):
        arr = "split(s, ' ')"
        pairs = F.expr(
            f"zip_with(slice({arr}, 1, size({arr}) - 1), slice({arr}, 2, size({arr}) - 1),"
            " (__a, __b) -> concat_ws(' ', __a, __b))"
        )
        top = (
            state.filter(F.expr(f"size({arr}) >= 2"))
            .select(F.explode(pairs).alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["cnt"])
        merges.append((r, pair, cnt))
        x, y = pair.split(" ")
        padded = F.concat(
            F.lit(" "), F.replace(F.col("s"), F.lit(" "), F.lit("  ")), F.lit(" ")
        )
        replaced = F.replace(padded, F.lit(f" {x}  {y} "), F.lit(f" {x}{y} "))
        nxt = state.withColumn(
            "s", F.trim(F.replace(replaced, F.lit("  "), F.lit(" ")))
        ).localCheckpoint(eager=True)
        state.unpersist()
        state = nxt
    return state, merges


def bpe_encode_vocab(docs, text_col: str = "text", n_merges: int = 5):
    """Train-and-apply BPE encoding of the corpus vocabulary: learn the
    first ``n_merges`` merges (bpe_train_merges semantics, bit-equal)
    and return each distinct word ENCODED under them — the tokenizer
    application step, giving true post-BPE token counts instead of the
    regex approximation (bpe_ish_token_count).

    Applying merges in rank order to the vocabulary is exactly the
    trainer's rewrite, so encode shares the loop; per-round work stays
    vocabulary-bounded regardless of corpus size, and encoding new text
    against a FROZEN vocab is a broadcast join on the word.

    Returns (w, n, encoded, n_tokens) — the word, its corpus frequency,
    its final symbol string, and its encoded length."""
    from pyspark.sql import functions as F

    state = _bpe_vocab_state(docs, text_col, keep_word=True)
    state, _merges = _bpe_merge_loop(state, n_merges)
    # The final state stays checkpointed: its lineage was truncated, so
    # unpersisting before the caller materializes would orphan the plan.
    # It is vocab-sized — release it via the returned frame if needed.
    return state.select(
        "w",
        "n",
        F.col("s").alias("encoded"),
        F.size(F.split("s", " ")).cast("bigint").alias("n_tokens"),
    )


# ---- Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03) ----

_WIN_HASH_SPACE = 1 << 40  # 40-bit gram hash
_WIN_POS_SPACE = 1 << 20  # supports docs up to ~1M grams


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    salt: str = "wf",
) -> DataFrame:
    """MOSS-style winnowed document fingerprints: hash every k-char gram,
    slide a w-gram window, keep the minimum hash per window (ties ->
    rightmost), dedupe the selections. Guarantees: every window
    contributes a fingerprint (so any match of length >= k+w-1 chars is
    detected) at an expected density of 2/(w+1) — the selective
    alternative to keeping every gram (text_fingerprint_dedup).

    Pure Catalyst: one explode (rows x grams, map-local), one window-min
    per doc (the only shuffle, partitioned by doc id), one distinct.
    The min-with-rightmost-tiebreak rides a single BIGINT
    ``hash * 2^20 + (2^20-1-pos)`` so plain MIN implements the paper's
    tie rule — engine-portable (the correctness oracle replays it in
    DuckDB). Docs with more than 2^20 grams would wrap the position
    field; split such documents upstream (chunk_documents) before
    fingerprinting.

    Returns (id_col, fp, pos, n_grams): the selected fingerprint hashes
    with the gram position each was chosen at.
    """
    from pyspark.sql import Window

    doc_id = F.col(id_col)
    # Filter BEFORE the explode: sequence(1, m) with m < 1 DESCENDS in
    # Spark, so short docs must never reach it.
    eligible = df.filter(F.length(text_col) - k + 1 >= window)
    grams = eligible.select(
        doc_id,
        (F.length(text_col) - k + 1).alias("n_grams"),
        F.explode(F.sequence(F.lit(1), F.length(text_col) - k + 1)).alias("pos"),
        F.col(text_col).alias("__t"),
    )
    hashed = grams.select(
        id_col,
        "n_grams",
        "pos",
        (
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(salt + ":"),
                                F.substring(F.col("__t"), F.col("pos"), F.lit(k)),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(_WIN_HASH_SPACE),
            )
            * _WIN_POS_SPACE
            + (_WIN_POS_SPACE - 1 - F.col("pos"))
        ).alias("key"),
    )
    w = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    winmin = hashed.select(
        id_col,
        "n_grams",
        "pos",
        F.min("key").over(w).alias("wkey"),
    ).filter(F.col("pos") <= F.col("n_grams") - window + 1)
    return winmin.select(
        id_col,
        "n_grams",
        F.expr(f"wkey div {_WIN_POS_SPACE}").alias("fp"),
        (F.lit(_WIN_POS_SPACE - 1) - F.pmod(F.col("wkey"), F.lit(_WIN_POS_SPACE))).alias(
            "pos"
        ),
    ).distinct()


def lm_surprisal_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style bigram-LM quality scores (Wenzek et al. 2020 rank web
    text by LM perplexity): train a bigram model ON the corpus, score
    each document by its mean per-bigram surprisal. Returns one row per
    scoreable doc: (id_col, n_bigrams, surprisal_sum, score_milli) —
    higher score = more out-of-distribution (lower quality for a
    corpus-conformity filter).

    Surprisal is the INTEGER log2 — ilog2(x) = length(bin(x)) − 1 —
    so surprisal(w1,w2) = ilog2(c(w1)+V) − ilog2(c(w1,w2)) with add-V
    smoothing (V = distinct left contexts); exact in any engine, no
    float log. score_milli = (sum·1000) div count stays integral.

    Scale shape: explode → two counted groupBys (map-side partials) →
    joins back on (w1,w2)/(w1) → per-doc agg; the bigram frame is
    pinned once for its four consumers; V rides in as a broadcast
    1-row frame. At 100 TB, threshold/cap the count tables (pruned-LM
    practice; unseen bigrams score as c=1).
    """
    words = docs.filter(F.trim(text_col) != "").select(
        F.col(id_col), F.split(F.lower(F.trim(text_col)), r"\s+").alias("w")
    )
    bi = (
        words.filter(F.size("w") >= 2)
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> struct(w[i] AS w1, w[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select(id_col, "b.w1", "b.w2")
        .localCheckpoint(eager=False)  # feeds c2, c1, vocab AND the scoring join
    )
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = bi.agg(F.countDistinct("w1").alias("v"))
    s = (F.length(F.bin(F.col("c1") + F.col("v"))) - 1) - (
        F.length(F.bin(F.col("c2"))) - 1
    )
    scored = (
        bi.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(id_col, s.alias("s"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("s").alias("surprisal_sum"),
        F.expr("(sum(s) * 1000) div count(1)").alias("score_milli"),
    )


def bm25_topk(
    docs,
    queries,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    exact: bool = False,
):
    """BM25 sparse retrieval: top-k documents per query (Okapi BM25,
    Robertson idf with the standard +1 floor so common terms can't go
    negative). The retrieval baseline every curation pipeline needs —
    nearest neighbors for DSIR-style targeting, contamination lookups,
    eval-set retrieval — complementing the dense kNN/ANN family.

    score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    ``exact=True`` switches to the cross-engine hash-exact form the
    oracle catalog row uses: the idf becomes the INTEGER log2 of the
    same Robertson ratio — ilog2(1 + (2N−2df+1) div (2df+1)), every
    step exact integer arithmetic (the (N−df+0.5)/(df+0.5) ratio times
    2/2), the `text_lm_surprisal` discipline — and per-term
    contributions are rounded to 6 decimals then summed as
    DECIMAL(28,6) so the aggregation is order-independent. The tf/dl
    saturation term stays the genuine float BM25 expression: it is a
    chain of single correctly-rounded IEEE ops on exactly-represented
    integers, bit-identical across engines. Whole-bit idf still
    separates rare from common terms; ranking quality is the replay-
    pinned float path's to keep.

    Scale shape: one (doc, term, tf) aggregation over the corpus (the
    inverted-index build — map-side combine absorbs the explode), df
    and avgdl as corpus-bounded aggregates, and the QUERY side — tiny
    by construction — broadcast onto the postings, so the corpus
    shuffles once and only postings matching some query term reach the
    scoring agg. The (term, df) table is semi-joined to the distinct
    query terms BEFORE its broadcast — at web scale the full
    vocabulary is 10^8+ terms and broadcasting it would OOM every
    executor; only the |query vocabulary| rows ever ship (round-9
    verdict fix). Top-k per query is a window over candidates,
    partitioned by query. Returns (query_id, doc_id, score, rank),
    score-desc with doc-id tiebreak so results are a total order.
    """
    from pyspark.sql import Window

    # No parallelism floor here (r14): the per-row work below the first
    # exchange is a bare split+explode (no hashing), too light to
    # amortize the floor's repartition — same-JVM interleaved A/B
    # (OPTIMIZATION_r14.md §1): floor ON min 1.77 s vs OFF 1.67 s, and the r13
    # driver measured the floored form 2.65x slower. The floor stays on
    # the shingle-hashing call sites where the same A/B shows it winning
    # (operators/dedup.py).
    tokens = docs.filter(F.trim(text_col) != "").select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(text_col)), r"\s+")).alias("term"),
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.localCheckpoint(eager=False)  # feeds dl, df AND the scoring join
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    q_terms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(query_text_col)), r"\s+"))
        ).alias("term"),
    )
    # Prune the postings to the query terms BEFORE the df aggregation
    # (r14, guide §2.3/§2.4; strengthens the round-9 "never broadcast
    # the full vocabulary" fix): the old form aggregated df over the
    # FULL vocabulary — a |vocab|-sized shuffle (10^8+ terms at corpus
    # scale) — and only then semi-joined the result down to the query
    # terms. df(t) is per-term, so restricting the input rows to the
    # query terms first yields the identical df values for every term
    # that can reach the scoring join, and the aggregation input drops
    # from the corpus vocabulary to the query-matching postings (the
    # semi-join is a broadcast of the tiny query vocabulary — no
    # shuffle added). countDistinct(doc_id) is also dropped for
    # count(1): tf rows are unique by (doc_id, term) BY CONSTRUCTION
    # (they come out of groupBy(doc_id, term)), and count(1) avoids
    # the distinct-expand two-phase aggregate.
    df_q = (
        tf.join(F.broadcast(q_terms.select("term").distinct()), "term", "semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    cand = (
        tf.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(df_q), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    if exact:
        # ilog2(1 + (N - df + 0.5)/(df + 0.5)) via the integer ratio
        # (2N - 2df + 1) div (2df + 1); ilog2(x) = length(bin(x)) - 1.
        # The float division + floor is exact here: the quotient is at
        # least 1/den away from any integer unless den divides num, and
        # 1/den >> double ulp at corpus-countable magnitudes.
        num = (2 * F.col("n_docs").cast("bigint") - 2 * F.col("df") + 1).cast("bigint")
        den = (2 * F.col("df") + 1).cast("bigint")
        idf = (F.length(F.bin(F.lit(1) + F.floor(num / den))) - 1).cast("double")
    else:
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    if exact:
        contrib = F.round(idf * tf_part, 6).cast("decimal(28,6)")
        scored = cand.groupBy("query_id", "doc_id").agg(
            F.sum(contrib).cast("double").alias("score")
        )
    else:
        scored = cand.groupBy("query_id", "doc_id").agg(
            F.sum(idf * tf_part).alias("score")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )
