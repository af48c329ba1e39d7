"""Corpus preparation: the end-to-end training-data pipeline composed
from this engine's operators, plus token-budget shard packing.

``prepare_corpus`` chains the standard LLM-corpus cleaning stages —
quality filter → language filter → exact dedup → fuzzy-dedup cluster
canonicals — each of which is individually oracle/pytest-checked; the
composition adds no new semantics, just the production wiring.

``pack_by_token_budget`` assigns documents (in a deterministic order)
to contiguous shards of ≈``budget`` tokens. The naive formulation is a
cumulative sum over ONE global window — a single-task bottleneck at
100 TB. This implementation is the textbook distributed prefix sum:

1. range-repartition by the order column (so partition p holds a
   contiguous key range, all ranges sorted),
2. within-partition running sum (window partitioned by partition id —
   parallel),
3. per-partition totals (one row per partition) collected to the
   driver, prefix-folded, and broadcast back as offsets.

The driver handles |partitions| rows, never |docs|. The result is
identical to the global-window cumsum regardless of where the range
boundaries land.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cumulus_etl_spark.functions import check_literal_parsing, sql_ident, sql_str
from cumulus_etl_spark.operators import dedup as D
from cumulus_etl_spark.operators import textstats as T


def prepare_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str | None = "en",
    min_tokens: int = 10,
    jaccard_threshold: float = 0.7,
    survivor: str = "min_id",
) -> DataFrame:
    """Clean a document corpus for training: quality-band filter,
    language filter, exact-fingerprint dedup (min-id survivor), then
    MinHash-LSH fuzzy dedup. Returns surviving rows + n_tokens.

    ``survivor`` picks the fuzzy-dedup policy: ``min_id`` (pairwise
    drop, the oracled default) or ``best`` (cluster-canonical
    keep-longest via connected components —
    dedup.ngram_jaccard_dedup_keep_best)."""
    feats = T.quality_features(F.col(text_col))
    scored = docs.withColumn("n_tokens", feats["n_tokens"]).withColumn(
        "punct_ratio", feats["punct_ratio"]
    )
    good = scored.filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("punct_ratio") <= 0.2)
    )
    if lang is not None:
        check_literal_parsing(docs.sparkSession)
        good = good.filter(F.expr(T.lang_id(sql_ident(text_col))) == lang)

    # exact dedup: one shuffle on the normalized fingerprint
    w_fp = Window.partitionBy(T.fingerprint(F.col(text_col))).orderBy(id_col)
    exact = (
        good.withColumn("__rn", F.row_number().over(w_fp))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "punct_ratio")
    )
    # Pin the cleaned corpus before fuzzy dedup: the frame feeds both the
    # shingle pipeline and the survivor anti-join, so without this the
    # scan→quality→lang→window chain re-executes per consumer (measured
    # 2.6× the wall time at sf0.1). At cluster scale this materialization
    # IS the standard persisted "cleaned corpus" intermediate table that
    # every downstream stage (dedup, sharding, mixture) reads.
    exact = exact.localCheckpoint(eager=True)
    # fuzzy dedup: LSH candidates → Jaccard verify → survivors
    if survivor == "best":
        return D.ngram_jaccard_dedup_keep_best(
            exact, id_col, text_col, score_col="n_tokens",
            threshold=jaccard_threshold,
        )
    if survivor != "min_id":
        raise ValueError(f"unknown survivor policy: {survivor!r}")
    return D.ngram_jaccard_dedup(
        exact, id_col, text_col, threshold=jaccard_threshold
    )


def global_running_sum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    out_col: str = "__cum",
    group_col: str | None = None,
) -> DataFrame:
    """Distributed prefix sum: adds ``out_col`` = running total of
    ``value_col`` in global ``order_col`` order (inclusive of the row).
    With ``group_col``, the running total RESETS per group (ordering is
    (group, order)) — several independent prefix sums in one
    range-partition pass, which is how sorted-neighborhood computes
    both of its sort-key rankings with a single shuffle instead of two
    (round-6 verdict ask 5).

    Range-partition on the (group +) order key, local window per
    partition, then a driver fold over one row per (partition, group) →
    broadcast offsets. This is the scale-shape a global
    ``Window.orderBy`` can't have (that plan funnels everything through
    one task); the driver only ever sees #partitions × #groups scalars,
    so group_col must be LOW-cardinality (passes, splits — not data
    keys)."""
    spark = df.sparkSession
    gcols = ([group_col] if group_col else []) + [order_col]
    ranged = df.repartitionByRange(*[F.col(c) for c in gcols]).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid", *gcols[:-1]).orderBy(order_col)
    local = ranged.withColumn("__cum_local", F.sum(value_col).over(w))

    # one row per (partition, group) → driver prefix fold per group →
    # broadcast offsets. __pid ordering matches order ordering within a
    # group because ranges are sorted and group leads the range key.
    gb = ["__pid"] + gcols[:-1]
    # SUM, not max(__cum_local): they agree for non-negative values, but
    # a signed value_col (e.g. +1/-1 interval counting) has a running
    # max above its true partition total, which would corrupt every
    # later partition's offset.
    totals = (
        local.groupBy(*gb).agg(F.sum(value_col).alias("__total")).collect()
    )
    offsets = []
    running: dict = {}
    for row in sorted(totals, key=lambda r: (r["__pid"],)):
        g = row[group_col] if group_col else None
        offsets.append((row["__pid"], g, running.get(g, 0)))
        running[g] = running.get(g, 0) + row["__total"]
    if group_col:
        gtype = dict(df.dtypes)[group_col]
        offset_df = spark.createDataFrame(
            offsets, f"__pid int, {group_col} {gtype}, __offset bigint"
        )
        join_keys = ["__pid", group_col]
    else:
        offset_df = spark.createDataFrame(
            [(p, o) for p, _, o in offsets], "__pid int, __offset bigint"
        )
        join_keys = ["__pid"]
    return (
        local.join(F.broadcast(offset_df), join_keys)
        .withColumn(out_col, F.col("__cum_local") + F.col("__offset"))
        .drop("__pid", "__cum_local", "__offset")
    )


def pack_by_token_budget(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    order_col: str = "doc_id",
) -> DataFrame:
    """Assign rows to contiguous shards of ≈``budget`` tokens in
    ``order_col`` order (a doc straddling a boundary belongs to the
    shard where it starts). Adds ``shard_id``; deterministic and
    independent of partitioning."""
    cum = global_running_sum(df, token_col, order_col)
    return cum.withColumn(
        "shard_id",
        F.floor((F.col("__cum") - F.col(token_col)) / F.lit(budget)).cast("int"),
    ).drop("__cum")


def _word_ngrams(tok: str, n: int) -> str:
    """Word n-grams of the token array ``tok`` (SQL text) as space-joined
    strings; empty array when the document has fewer than ``n`` tokens.

    ``sequence`` must be guarded: Spark's ``sequence(1, 0)`` counts DOWN
    (yields ``[1, 0]``), so short docs would fabricate grams.
    """
    starts = (
        f"CASE WHEN size({tok}) >= {n} THEN sequence(1, size({tok}) - {n - 1})"
        " ELSE CAST(array() AS ARRAY<INT>) END"
    )
    return f"transform({starts}, __i -> array_join(slice({tok}, __i, {n}), ' '))"


def _text_ngrams(df: DataFrame, text_col: str, n: int) -> str:
    """Word n-grams of ``df``'s lowercased whitespace tokens (SQL text)."""
    check_literal_parsing(df.sparkSession)
    return _word_ngrams(D.tokens(sql_ident(text_col)), n)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
    method: str = "broadcast",
    bloom_bits: int = 1 << 16,
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, count distinct word
    ``ngram``-grams that also appear in the benchmark/eval set (the
    standard train/test-overlap check for LLM training corpora).

    Scale shape, ``method="broadcast"`` (default): the benchmark gram
    set is tiny relative to the corpus (eval suites are thousands of
    docs), so it is ``broadcast`` — the corpus side never shuffles its
    exploded grams; only the matching (doc, gram) pairs (rare at
    100 TB) reach the per-doc count shuffle. Grams are deduped per doc
    BEFORE the explode so the join input is minimal. Result is exact —
    hashing grams (xxhash64) is a further bandwidth optimization at
    scale, skipped here so the oracle can join on the same strings.

    ``method="bloom"`` is the LARGE-benchmark path (decontaminating
    against a full held-out split, not a small eval suite — too many
    grams to broadcast as a hash table): the benchmark grams build a
    bloom bitmask (``bloom_bits`` sized ~10 bits/gram at scale,
    operators/bloom.py), the corpus's exploded grams are pruned by a
    pure codegen bit-test BEFORE any join, and only the tiny surviving
    subset reaches an exact shuffle join that eliminates the bloom's
    false positives — SAME exact result, no broadcast of the gram set,
    and the gram shuffle shrinks from |corpus grams| to |near-hits|.
    """
    bench_grams = (
        benchmark.select(
            F.explode(F.expr(_text_ngrams(benchmark, text_col, ngram))).alias("gram")
        )
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.expr(_text_ngrams(corpus, text_col, ngram)))).alias(
            "gram"
        ),
    )
    if method == "bloom":
        from cumulus_etl_spark.operators.bloom import bloom_prune, build_bloom

        words = build_bloom(bench_grams, "gram", m_bits=bloom_bits)
        pruned = bloom_prune(corpus_grams, "gram", words)
        matched = pruned.join(bench_grams, "gram")  # exact: kills false positives
    elif method == "broadcast":
        matched = corpus_grams.join(F.broadcast(bench_grams), "gram")
    else:
        raise ValueError(f"unknown decontamination method: {method!r}")
    hits = (
        matched
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def passage_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 8,
) -> DataFrame:
    """Passage-level dedup (CCNet-style paragraph dedup, adapted to
    fixed ``chunk_words``-word passages since the corpus has no line
    structure): every repeated passage keeps only its first occurrence
    — ordered by (doc id, position) — and each document is rebuilt from
    its surviving passages.

    One shuffle on the passage text (the global first-occurrence
    window) + one on the doc id (the rebuild). At 100 TB you'd hash
    the passage for the window key; strings are kept here so the
    recursive-free SQL oracle matches byte-for-byte.
    """
    check_literal_parsing(docs.sparkSession)
    tok = D.tokens(sql_ident(text_col))
    passages = (
        f"transform(sequence(1, greatest(size({tok}), 1), {chunk_words}),"
        f" __i -> array_join(slice({tok}, __i, {chunk_words}), ' '))"
    )
    chunks = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(passages)).alias("chunk_idx", "passage"),
    )
    w = Window.partitionBy("passage").orderBy(id_col, "chunk_idx")
    kept = chunks.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    rebuilt = kept.groupBy(id_col).agg(
        F.expr(
            "array_join(transform(sort_array(collect_list(struct(chunk_idx, passage))),"
            " __s -> __s.passage), ' ')"
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = chunks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks"))
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        "clean_text",
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    sep: str = "\n",
    min_docs: int = 5,
    min_frac: float | None = None,
) -> DataFrame:
    """Line-level boilerplate removal (RefinedWeb / CCNet style): a line
    whose trimmed form appears in ≥ ``min_docs`` distinct documents of
    the SAME source — or, when ``min_frac`` is set, in ≥ that fraction
    of the source's documents — is template chrome (nav bars, cookie
    banners, copyright footers) and is dropped from every document; each
    document is rebuilt from its surviving lines in original order.
    Natural sibling of ``passage_dedup``: that one keeps a repeated
    passage's FIRST occurrence, this one drops high-document-frequency
    lines EVERYWHERE — the right semantics for template chrome, which
    is worthless even once.

    Scale shape: explode to lines (narrow), one shuffle for the
    per-(source, line) document frequency, one for the boilerplate
    anti-join, one for the per-doc rebuild. The line frame is a narrow
    projection of the (column-pruned) source scan, so it is recomputed
    rather than materialized; at 100 TB hash the trimmed line for the
    frequency/join key (raw strings kept here so the SQL oracle matches
    byte-for-byte) and broadcast the boilerplate set, which is bounded
    by templates-per-source, not corpus size.

    Returns (id_col, n_lines, n_kept, clean_text); a doc whose every
    line was chrome comes back with n_kept=0 and clean_text=''.
    """
    import re as _re

    check_literal_parsing(docs.sparkSession)
    lines = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1)).alias(
            "idx", "line"
        ),
    )
    freq = (
        lines.select(source_col, F.trim("line").alias("__lk"), id_col)
        .distinct()
        .groupBy(source_col, "__lk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__df"))
    )
    if min_frac is not None:
        per_source = docs.groupBy(source_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("__nsrc")
        )
        freq = freq.join(per_source, source_col)
        # frac branch keeps an implicit >=2 floor: a line seen in a single
        # document is never boilerplate, even in a single-doc source where
        # its "fraction" is 100%
        boiler = freq.filter(
            (F.col("__df") >= min_docs)
            | (
                (F.col("__df") >= 2)
                & (F.col("__df") >= F.col("__nsrc") * F.lit(min_frac))
            )
        )
    else:
        boiler = freq.filter(F.col("__df") >= min_docs)
    boiler = boiler.select(source_col, "__lk")
    kept = lines.withColumn("__lk", F.trim("line")).join(
        boiler, [source_col, "__lk"], "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.expr(
            "array_join(transform(sort_array(collect_list(struct(idx, line))), __s -> __s.line),"
            f" {sql_str(sep)})"
        ).alias("clean_text"),
    )
    totals = lines.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def remove_repeated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level exact dedup — the REMOVAL half of Lee et al. 2022
    (ref intent: "Deduplicating Training Data Makes Language Models
    Better"; `text_repeated_substrings` is the analysis half that only
    counts the spans). Every ``k``-char gram occurring ≥ ``min_count``
    times corpus-wide keeps exactly its FIRST occurrence in the global
    (doc id, position) order; every later occurrence's span
    [pos, pos+k) is excised and the remainders are stitched.

    Stitching is one Catalyst fold per document — no UDF: removal
    starts are collected sorted, then ``aggregate`` walks them with a
    (kept_slice_pairs, cursor) accumulator; because starts ascend and
    k is fixed, the next span's end pos+k never precedes the cursor, so
    ``cursor = pos + k`` after each step and overlapping spans excise
    exactly their union. Deterministic corollary (documented): a
    first-occurrence span can still lose characters to a DIFFERENT
    gram's removed span overlapping it.

    Scale shape: one shuffle for the corpus-wide per-gram window (the
    suffix-array stand-in; identical to text_repeated_substrings), one
    for the per-doc rebuild. Gram rows are |total chars| — the same
    linear blowup the suffix array pays. At 100 TB, pre-hash grams for
    the window key; raw strings kept so the SQL oracle is byte-exact.

    Output: (id_col, orig_len, clean_len, n_removed_spans, clean_text).
    """
    grams = docs.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
                f" i -> substring({text_col}, i, {k}))"
            )
        ).alias("idx", "g"),
    ).filter(F.length("g") == k)
    occ = grams.select(id_col, (F.col("idx") + 1).alias("pos"), "g")
    w = Window.partitionBy("g").orderBy(id_col, "pos")
    # rn >= 2 implies the gram occurs >= 2 times; min_count > 2 also
    # needs the total per-gram count.
    marked = occ.withColumn("__rn", F.row_number().over(w))
    if min_count > 2:
        marked = marked.withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("g"))
        ).filter(F.col("__n") >= min_count)
    starts = marked.filter(F.col("__rn") >= 2).select(id_col, "pos")
    per_doc = starts.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("ps")
    )
    joined = docs.select(
        id_col, F.col(text_col).alias("__text")
    ).join(per_doc, id_col, "left")
    # The fold accumulates kept (start, len) slice PAIRS — integers only —
    # and materializes the string exactly once in the finish lambda via
    # transform + concat_ws. Accumulating the string itself would copy
    # O(doc_len) bytes per removal start (quadratic for a long doc dense
    # with removed spans); the pair accumulator copies 8 bytes per step.
    stitched = F.expr(
        "aggregate(coalesce(ps, CAST(array() AS ARRAY<INT>)),"
        " struct(CAST(array() AS ARRAY<STRUCT<s: INT, l: INT>>) AS pieces, 1 AS cur),"
        " (__acc, __p) -> struct(concat(__acc.pieces,"
        " array(struct(__acc.cur AS s, greatest(__p - __acc.cur, 0) AS l))) AS pieces,"
        f" __p + {k} AS cur),"
        " __acc -> concat_ws('', transform(concat(__acc.pieces,"
        " array(struct(__acc.cur AS s, length(__text) AS l))),"
        " __q -> substr(__text, __q.s, __q.l))))"
    )
    return joined.select(
        id_col,
        F.length("__text").cast("bigint").alias("orig_len"),
        F.length(stitched).cast("bigint").alias("clean_len"),
        F.coalesce(F.size("ps"), F.lit(0)).cast("bigint").alias("n_removed_spans"),
        stitched.alias("clean_text"),
    )


def token_budget_summary(sharded: DataFrame) -> DataFrame:
    """Per-shard doc count and token totals — the sanity view a data
    engineer checks before kicking off a training run."""
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-level sequence packing — the canonical LLM pretraining prep:
    concatenate all documents in ``id_col`` order and cut the token
    stream into fixed-length sequences of ``seq_len`` tokens (documents
    straddle boundaries; the final sequence may be short).

    Returns (seq_id, n_tokens, text). Shape: tokenize (projection) →
    distributed prefix sum for each doc's global token offset → explode
    one row per (doc, sequence-it-overlaps) — ≈ n_docs + n_crossings
    rows — → one hash agg on seq_id reassembling fragments in offset
    order. No global window, no driver data; a doc appears in
    ceil(n/seq_len)+1 fragments at most, so skew is bounded by doc
    length, which upstream quality filters already cap.
    """
    L = F.lit(seq_len)
    tok = docs.select(
        F.col(id_col),
        F.split(F.lower(F.trim(text_col)), r"\s+").alias("t"),
    ).filter(F.trim(text_col) != "")
    tok = tok.withColumn("n", F.size("t").cast("bigint"))
    cum = global_running_sum(tok, "n", id_col)
    pos = cum.withColumn("start", F.col("__cum") - F.col("n")).drop("__cum")
    spanned = pos.select(
        id_col,
        "t",
        "n",
        "start",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / L),
                F.floor((F.col("start") + F.col("n") - 1) / L),
            )
        ).alias("seq_id"),
    )
    a = F.greatest(F.col("seq_id") * L, F.col("start"))
    b = F.least((F.col("seq_id") + 1) * L, F.col("start") + F.col("n"))
    frag = F.slice("t", (a - F.col("start") + 1).cast("int"), (b - a).cast("int"))
    frags = spanned.select("seq_id", "start", frag.alias("frag"))
    ordered = F.array_sort(F.collect_list(F.struct("start", "frag")))
    return (
        frags.groupBy("seq_id")
        .agg(ordered.alias("parts"))
        .select(
            F.col("seq_id").cast("bigint").alias("seq_id"),
            F.expr(
                "aggregate(transform(parts, __p -> CAST(size(__p.frag) AS BIGINT)),"
                " CAST(0 AS BIGINT), (__acc, __n) -> __acc + __n)"
            ).alias("n_tokens"),
            F.expr("array_join(flatten(transform(parts, __p -> __p.frag)), ' ')").alias("text"),
        )
    )


def pack_sequences_atomic(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int | None = None,
) -> DataFrame:
    """Document-ATOMIC sequence packing with first-fit-decreasing.

    ``pack_sequences`` is concat-and-cut: documents straddle sequence
    boundaries, which maximizes token utilization but forces the
    trainer to mask attention across mid-sequence document changes.
    This packer is the other canonical layout (SFT / contrastive /
    example-isolated pretraining): each document lands INTACT inside
    exactly one sequence, and padding waste is minimized by first-fit-
    decreasing bin packing (FFD uses at most 11/9·OPT + 1 bins).
    Documents longer than ``seq_len`` are pre-split into seq_len-token
    atomic chunks first — the only unavoidable splits, flagged via
    ``n_docs`` counting chunks.

    Scale shape: packing has no cross-bin dependency, so it runs
    per-partition — chunks hash-repartition by doc id (one shuffle) and
    each partition FFD-packs its own chunks inside an Arrow stage
    (``mapInPandas``, the sanctioned imperative tier). The stage
    accumulates its partition before packing so results are
    deterministic regardless of shuffle fetch order (rows re-sorted by
    (tokens desc, chunk id)); a partition's CHUNK METADATA must fit in
    executor memory — size ``partitions`` to the corpus like any
    applyInPandas group. pack_ids are unique across partitions
    (partition id in the high 32 bits). No driver data, no global sort.

    Returns (pack_id, n_docs, n_tokens, pad_tokens, text) where
    ``text`` is the packed documents joined by single spaces, so
    whitespace-retokenizing ``text`` yields exactly ``n_tokens``.
    """
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql.types import (
        LongType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    L = int(seq_len)
    tok = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.split(F.lower(F.trim(text_col)), r"\s+").alias("t"),
    ).filter(F.trim(text_col) != "")
    # pre-split over-length docs into atomic <= L chunks
    chunks = tok.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size("t") - 1) / L).cast("int"))
        ).alias("ci"),
        "t",
    ).select(
        F.concat_ws("#", "doc_id", "ci").alias("chunk_id"),
        F.slice("t", F.col("ci") * L + 1, L).alias("t"),
    ).select(
        "chunk_id",
        F.array_join("t", " ").alias("chunk_text"),
        F.size("t").cast("long").alias("n"),
    )
    if partitions is None:
        # NOT the input's partition count: a single-file scan reports 1,
        # which would collapse the pack into ONE task (caught by the
        # plan pin below — an Exchange SinglePartition at 100 TB).
        partitions = int(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    chunks = chunks.repartition(partitions, "chunk_id")

    out_schema = StructType(
        [
            StructField("pack_id", LongType()),
            StructField("n_docs", IntegerType()),
            StructField("n_tokens", LongType()),
            StructField("pad_tokens", LongType()),
            StructField("text", StringType()),
        ]
    )

    def pack_partition(batches):
        parts = [pdf for pdf in batches]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        pdf = pdf.sort_values(
            ["n", "chunk_id"], ascending=[False, True], kind="mergesort"
        )
        bins: list[list] = []  # [remaining, [texts], [ns]]
        for text, n in zip(pdf["chunk_text"], pdf["n"]):
            n = int(n)
            placed = False
            for b in bins:
                if b[0] >= n:
                    b[0] -= n
                    b[1].append(text)
                    b[2].append(n)
                    placed = True
                    break
            if not placed:
                bins.append([L - n, [text], [n]])
        pid = TaskContext.get().partitionId()
        rows = []
        for i, (rem, texts, ns) in enumerate(bins):
            total = sum(ns)
            rows.append(
                {
                    "pack_id": (pid << 32) | i,
                    "n_docs": len(texts),
                    "n_tokens": total,
                    "pad_tokens": L - total,
                    "text": " ".join(texts),
                }
            )
        yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return chunks.mapInPandas(pack_partition, schema=out_schema)


# ---------------------------------------------------------------------------
# Train/val/test split, sliding-window chunking, DSIR importance scores
# ---------------------------------------------------------------------------

_KNUTH = 2654435761  # Knuth's multiplicative-hash constant (TAOCP vol 3 §6.4)


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 98,
    val_pct: int = 1,
) -> DataFrame:
    """Deterministic train/val/test assignment by multiplicative hashing of
    the id — pure per-row arithmetic, no shuffle, stable across reruns and
    engines (the DuckDB oracle reproduces it bit-for-bit, which xxhash64
    could not). In production the id would be a content fingerprint so the
    split survives re-ingestion with different surrogate ids; the
    arithmetic is unchanged. int64 ids above ~3.5e9 would overflow the
    multiply — at that scale swap in pmod(xxhash64(id), 100) (engine-local
    but same plan shape).
    """
    bucket = (F.col(id_col).cast("bigint") * F.lit(_KNUTH)) % F.lit(2**32) % F.lit(100)
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


def chunk_overlap(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window chunking with overlap (RAG passages / pretraining
    context windows): split once, explode the window starts, slice per
    window — pure array expressions inside whole-stage codegen, no Python,
    no shuffle; parallelism is the input partitioning times the explode.

    Output: (id, chunk_idx, n_words, first_word, last_word) per window;
    the final window may be shorter than ``size``.
    """
    if stride > size:
        raise ValueError(
            f"stride ({stride}) > size ({size}) would silently drop words "
            "between windows; use stride <= size"
        )
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    e = df.select(F.col(id_col), words.alias("w"), F.explode(starts).alias("start"))
    chunk = F.slice(F.col("w"), F.col("start") + 1, F.lit(size))
    return e.select(
        id_col,
        (F.col("start") / stride).cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_words"),
        F.element_at(chunk, 1).alias("first_word"),
        F.element_at(chunk, -1).alias("last_word"),
    )


def dsir_logratio_scores(
    corpus: DataFrame,
    target_source: str = "src0",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """DSIR-style importance score (Xie et al. 2023, arXiv:2302.03169):
    score(doc) = Σ_w c_w(doc) · ln((t_w + 1) / (r_w + 1)), where t_w / r_w
    are word frequencies in the target domain vs the rest of the raw pool
    (the paper uses hashed n-gram features; whole-word unigrams here).
    Docs scoring high look like the target domain and are upsampled.

    Two shuffles total: the (doc, word) count and the word-stats join —
    the vocabulary table is tiny relative to the corpus (Heaps' law), so
    at 100 TB the stats side broadcasts. The exact-integer rational
    variant (``corpus_importance_rank`` in the catalog) ranks identically
    for oracle hashing; this is the paper-faithful log-linear form.
    """
    check_literal_parsing(corpus.sparkSession)
    toks = corpus.select(
        F.col(id_col), F.col(source_col), F.explode(F.expr(D.tokens(sql_ident(text_col)))).alias("word")
    )
    dc = toks.groupBy(id_col, source_col, "word").agg(F.count(F.lit(1)).alias("c"))
    stats = toks.groupBy("word").agg(
        F.sum(F.when(F.col(source_col) == target_source, 1).otherwise(0)).alias("t_w"),
        F.sum(F.when(F.col(source_col) != target_source, 1).otherwise(0)).alias("r_w"),
    )
    return (
        dc.filter(F.col(source_col) != target_source)
        .join(stats, "word")
        .groupBy(id_col, source_col)
        .agg(
            F.sum(
                F.col("c") * (F.log((F.col("t_w") + 1).cast("double")) - F.log((F.col("r_w") + 1).cast("double")))
            ).alias("score")
        )
    )


def gram_leakage_hits(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_col: str = "split",
    ngram: int = 8,
) -> DataFrame:
    """Per held-out doc, how many distinct word ``ngram``-grams it shares
    with the TRAIN split — the leakage audit behind both the
    ``corpus_split_leakage`` catalog entry and the corpus verb's
    ``--check-leakage``.

    Scale shape: unlike benchmark decontamination (tiny eval side →
    broadcast), the train gram set here is ~98% of the corpus — it must
    NOT be broadcast. This is a plain shuffle join on the gram; AQE picks
    the physical strategy, and at 100 TB the right follow-up is hashing
    grams to int64 before the join to shrink the shuffle.

    Output: (split, id, n_shared) — one row per held-out doc that leaks.
    """
    grams = df.select(
        F.col(id_col), F.col(split_col),
        F.explode(F.expr(_text_ngrams(df, text_col, ngram))).alias("gram"),
    )
    train_grams = grams.filter(F.col(split_col) == "train").select("gram").distinct()
    held = (
        grams.filter(F.col(split_col) != "train")
        .select(id_col, split_col, "gram")
        .distinct()
    )
    return (
        held.join(train_grams, "gram")
        .groupBy(split_col, id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def domain_temperature_weights(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-based domain mixture (the multilingual/multi-domain
    balancing rule mT5/UniMax popularized): target share of domain i is
    share_i^(1/T) renormalized — T=1 keeps natural proportions, T→∞
    approaches uniform (the corpus_domain_mixture entry's fixed target).
    Returns per-source token shares, target shares, and the per-doc
    sampling weight (target/natural, capped at 1 so no domain is
    oversampled without replacement; pair with
    importance resampling's md5-uniform draw to execute).

    Shape: one per-source agg (domain-bounded), totals broadcast back —
    the corpus itself never shuffles."""
    from cumulus_etl_spark.operators import textstats as T

    per = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(T.token_count(text_col)).cast("bigint").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"))
    j = per.crossJoin(F.broadcast(tot))
    share = F.col("n_tokens") / F.col("total_tokens")
    powed = F.pow(share, F.lit(1.0 / temperature))
    # renormalize share^(1/T) across sources: window-free via a second
    # broadcast of the powered sum (domain-bounded frame, trivial)
    psum = (
        j.select(powed.alias("p"))
        .agg(F.sum("p").alias("p_total"))
    )
    out = j.crossJoin(F.broadcast(psum)).select(
        source_col,
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        (powed / F.col("p_total")).alias("target_share"),
    )
    weight = F.when(
        F.col("token_share") > 0, F.col("target_share") / F.col("token_share")
    )
    capped = F.when(F.col("token_share") > 0, F.least(weight, F.lit(1.0)))
    return out.select(
        source_col, "n_docs", "n_tokens", "token_share", "target_share",
        weight.alias("sample_weight"),
        capped.alias("capped_weight"),
        F.floor(F.col("n_tokens") * capped).cast("bigint").alias("expected_tokens"),
    )
