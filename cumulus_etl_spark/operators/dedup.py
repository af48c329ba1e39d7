"""Deduplication operators: exact, last-wins, MinHash-LSH, SimHash, n-gram
Jaccard — the corpus-dedup toolbox for training-data pipelines at 100TB.

Design for scale:
- Everything up to candidate generation is pure Catalyst expressions
  (xxhash64, transform, array_min) — JVM-side, no UDFs, no driver state.
- Near-dup candidate generation is band-bucket grouping (MinHash-LSH) or
  block-bucket grouping (SimHash): one shuffle on the bucket key instead
  of an O(n²) cross join. Verification (exact Jaccard / Hamming) runs only
  on candidate pairs inside buckets.
- Skew guard: giant buckets (boilerplate docs) are capped via a per-bucket
  row limit before the self-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cumulus_etl_spark.sources.hadoop_io import file_lengths

# Mersenne prime 2^31-1: keeps a*h+b inside int64 (ANSI overflow-safe)
# while giving a big enough universal-hash family for MinHash.
_MINHASH_PRIME = (1 << 31) - 1


def _fanout_partitions(df: DataFrame, n_items: int, items_per_task: int) -> int:
    """Partition count for a stage whose work is ``n_items`` expansion
    units (in-bucket pair structs, per-pair array intersects) rather
    than its input bytes.

    AQE sizes post-shuffle partitions by BYTES, so a small frame about
    to fan out quadratically (bucket pair expansion) or to do heavy
    per-row work (exact-Jaccard verification) coalesces into 1-4
    partitions and runs nearly single-threaded — the cost signal AQE
    cannot see (guide §2.5: measured 1 partition under the sf0.1
    expansion of 5.6M pairs). Derived from the measured item count, the
    number is scale-adaptive: it grows with the data, with the local
    core count only as a floor, never a cap."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    return max(dp, n_items // items_per_task + 1)


# Expansion emits cheap structs; verification does an array-intersect
# per pair. Sized so a task is a few hundred ms of work at either rate.
_EXPAND_ITEMS_PER_TASK = 200_000
_VERIFY_ITEMS_PER_TASK = 250_000


def _scan_splits(df: DataFrame) -> int | None:
    """Estimated scan-task count of a FILE-SOURCED frame, from the plan's
    file index only — never ``df.rdd`` (r13 ADVICE medium: converting a
    plan that contains exchanges to an RDD forces AQE to execute the
    upstream query stages just to read a partition count — silent double
    compute for any caller-supplied frame with a join/agg upstream).

    Returns None for non-file sources (in-memory frames, RDD scans,
    checkpoints) — callers skip the floor there rather than guess. With
    >= defaultParallelism files the exact split count is irrelevant
    (the floor is a no-op) and nothing is stat'ed; below that, the few
    files are stat'ed through the Hadoop FS API and charged
    ceil(len / maxPartitionBytes) splits each — close enough to Spark's
    packing (openCost only matters in the many-small-files regime, which
    the short-circuit already covered)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    spark = df.sparkSession
    dp = spark.sparkContext.defaultParallelism
    if len(files) >= dp:
        return len(files)
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    # an unstat-able file (length 0) counts as one task (narrow-scan assumption)
    return sum(max(1, -(-n // max_split)) for n in file_lengths(spark, files))


def _parallel_floor(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy per-row
    work (shingle hashing: one xxhash64 per token per doc).

    A small input (one file / one row group, or one huge unsplittable
    file) lands on fewer tasks than the cluster has cores, and every
    per-row expression upstream of the first exchange then runs at that
    width — the sf0.1 documents scan is ONE task, so the whole shingle
    build ran single-threaded (guide §2.5 "input skew … otherwise
    repartition immediately after the read"). Round-robin repartition to
    ``defaultParallelism`` only when the scan is under that floor: at
    cluster scale the scan already has thousands of splits and this is a
    NO-OP (no shuffle added), so the floor is scale-adaptive, not a
    local[32] constant. Row placement does not affect any consumer here
    (set-semantic aggregations / joins; per-pair integer arithmetic), so
    results are bit-identical (measured: signature-equal, 0.84 → 0.57 s
    on the sf0.1 shingle build).

    Boundary rule (pinned by two A/B rounds): apply ONLY where heavy
    per-row work (shingle/token hashing, wide decimal aggregation) runs
    below the first exchange — a bare split+explode does not amortize
    the added shuffle (bm25/nb floors measured as losses and removed,
    r14; association-rules floor rejected, r13)."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    width = _scan_splits(df)
    if width is not None and width < dp:
        return df.repartition(dp)
    return df


def exact_dedup(df: DataFrame, keys: list[str], order_by: list[Column] | None = None) -> DataFrame:
    """Exact dedup on key columns. With ``order_by`` → deterministic
    last-wins (SURVEY F6, ref etl/tasks/base.py:303-335); without →
    dropDuplicates (arbitrary survivor, cheapest plan)."""
    if order_by is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens."""
    t = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(t)), r"\s+")


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles. Expression-only: sequence + transform +
    slice, no UDF."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            )
        )
    )


def raw_shingles(text: Column | str, k: int = 1) -> Column:
    """Distinct RAW word k-shingles (strings), O(tokens·k) — the
    collision-free set representation the exact verifier joins on.

    k=1 is ``array_distinct(split(lower(trim(text)), '\\s+'))`` — the
    exact expression the all-pairs ground truth and the DuckDB oracles
    use, so sizes and intersections agree bit-for-bit. k>1 builds the
    shingle strings with the same zip_with chaining trick as
    ``shingle_hashes`` (both array arguments evaluate once per row), not
    the O(tokens²) outer-lambda form in ``shingles()``."""
    toks = tokens(text)
    if k == 1:
        return F.array_distinct(toks)
    n = F.size(toks)
    combined = toks
    for j in range(1, k):
        combined = F.zip_with(
            combined,
            F.slice(toks, j + 1, 1_000_000),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(F.slice(combined, 1, F.greatest(n - k + 1, F.lit(1))))
    )


def shingle_hashes(text: Column | str, k: int = 3) -> Column:
    """Hashed word k-shingles as array<long> in [0, p) — never building
    shingle strings.

    Why not ``shingles()``: an outer expression referenced inside a
    higher-order lambda (the token array in slice/concat_ws) re-evaluates
    PER ELEMENT — the string form recomputed split() for every shingle,
    O(tokens²) per document (measured ~8s for 5k docs). ``zip_with``
    evaluates both array arguments once per row, so this is O(tokens):
    hash each token once, then fold k consecutive token hashes with a
    polynomial combine under the Mersenne prime.
    """
    toks = tokens(text)
    th = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(_MINHASH_PRIME)))
    n = F.size(th)
    combined = th
    for j in range(1, k):
        # combined < p (2^31), * 65599 (<2^17) + b < 2^49 — ANSI-safe.
        combined = F.zip_with(
            combined,
            F.slice(th, j + 1, 1_000_000),
            lambda a, b: F.pmod(a * F.lit(65599) + b, F.lit(_MINHASH_PRIME)),
        )
    # zip_with null-pads the short side; the first n-k+1 entries are the
    # complete shingles. Short docs (< k tokens) hash the whole token list.
    whole = F.pmod(F.xxhash64(F.concat_ws(" ", toks)), F.lit(_MINHASH_PRIME))
    return F.when(n < k, F.array(whole)).otherwise(
        F.array_distinct(F.slice(combined, 1, F.greatest(n - k + 1, F.lit(1))))
    )


def minhash_signature(shingle_col: Column, num_hashes: int = 32, seed: int = 42) -> Column:
    """MinHash signature: for hash function j, min over shingles of
    (a_j * xxhash64(s) + b_j) mod p. Deterministic universal-hash family
    derived from ``seed`` — stable across runs/partitions."""
    import random

    rng = random.Random(seed)
    coefs = [(rng.randrange(1, _MINHASH_PRIME), rng.randrange(0, _MINHASH_PRIME)) for _ in range(num_hashes)]
    # pmod keeps the base hash in [0, p) without abs() (abs(Long.MIN) would
    # itself overflow under ANSI); h < 2^31 and a < 2^31 so a*h+b < 2^63.
    base = F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MINHASH_PRIME)))
    sigs = [
        F.array_min(F.transform(base, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_PRIME)))
        for a, b in coefs
    ]
    return F.array(*sigs)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH.

    sig → split into ``bands`` bands of ``num_hashes/bands`` rows → hash
    each band → explode → shuffle once on (band_idx, band_hash) → pair up
    within buckets. Returns (id_a, id_b) with id_a < id_b, distinct.

    ``max_bucket`` caps degenerate buckets (exact-duplicate floods) so the
    within-bucket self-join can't go quadratic on skew; exact dups are
    caught by fingerprint dedup first anyway.
    """
    # banded_signatures requires a pinned frame; .cache() satisfies the
    # contract (it stops the 32-transform re-inlining just as well — the
    # ngram_jaccard_dedup callers already rely on that) while keeping the
    # API lazy (no job at call time) and the lineage intact: an eager
    # localCheckpoint here pinned roughly the corpus token stream to
    # non-reliable executor-local blocks, where one executor loss fails
    # the job unrecoverably (r13 ADVICE).
    sh = _parallel_floor(df).select(
        F.col(id_col).alias("id"), shingle_hashes(text_col, shingle_k).alias("sh")
    ).cache()
    return _lsh_candidates_from_shingles(
        sh, num_hashes=num_hashes, bands=bands, max_bucket=max_bucket
    )


def banded_signatures(
    sh: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(id, band_idx, band_hash) rows from an (id, sh: array<long>)
    hashed-shingle frame — the LSH index rows two docs collide on.

    MAP-SIDE formulation (r13 opt, guide §2.3/§2.4): each of the
    ``num_hashes`` signature rows is ``array_min(transform(sh, a·h+b
    mod p))`` over the PINNED shingle column, so the whole signature +
    band hashing is one shuffle-free projection; the only exchange left
    in candidate generation is the bucket groupBy, which carries 8 rows
    per doc. The previous explode→groupBy(id) shape shuffled ONE ROW PER
    SHINGLE (the corpus's entire token stream) just to compute per-doc
    mins — at 100 TB that shuffle dwarfs everything else in the LSH
    path; locally the two are within noise (A/B min-of-3: 0.94 vs
    0.92 s at 32 partitions, signature-identical), so the exchange
    removal is pure scale win.

    CONTRACT: ``sh`` must be pinned (cache / localCheckpoint) — every
    caller is (ngram_jaccard_dedup[_keep_best] cache, DedupIndex
    localCheckpoint, minhash_lsh_candidates pins internally). On an
    UN-pinned frame the 32 transforms would re-inline the upstream
    shingle pipeline per hash (the historical 88 s / 500 docs codegen
    blowup this function's explode shape originally avoided).

    Identical output to the explode shape by construction: min over the
    same multiset of universal-hash values, same (a, b) coefficients
    (seed 42), same band concat/hash — the A/B signature check pins it.
    """
    import random

    rows_per_band = num_hashes // bands
    rng = random.Random(42)
    coefs = [
        (rng.randrange(1, _MINHASH_PRIME), rng.randrange(0, _MINHASH_PRIME))
        for _ in range(num_hashes)
    ]

    def _perm(a: int, b: int):
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_PRIME)

    sig_cols = [
        F.array_min(F.transform("sh", _perm(a, b))).alias(f"s{j}")
        for j, (a, b) in enumerate(coefs)
    ]
    # explode-shape parity: a doc with an empty (or null) shingle set
    # produced no exploded rows and hence no signature — filter it here
    # rather than emitting NULL-signature band rows that would bucket
    # every empty doc together.
    sigs = sh.filter(F.size("sh") > 0).select("id", *sig_cols)
    band_hashes = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"s{b * rows_per_band + i}").cast("string")
                        for i in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    return sigs.select("id", F.posexplode(band_hashes).alias("band_idx", "band_hash"))


def _lsh_candidates_from_shingles(
    sh: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 200,
) -> DataFrame:
    """Candidate pairs from an (id, sh: array<long>) hashed-shingle frame
    (see banded_signatures for the signature-build shape)."""
    banded = banded_signatures(sh, num_hashes=num_hashes, bands=bands)
    # Pair generation: ONE shuffle on the bucket key — collect each
    # bucket's ids (sorted, capped at max_bucket) and emit the pairs as
    # an array expression. This replaces the window-cap + bucket
    # self-join formulation (two extra stages and a second scan of the
    # banded rows); per-bucket work is O(cap²) ≤ 40k structs, bounded.
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.slice(F.sort_array(F.collect_list("id")), 1, max_bucket).alias("ids")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, max_bucket),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.filter(F.size("ids") > 1)
        .select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs; keeps pairs ≥ threshold.
    Output: (id_a, id_b, jaccard)."""
    sh = df.select(F.col(id_col).alias("id"), shingles(text_col, shingle_k).alias("sh"))
    j = (
        candidates.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def ngram_jaccard_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.7,
    **lsh_kwargs,
) -> DataFrame:
    """Full fuzzy-dedup pipeline: LSH candidates → exact Jaccard verify →
    survivor set. Rows whose id appears as the *greater* member of a dup
    pair are dropped (min-id canonical survivor).

    The shingle-hash computation feeds both candidate generation and the
    verify join, so it's materialized once (cache) instead of recomputed
    in three scans; at cluster scale this is a persisted intermediate,
    exactly like a CTE a warehouse would spool. Jaccard verification runs
    on the hashed shingle sets — identical counts modulo (negligible)
    64-bit collisions, and long-array intersects beat string-array ones.
    """
    sh = _parallel_floor(df).select(
        F.col(id_col).alias("id"), shingle_hashes(text_col, shingle_k).alias("sh")
    ).withColumn("sz", F.size("sh")).cache()
    j = _jaccard_verified_pairs(sh, threshold, **lsh_kwargs)
    # Materialize the (tiny: ids only) loser set eagerly so the shingle
    # cache can be released here instead of leaking for the session's
    # lifetime — the returned frame then depends only on the checkpoint.
    losers = j.select(F.col("id_b").alias(id_col)).distinct().localCheckpoint(eager=True)
    sh.unpersist()
    return df.join(losers, id_col, "left_anti")


def _jaccard_verified_pairs(sh, threshold: float, **lsh_kwargs) -> DataFrame:
    """LSH candidates → exact Jaccard verify over a (id, sh, sz) shingle
    frame; returns the verified pairs (id_a < id_b, jaccard)."""
    cands = _lsh_candidates_from_shingles(sh, **lsh_kwargs)
    # |A∪B| from sizes (one array op per pair, not two), with a cheap
    # size-ratio pre-filter: J ≥ t needs min/max ≥ t, and the conjunct
    # ordering short-circuits the intersect for pairs that can't qualify.
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    size_ok = F.least("sz_a", "sz_b") >= threshold * F.greatest("sz_a", "sz_b")
    return (
        cands.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .filter(size_ok)
        .withColumn("inter", inter)
        # same double division as size(∩)/size(∪) — |∪| = sz_a+sz_b−|∩|
        # exactly, so boundary pairs keep identical float behavior
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_dedup_keep_best(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str | None = None,
    shingle_k: int = 3,
    threshold: float = 0.7,
    **lsh_kwargs,
) -> DataFrame:
    """Cluster-CANONICAL fuzzy dedup: keep the best-scored row per
    transitive duplicate cluster (RefinedWeb-style keep-longest /
    keep-cleanest), instead of the pairwise min-id drop.

    The pairwise policy (``ngram_jaccard_dedup``) drops every row that
    ever loses a pair — along a chain a~b~c it keeps only ``a`` even
    though a and c were never verified as duplicates. This variant runs
    connected components over the VERIFIED pairs and keeps exactly one
    representative per component: max ``score_col`` (ties → min id);
    ``score_col=None`` scores by text length. Costs the CC iteration on
    the dup-incident subgraph only — the same bounded frame
    text_dedup_clusters iterates, tiny relative to the corpus.
    """
    from cumulus_etl_spark.operators.graph import connected_components

    score = (
        F.col(score_col).cast("double")
        if score_col
        else F.length(F.col(text_col)).cast("double")
    )
    sh = _parallel_floor(df).select(
        F.col(id_col).alias("id"), shingle_hashes(text_col, shingle_k).alias("sh")
    ).withColumn("sz", F.size("sh")).cache()
    pairs = _jaccard_verified_pairs(sh, threshold, **lsh_kwargs).select(
        "id_a", "id_b"
    ).localCheckpoint(eager=True)
    sh.unpersist()
    # edges_unique: the LSH candidate set is .distinct()-ed with
    # id_a < id_b before verification, so CC can skip its dedup shuffle.
    # vertices=None: CC derives the pair-incident vertex set and seeds
    # labels from the edges in one shuffle-free agg (r13 opt) — the old
    # touched-set union+distinct and round 1 both disappear.
    comp = connected_components(
        None, pairs, id_col="id", src_col="id_a", dst_col="id_b",
        edges_unique=True,
    )
    ranked = (
        df.select(F.col(id_col).alias("id"), score.alias("__score"))
        .join(comp, "id")
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    F.desc("__score"), F.asc("id")
                )
            ),
        )
    )
    losers = (
        ranked.filter(F.col("__rk") > 1)
        .select(F.col("id").alias(id_col))
        .localCheckpoint(eager=True)
    )
    return df.join(losers, id_col, "left_anti")


def _vocab_verdict(n_bad: int) -> bool:
    """Injectivity decision from the observed collision-group count —
    the seam the forced-fallback test monkeypatches (the check itself
    rides _prefix_buckets' frequency aggregation; see there)."""
    return n_bad == 0


def _vocab_injective(sh: DataFrame) -> bool:
    """True iff ``xxhash64`` is injective on the corpus's shingle
    vocabulary — the premise that lets ``prefix_filter_pairs`` verify on
    long arrays with EXACT raw-set semantics (see its docstring);
    failure odds ~vocab²/2⁶⁵, and the caller falls back to raw-string
    verification when it ever returns False.

    ONE exchange (r14, verdict ask 4): group the token stream by its
    hash and test min(token) == max(token) per group — a hash group
    holding two distinct tokens is exactly a collision. The previous
    ``distinct`` + ``countDistinct`` form shuffled the corpus's distinct
    raw token stream TWICE; this form map-side-combines to per-partition
    (hash, min, max) triples before its single exchange, so the shuffled
    bytes are bounded by the per-partition vocabulary, not the token
    stream. Same boolean in all worlds: injective ⟺ every hash group
    has one distinct token ⟺ no group with min ≠ max."""
    return bool(
        sh.select(F.explode("raw").alias("t"))
        .groupBy(F.xxhash64("t").alias("h"))
        .agg((F.min("t") != F.max("t")).cast("long").alias("bad"))
        .agg(F.coalesce(F.sum("bad"), F.lit(0)).alias("n_bad"))
        .collect()[0]["n_bad"] == 0
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    block_col: str | None = None,
    shingle_k: int = 1,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08):
    every pair with shingle-set Jaccard ≥ ``threshold`` is returned, with
    a correctness guarantee instead of an LSH recall argument.

    Shape: order each document's hashed shingle set by GLOBAL rarity
    (ascending document frequency), index only the first
    ``sz − ⌈t·sz⌉ + 1`` elements, and generate candidates per
    (block, token) bucket. Theorem: if J(A,B) ≥ t, the globally-smallest
    common token lies inside BOTH prefixes — suppose not for A: then all
    of A's prefix is non-shared, so |A∩B| ≤ |A| − (|A|−⌈t·|A|⌉+1)
    < t·|A| ≤ t·|A∪B|, contradicting J ≥ t. Candidates are then
    size-ratio filtered (J ≥ t ⟹ min·1 ≥ t·max) and exactly verified.

    Exactness (round-5 ADVICE, strengthened r13): candidate generation
    runs on full 64-bit ``xxhash64`` shingle hashes, but prefix lengths
    / size ratios use RAW distinct-shingle counts, so a hash collision
    can only ADD candidates (later rejected), never drop one. The
    prefix theorem needs only SOME shared global order, not true
    frequencies, so df-distortion from collisions is harmless.
    Verification: one corpus-level aggregate checks that xxhash64 is
    INJECTIVE on the corpus's shingle vocabulary; when it is (always,
    in practice — failure odds ~vocab²/2⁶⁵), hashed-set intersections
    equal raw-string intersections exactly and the verify runs on long
    arrays; otherwise the verify falls back to intersecting the RAW
    shingle arrays — the same expression the all-pairs ground truth
    uses — so the emitted pair set and jaccard values are exact in all
    worlds, with no probabilistic residue.

    Scale: three shuffles (frequency agg, per-doc re-agg, bucket group),
    no cross product, no cap — in-bucket pairing spans the FULL bucket
    (slice length = size(xs), never truncated). Bucket sizes are bounded
    by how many docs hold a token inside their rarity prefix — frequent
    tokens sort to the ends of the sets and never enter prefixes, so the
    quadratic core is confined to genuine near-dup families (whose pair
    OUTPUT is quadratic anyway). Bucket-size p99 at gate scales is
    pytest-PINNED (test_corpus.py::test_prefix_bucket_size_p99) via
    ``prefix_bucket_sizes``; at 100 TB add PPJoin's positional/suffix
    filters to cut in-bucket verification further.

    The returned pair set (output-sized: ids + jaccard only) is
    eagerly localCheckpoint-ed so (a) the shingle cache is released
    before returning instead of leaking for the session's lifetime and
    (b) downstream iterative consumers (connected components in
    text_dedup_clusters) re-read a pinned result instead of re-running
    the join per iteration.

    Returns (id_a, id_b, jaccard) with id_a < id_b; pairs cross blocks
    are excluded when ``block_col`` is given."""
    from pyspark.sql import Observation

    sh = _shingle_frame(df, id_col, text_col, block_col, shingle_k).cache()
    # Pin the bucket frame (small: one row per (block, prefix-token))
    # and measure its pair fan-out; the expansion and verify stages are
    # then explicitly partitioned by that measured work, because AQE's
    # bytes-based coalescing puts this tiny-input/quadratic-work shape
    # on 1-4 tasks (r13 opt, guide §2.5). The fan-out count rides the
    # checkpoint job as an observe metric (r13 opt, the graph.py
    # convergence pattern) instead of a separate post-hoc aggregate job
    # over the pinned frame — same number, one fewer job per call.
    obs = Observation()
    vocab_obs = Observation()
    bk = (
        _prefix_buckets(sh, threshold, vocab_obs=vocab_obs)
        .filter(F.size("xs") > 1)
        .observe(
            obs,
            F.coalesce(
                F.sum(
                    (F.size("xs").cast("bigint") * (F.size("xs") - 1)) / 2
                ),
                F.lit(0),
            ).alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    n_fanout = int(obs.get["n"])
    n_exp = _fanout_partitions(bk, n_fanout, _EXPAND_ITEMS_PER_TASK)
    n_ver = _fanout_partitions(bk, n_fanout, _VERIFY_ITEMS_PER_TASK)
    # Within-bucket salting (r14, verdict ask 7, guide §2.2): explicit
    # fan-out partitioning spreads BUCKETS across tasks, but one
    # pathological bucket still generated all its O(|xs|²) pairs in a
    # single task — measured 14.4× max-vs-median task skew on the
    # expansion stage at sf1 (where the 10× replication plants 10-sized
    # exact-dup cliques in every bucket). Each bucket's ANCHOR range is
    # chunked so one chunk owns ≤ ~_EXPAND_ITEMS_PER_TASK pair
    # enumerations (ck anchors × ≤ n−1 partners each), and chunks hash
    # to tasks independently via the ci key. Each global anchor index
    # lands in exactly one chunk and keeps its exact partner slice, so
    # the emitted pair multiset is identical; unskewed buckets get
    # ⌈(n−1)/ck⌉ = 1 chunk and the explode is a no-op row-wise.
    n_anchor = F.size("xs") - 1  # the last element pairs with nothing
    ck = F.greatest(
        F.lit(1),
        (F.lit(_EXPAND_ITEMS_PER_TASK) / F.greatest(n_anchor, F.lit(1))).cast("int"),
    )
    chunked = bk.select(
        "blk", "h", "xs", ck.alias("ck"),
        F.explode(
            F.sequence(F.lit(0), F.ceil(n_anchor / ck).cast("int") - 1)
        ).alias("ci"),
    )
    cands = (
        chunked.repartition(n_exp, "blk", "h", "ci")
        # Size-ratio + positional filters run INSIDE the pair generator
        # (r13 opt): the lambda filters partner candidates before any
        # struct is built, so the ~90% of in-bucket pairs those filters
        # reject never materialize as rows — the expansion emits only
        # (id_a, id_b) survivors instead of 6-field structs for every
        # pair (guide §2.3 "project before the exchange" applied to a
        # generator). Same predicates, same surviving pair multiset.
        .select(F.explode(_bucket_pairs(threshold)).alias("p"))
        .select("p.id_a", "p.id_b")
        # The explicit-N repartition IS the distinct's exchange
        # (hashpartitioning on both keys satisfies the aggregate's
        # clustering, and user-specified counts are exempt from AQE
        # coalescing) — so the dedup AND the verify join downstream run
        # on n_ver tasks instead of the 4 AQE picked from 8 MB of ids.
        .repartition(n_ver, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verified-injective hashed verify (r13 opt, guide §2.3): the
    # injectivity of xxhash64 on this corpus's shingle VOCABULARY is
    # runtime-checked, and as of r14 the check RIDES the bucket
    # frequency aggregation above as an observe metric (see
    # _prefix_buckets) — the r13 form paid a separate corpus-token-
    # stream job per invocation, measured at 13-14% of this entry's
    # wall at sf1 (verdict ask 4). Under injectivity, `sh` is the image
    # of the distinct raw set under an injective map, so per-pair
    # |sh_a ∩ sh_b| == |raw_a ∩ raw_b| EXACTLY — the verify runs on long
    # arrays and the raw string arrays drop out of the join entirely
    # (fewer shuffle bytes AND no per-pair string hashing; measured
    # 13.1 → 2.4 s on the sf0.1 candidate set, output signature
    # bit-identical). If the check ever fails (~vocab²/2⁶⁵ odds), the
    # original raw-string path below runs unchanged, so the emitted
    # arithmetic is exact in all worlds.
    if _vocab_verdict(int(vocab_obs.get["n_bad"])):
        a = sh.select(F.col("id").alias("id_a"),
                      F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a"))
        b = sh.select(F.col("id").alias("id_b"),
                      F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b"))
        verified = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        )
    else:
        # Fallback: hashed pre-verify (|sh∩| ≥ |raw∩| except under an
        # intersection-internal collision, so pruning pairs whose HASHED
        # overlap cannot reach the threshold never drops a raw-verified
        # pair), then the raw string intersect as the emitted arithmetic.
        a = sh.select(F.col("id").alias("id_a"), F.col("raw").alias("raw_a"),
                      F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a"))
        b = sh.select(F.col("id").alias("id_b"), F.col("raw").alias("raw_b"),
                      F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b"))
        hinter = F.size(F.array_intersect("sh_a", "sh_b"))
        hpre = hinter >= F.lit(threshold) * (F.col("sz_a") + F.col("sz_b") - hinter)
        verified = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .filter(hpre)
            .withColumn("inter", F.size(F.array_intersect("raw_a", "raw_b")))
        )
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    out = (
        verified
        # count algebra: inter ≥ t·(|A|+|B|−inter) ⟺ J ≥ t, exact
        # for dyadic t (0.5·int is exact below 2^53) — identical pair
        # set to the all-pairs ground-truth op's 3·inter ≥ |A|+|B|
        .filter(F.col("inter") >= F.lit(threshold) * union)
        .withColumn("jaccard", F.col("inter") / union)
        .select("id_a", "id_b", "jaccard")
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return out


def _shingle_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None,
    shingle_k: int,
) -> DataFrame:
    """(id, blk, raw, sh, sz): raw distinct shingles, their 64-bit hashes
    and the RAW size — shared by prefix_filter_pairs and the bucket-size
    diagnostics. The parallelism floor spreads the per-doc
    shingle+hash work when the scan is narrower than the cluster
    (no-op at scale; see _parallel_floor)."""
    blk = F.col(block_col) if block_col else F.lit("")
    return (
        _parallel_floor(df).select(
            F.col(id_col).alias("id"),
            blk.alias("blk"),
            raw_shingles(text_col, shingle_k).alias("raw"),
        )
        .withColumn("sh", F.array_distinct(F.transform("raw", lambda s: F.xxhash64(s))))
        .withColumn("sz", F.size("raw"))
    )


def _prefix_buckets(
    sh: DataFrame, threshold: float, vocab_obs=None
) -> DataFrame:
    """(blk, h, xs): per (block, prefix-token) candidate buckets, each a
    sorted array of (id, sz). Prefix length uses the RAW size, so a
    collision-shortened hash array only widens the indexed prefix.

    ``vocab_obs`` (r14, verdict ask 4): an ``Observation`` that collects
    the xxhash64-injectivity verdict ON the frequency aggregation this
    function already runs, instead of ``prefix_filter_pairs`` paying a
    separate corpus-token-stream job for ``_vocab_injective`` (measured
    13-14% of the whole entry at sf1). The frequency aggregate then
    groups the RAW token stream by its hash (carrying per-group
    min/max token — a group with two distinct tokens IS a collision)
    and emits ``n_bad`` as an observe metric riding the caller's bucket
    checkpoint job: zero extra jobs, zero extra exchanges, and only
    vocab-sized min/max strings added to a map-side-combined exchange.

    df equality: ``raw`` is DISTINCT per doc, so under injectivity each
    (doc, hash) contributes exactly one row either way and ``df_tok``
    is bit-identical to the explode("sh") form. Under a collision
    (odds ~vocab²/2⁶⁵) df_tok can differ — but the prefix theorem needs
    only SOME shared global order (see prefix_filter_pairs), every
    candidate is exactly verified, and the caller switches to the raw
    fallback verify in that world anyway, so the emitted pair set stays
    exact in all worlds."""
    ex = sh.select("id", "blk", "sz", F.explode("sh").alias("h"))
    if vocab_obs is None:
        freq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df_tok"))
    else:
        freq = (
            sh.select(F.explode("raw").alias("t"))
            .groupBy(F.xxhash64("t").alias("h"))
            .agg(
                F.count(F.lit(1)).alias("df_tok"),
                (F.min("t") != F.max("t")).cast("long").alias("__bad"),
            )
            .observe(
                vocab_obs,
                F.coalesce(F.sum("__bad"), F.lit(0)).alias("n_bad"),
            )
            .select("h", "df_tok")
        )
    ranked = ex.join(freq, "h")
    arr = ranked.groupBy("id", "blk", "sz").agg(
        F.array_sort(F.collect_list(F.struct(F.col("df_tok"), F.col("h")))).alias("st")
    )
    plen = (F.col("sz") - F.ceil(F.col("sz") * threshold) + 1).cast("int")
    pref = arr.select(
        "id", "blk", "sz",
        F.posexplode(F.slice(F.transform("st", lambda s: s["h"]), 1, plen)).alias(
            "pos", "h"
        ),
    )
    return pref.groupBy("blk", "h").agg(
        F.sort_array(F.collect_list(F.struct("id", "sz", "pos"))).alias("xs")
    )


def _bucket_pairs(threshold: float) -> Column:
    """Surviving in-bucket (i < j) pairs of the ``xs`` array — slice
    length is size(xs), so oversized buckets are fully paired, never
    silently truncated (round-5 ADVICE). The size-ratio filter
    (J ≥ t ⟹ min·1 ≥ t·max) and the PPJoin positional filter run inside
    the generator lambda, so rejected pairs never materialize as structs
    or rows (r13 opt), and survivors carry only (id_a, id_b).

    Chunk-aware (r14 skew fix): the row carries ``ci``/``ck`` (chunk
    index / anchors-per-chunk) and this generator enumerates only the
    anchors in [ci·ck, ci·ck+ck) — against their FULL original partner
    slice — so a pathological bucket's quadratic work spreads over
    ⌈(n−1)/ck⌉ rows instead of one. Anchor indices past n−1 in the last
    chunk get an empty partner slice (exactly like the old form's final
    element), so the union over chunks is the exact old pair multiset.

    PPJoin positional filter (Xiao et al. WWW'08): J ≥ t needs overlap
    α = ⌈t/(1+t)·(|A|+|B|)⌉; a shared token at prefix positions
    (pos_a, pos_b) caps the achievable overlap at
    min(|A|−pos_a, |B|−pos_b) — common tokens at-or-after the FIRST
    shared position in the common global order. Every qualifying pair is
    generated in its first-shared-token bucket too (the prefix theorem),
    where this bound is sound, so filtering per bucket never loses a
    true pair. Positions come from the hashed prefix while sizes are
    RAW: within-doc collisions can only SHORTEN hashed positions, making
    the bound looser — over-pruning is impossible.

    Exactness against the ground-truth verify (round-6 ADVICE): the
    verify keeps a pair iff ``inter >= t * union`` with
    ``union = sz_a + sz_b - inter``, evaluated in double. We test the
    SAME predicate with ``remaining`` substituted for ``inter``:
    o >= t*(szsum - o) is monotone nondecreasing in integer o even
    under double rounding (LHS grows, RHS shrinks, fl() is monotone),
    and remaining >= inter always — so any verify-accepted pair passes,
    with no ceil/float-rounding edge for non-dyadic thresholds."""

    def keep(x: Column, y: Column) -> Column:
        ratio_ok = F.least(x["sz"], y["sz"]) >= F.lit(threshold) * F.greatest(
            x["sz"], y["sz"]
        )
        szsum = x["sz"] + y["sz"]
        remaining = F.least(x["sz"] - x["pos"], y["sz"] - y["pos"])
        pos_ok = remaining >= F.lit(threshold) * (szsum - remaining)
        return ratio_ok & pos_ok

    base = F.col("ci") * F.col("ck")
    return F.flatten(
        F.transform(
            F.slice(F.col("xs"), base + 1, F.col("ck")),
            lambda x, i: F.transform(
                F.filter(
                    F.slice(F.col("xs"), base + i + 2, F.size(F.col("xs"))),
                    lambda y: keep(x, y),
                ),
                lambda y: F.struct(x["id"].alias("id_a"), y["id"].alias("id_b")),
            ),
        )
    )


def prefix_bucket_sizes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    block_col: str | None = None,
    shingle_k: int = 1,
) -> DataFrame:
    """(blk, h, n): the exact candidate-bucket sizes prefix_filter_pairs
    would pair up — the skew diagnostic that pins the docstring's
    bucket-size claims (round-5 verdict ask 6)."""
    sh = _shingle_frame(df, id_col, text_col, block_col, shingle_k)
    return _prefix_buckets(sh, threshold).select(
        "blk", "h", F.size("xs").alias("n")
    )


def simhash64(text_col: Column | str, ngram: int = 2) -> Column:
    """64-bit SimHash over word n-gram features, as pure expressions.

    Each feature votes ±1 per bit (from xxhash64 of the feature); the
    signature packs the vote signs. aggregate+zip_with keeps it one
    projection — no shuffle, no UDF.
    """
    feats = shingles(text_col, ngram)

    def bit_votes(t):
        # Literal shift amounts (shiftright needs a Python int), one ±1
        # vote per bit of xxhash64(feature).
        return F.array(
            *[
                F.when(F.shiftrightunsigned(F.xxhash64(t), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
                .cast("long")
                for i in range(64)
            ]
        )

    votes = F.aggregate(
        feats,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(acc, bit_votes(t), lambda a, v: a + v),
    )
    # Pack vote signs into one long; bit 63 is the sign bit (Long.MIN).
    bit_terms = [
        F.when(F.element_at(votes, i + 1) > 0, F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    packed = bit_terms[0]
    for term in bit_terms[1:]:
        packed = packed.bitwiseOR(term)
    return packed


def simhash_blocks_md5(text_col: Column | str, ngram: int = 2, blocks: int = 4) -> Column:
    """64-bit SimHash as an array of ``blocks`` block values (16 bits
    each at blocks=4), feature-hashed with **md5** instead of xxhash64.

    Why a second hash: md5 exists with identical output in DuckDB, so a
    catalog entry built on this variant is fully oracle-checkable in SQL
    (plans/textops.py _SIMHASH_ORACLE mirrors every step bit-for-bit) —
    the xxhash64 variant (`simhash64`) stays the cheap JVM-hash default
    for production pipelines. Bit i of a feature = bit (i mod 4) of hex
    digit (i div 4) of md5(feature); signature bit = vote sum > 0; block
    b packs bits [16b, 16b+16) little-endian. All expressions, one md5
    per feature, no shuffle."""
    width = 64 // blocks
    feats = shingles(text_col, ngram)
    hexes = F.transform(feats, lambda t: F.md5(t))

    def bit_votes(h: Column) -> Column:
        votes = []
        for i in range(64):
            c, b = divmod(i, 4)
            digit = F.conv(F.substring(h, c + 1, 1), 16, 10).cast("int")
            votes.append(
                F.when(F.shiftright(digit, b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
                .cast("long")
            )
        return F.array(*votes)

    votes = F.aggregate(
        hexes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(acc, bit_votes(h), lambda a, v: a + v),
    )
    block_cols = []
    for bidx in range(blocks):
        s: Column | None = None
        for j in range(width):
            term = F.when(
                F.element_at(votes, bidx * width + j + 1) > 0, F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            s = term if s is None else s + term
        block_cols.append(s)
    return F.array(*block_cols)


def _hamming_blocks(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda p, q: F.bit_count(p.bitwiseXOR(q)).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocks: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 200,
    feature_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: split the 64-bit signature into ``blocks``
    16-bit blocks; by pigeonhole, pairs within ``max_hamming`` ≤ blocks-1
    share ≥1 exact block → group per block value, verify Hamming ≤ max.
    Output: (id_a, id_b, hamming).

    ``max_bucket`` caps degenerate block buckets (near-identical-doc
    floods) with the same collect-sorted-slice pair expansion as the
    MinHash LSH path, so a skewed block value can't make the pair stage
    quadratic — per-bucket work is O(cap²), ONE shuffle total. The slice
    keeps the lowest ids, so the cap is deterministic (and mirrored
    exactly in the SQL oracle). ``feature_hash='md5'`` selects the
    DuckDB-portable signature (see simhash_blocks_md5)."""
    width = 64 // blocks
    if feature_hash == "md5":
        blocks_arr = simhash_blocks_md5(text_col, ngram=2, blocks=blocks)
    else:
        sig = simhash64(text_col)
        blocks_arr = F.array(
            *[
                F.shiftrightunsigned(sig, b * width).bitwiseAND(F.lit((1 << width) - 1))
                for b in range(blocks)
            ]
        )
    sigd = df.select(F.col(id_col).alias("id"), blocks_arr.alias("blk"))
    exploded = sigd.select(
        "id", F.posexplode(F.col("blk")).alias("block_idx", "block_val"), "blk"
    )
    buckets = exploded.groupBy("block_idx", "block_val").agg(
        F.slice(
            F.sort_array(F.collect_list(F.struct(F.col("id"), F.col("blk")))),
            1,
            max_bucket,
        ).alias("members")
    )
    pairs = F.flatten(
        F.transform(
            F.col("members"),
            lambda x, i: F.transform(
                F.slice(F.col("members"), i + 2, max_bucket),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    _hamming_blocks(x["blk"], y["blk"]).alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.filter(F.size("members") > 1)
        .select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---- SymSpell deletion-neighborhood fuzzy join ----------------------------


def symdelete_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Edit-distance-bounded string pairs via deletion-neighborhood
    blocking (the SymSpell scheme): every string emits itself plus each
    single-character deletion as blocking keys; any two strings within
    Levenshtein distance 1 — one substitution, insertion, or deletion —
    necessarily share a key (substitute: delete the differing char from
    both; insert/delete: the shorter string IS a deletion of the
    longer), so candidate generation is a plain equi-join on the key
    with no n^2 block scans. Candidates are then verified with exact
    levenshtein. Only max_dist=1 is supported (distance-2 needs the
    quadratic 2-deletion neighborhood).

    Scale: keys per string = length+1 (linear blow-up, map-local
    explode), one shuffle on the key, distinct, then the cheap exact
    verify on the candidate set only. This is the ER blocking pattern
    that replaces a cartesian fuzzy join.

    Returns (id_a, id_b, dist) with id_a < id_b, dist <= max_dist.
    """
    if max_dist != 1:
        raise ValueError("symdelete_fuzzy_pairs supports max_dist=1 only")
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("s"))
    # greatest(length,1) guards the empty string: sequence(1, 0) would
    # DESCEND; for s='' the lone variant equals s and is harmless.
    variants = F.expr(
        "transform(sequence(1, greatest(length(s), 1)),"
        " i -> concat(substring(s, 1, i - 1), substring(s, i + 1, length(s))))"
    )
    keys = base.select(
        "id",
        "s",
        F.explode(F.concat(F.array(F.col("s")), variants)).alias("key"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(b, (F.col("a.key") == F.col("b.key")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("sa", "sb").cast("int"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    max_dist: int = 2,
) -> DataFrame:
    """Multi-pass sorted-neighborhood ER blocking (Hernandez & Stolfo):
    sort the strings under several keys (here: the string and its
    reverse — prefix damage hides from one ordering but not both),
    compare each row only to its ``window`` successors per pass, union
    the passes, verify candidates with exact levenshtein.

    The complement of symdelete_fuzzy_pairs: deletion blocking is
    complete at distance 1 but keys explode with string length;
    sorted-neighborhood costs O(n log n) sort + O(n*w) comparisons at
    ANY distance threshold, trading completeness (a pair whose
    difference defeats every sort key is missed) for a hard cost bound
    — the standard big-data ER tradeoff, so the pair set here is a
    deterministic SUBSET of the true distance-<=max_dist pairs.

    Both passes ride ONE distributed prefix-sum (round-6 verdict ask 5
    — the two-pass version cost 18 shuffles, this one ~a third): rows
    are stacked with a pass id, ranks come from a single grouped
    ``global_running_sum`` (range partition + local window + broadcast
    offsets, never a single-task global window), the ranked frame is
    eagerly pinned, and the rank band is ONE equi-join on
    (pass, rank-bucket) buckets of size ``window`` (each left row
    probes its own and the next bucket) so the planner gets a hash
    join over both passes at once, not a nested-loop range join.

    Returns (id_a, id_b, dist) with id_a < id_b, distinct across passes.
    """
    from cumulus_etl_spark.operators.corpus import global_running_sum

    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("s"))
    # pass 0 sorts by the string, pass 1 by its reverse (prefix damage
    # hides from one ordering but not both); ties broken by id so the
    # rank is a permutation
    stacked = base.select(
        "id", "s", F.explode(F.array(F.lit(0), F.lit(1))).alias("p")
    ).withColumn(
        "__k",
        F.concat(
            F.when(F.col("p") == 0, F.col("s")).otherwise(F.reverse("s")),
            F.lit(" "),
            F.col("id").cast("string"),
        ),
    ).withColumn("__one", F.lit(1))
    ranked = (
        global_running_sum(stacked, "__one", "__k", out_col="rn", group_col="p")
        .select("p", "id", "s", "rn")
        .localCheckpoint(eager=True)  # self-joined below: pin, don't recompute
    )
    bkt = F.floor((F.col("rn") - 1) / window)
    left = ranked.select(
        "p", "id", "s", "rn", F.explode(F.array(bkt, bkt + 1)).alias("jb")
    )
    right = ranked.select(
        "p",
        F.col("id").alias("id_r"),
        F.col("s").alias("s_r"),
        F.col("rn").alias("rn_r"),
        bkt.alias("jb"),
    )
    cand = (
        left.join(right, ["p", "jb"])
        .filter(
            (F.col("rn_r") > F.col("rn")) & (F.col("rn_r") <= F.col("rn") + window)
        )
        .select(
            F.least("id", "id_r").alias("id_a"),
            F.greatest("id", "id_r").alias("id_b"),
            F.least("s", "s_r").alias("sa"),
            F.greatest("s", "s_r").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("sa", "sb").cast("int"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )
