"""Embedding quantization: symmetric per-dimension int8 codes.

The memory-bandwidth lever for vector search at 100 TB: float32
embeddings quantized to int8 shrink the ANN working set 4x, and the
per-dimension scale table (one float per dimension) broadcasts for free.

Shape (all JVM-side expressions, no Python):
  1. ``posexplode`` the vector column → (id, dim, x) rows, so a corpus of
     N vectors × D dims spreads over N·D narrow rows instead of N wide
     arrays — skew-free and partition-count friendly.
  2. One hash agg on ``dim`` (D groups — map-side combine does almost all
     the work) computes the per-dimension absolute max.
  3. The D-row scale table broadcasts back onto the exploded rows;
     codes are a pure arithmetic projection.

Reference context: the reference has no vector surface at all — this is
part of the beyond-parity LLM-data-pipeline library (SURVEY.md §2.11
"beyond-parity operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cumulus_etl_spark.operators.similarity import (
    as_double,
    double_array_sql,
    first_k_centroids,
    nearest_centroids,
    sq_l2,
    train_ivf_centroids,
)


def explode_dims(emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """(id, dim, x) rows from a vector column; x widened float→double
    (exact, so downstream math is engine-reproducible)."""
    return emb.select(
        F.col(id_col),
        F.posexplode(F.expr(as_double(f"`{vec_col}`"))).alias("dim", "x"),
    )


def dim_scales(exploded: DataFrame) -> DataFrame:
    """Per-dimension symmetric scale: max(|x|). One agg on dim."""
    return exploded.groupBy("dim").agg(F.max(F.abs(F.col("x"))).alias("amax"))


def int8_code(x: str, amax: str) -> str:
    """SQL text of the symmetric int8 code in [-127, 127]. round() is
    half-away-from-zero on both Spark (HALF_UP) and DuckDB (C round), so
    codes are engine-identical given identical doubles."""
    # An all-zero dimension (amax=0) yields NULL codes — never NaN/127
    # artifacts or an ANSI divide-by-zero — and the caller decides.
    return (
        f"CASE WHEN {amax} != 0D THEN greatest(-127, least(127,"
        f" cast(round({x} / {amax} * 127.0D, 0) as int))) END"
    )


def quantize_int8(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Exploded rows with int8 codes attached: (id, dim, x, amax, code)."""
    ex = explode_dims(emb, vec_col, id_col)
    scales = dim_scales(ex)
    q = ex.join(F.broadcast(scales), "dim")
    return q.withColumn("code", F.expr(int8_code("`x`", "`amax`")))


def _int8_scale_row(emb: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """One row of dim-ordered arrays: ``amax_arr`` (the per-dimension
    scales) and ``s2`` (amax² / 127², the code-product weights).

    The scale table is the ONLY aggregation over the corpus (D groups,
    map-side combined); codes are then a row-local zip_with against this
    broadcast row — the corpus is never re-shuffled or re-grouped to build
    code arrays."""
    return (
        dim_scales(explode_dims(emb, vec_col, id_col))
        .select(F.struct("dim", "amax").alias("da"))
        .agg(F.array_sort(F.collect_list("da")).alias("da"))
        .select(
            F.expr("transform(`da`, s -> s.amax)").alias("amax_arr"),
            F.expr("transform(`da`, s -> s.amax * s.amax / 16129.0D)").alias("s2"),
        )
    )


def _int8_codes(v: str) -> str:
    """int8 code array of the vector ``v`` against ``amax_arr``."""
    return f"zip_with({v}, `amax_arr`, (x, a) -> {int8_code('x', 'a')})"


def int8_dot(qcodes: str, codes: str, s2: str) -> str:
    """Scaled integer dot product ``sum(qcodes[d] * codes[d] * s2[d])`` —
    integer code products, then a sequential double fold identical to
    DuckDB's list_sum."""
    return (
        f"aggregate(zip_with(zip_with({qcodes}, {codes}, (a, b) -> a * b), {s2},"
        f" (p, s) -> cast(p as double) * s), 0D, (acc, x) -> acc + x)"
    )


def int8_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k maximum-inner-product search over int8 codes.

    The 4x-smaller search path quantize_int8 exists for: score each
    (query, candidate) pair by the scaled integer dot product
    ``sum(code_q[d] * code_c[d] * amax[d]^2 / 127^2)`` — the int8
    approximation of the float inner product. Code arrays are int8-sized
    and the query side broadcasts, so the corpus scan streams packed
    codes instead of float32 vectors.

    Output: (query_id, rank, neighbor_id, score), ties broken by
    neighbor_id — total-ordered and engine-reproducible (integer code
    products, sequential double fold identical to DuckDB's list_sum).
    """
    codes = emb.crossJoin(F.broadcast(_int8_scale_row(emb, vec_col, id_col))).select(
        F.col(id_col), F.expr(_int8_codes(as_double(f"`{vec_col}`"))).alias("codes"), "s2"
    )
    qcodes = codes.join(
        F.broadcast(queries.select(F.col(id_col).alias("query_id"))),
        codes[id_col] == F.col("query_id"),
    ).select("query_id", F.col("codes").alias("qcodes"))
    pairs = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(qcodes))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    score = F.expr(int8_dot("`qcodes`", "`codes`", "`s2`"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def ann_ivf_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-SQ8: coarse inverted lists + int8 scalar-quantized scoring
    (the faiss IVFx,SQ8 design). The corpus is stored as int8 code
    arrays partitioned by nearest centroid; a query probes its
    ``n_probe`` nearest lists and scores ONLY those members with the
    scaled integer dot product. Combines the two scale levers: IVF cuts
    candidates ~n_probe/n_centroids, int8 cuts bytes-per-candidate 4x.

    With ``n_probe == n_centroids`` this degenerates to the exact
    quantized full scan (== int8_topk) — the property the tests pin.
    Output: (query_id, rank, neighbor_id, score).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_centroids=n_centroids, vec_col=vec_col, seed=seed
        )
    scale_row = _int8_scale_row(corpus, vec_col, id_col)
    v = as_double(f"`{vec_col}`")
    codes = F.expr(_int8_codes(v))
    lists = corpus.crossJoin(F.broadcast(scale_row)).select(
        F.col(id_col).alias("neighbor_id"),
        codes.alias("codes"),
        "s2",
        F.expr(f"element_at({nearest_centroids(v, centroids, 1)}, 1)").alias("centroid"),
    )
    probes = queries.crossJoin(F.broadcast(scale_row)).select(
        F.col(id_col).alias("query_id"),
        codes.alias("qcodes"),
        F.explode(F.expr(nearest_centroids(v, centroids, n_probe))).alias("centroid"),
    )
    cands = lists.join(F.broadcast(probes), "centroid")
    if exclude_self:
        cands = cands.filter(F.col("query_id") != F.col("neighbor_id"))
    score = F.expr(int8_dot("`qcodes`", "`codes`", "`s2`"))
    scored = cands.select("query_id", "neighbor_id", score.alias("score")).dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------


def pq_codebooks_seeded(
    corpus: DataFrame,
    n_sub: int = 4,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """PQ codebooks seeded from the ``k`` lowest-id corpus vectors, one
    codebook per subspace: codebooks[m][j] is vector j's m-th subvector
    (Jégou et al. 2011, the FAISS IndexPQ design — here with data-seeded
    instead of k-means-trained codewords so the whole index is
    SQL-rebuildable and the catalog entry hash-checks; see
    plans/vectorops.py _PQ_ADC_ORACLE). Driver cost: k rows."""
    seeds = first_k_centroids(corpus, k, id_col=id_col, vec_col=vec_col)
    dim = len(seeds[0])
    if n_sub <= 0 or dim % n_sub:
        raise ValueError(
            f"dim={dim} must divide evenly into n_sub={n_sub} subspaces "
            "(a zero-width or truncated subspace would silently score garbage)"
        )
    sub = dim // n_sub
    return [
        [seed[m * sub : (m + 1) * sub] for seed in seeds] for m in range(n_sub)
    ]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>): nearest codeword per subspace by squared
    L2, ties to the lowest codeword id. Pure expression scan — the
    columnar analog of storing n_sub bytes per vector instead of
    dim floats (a 64x memory cut at dim=64/n_sub=4): the 100 TB corpus
    scan for ANN reads ONLY these codes.

    The codebook ships as ONE literal nested-array expression with the
    per-codeword distances computed by `transform` — not n_sub×K
    separate fold expressions, whose tree size blew past whole-stage
    codegen and ran interpreted (measured 33 s → 3 s at sf0.1; the same
    literal-tensor fix as lsh_signatures_all). Tie-break: array_position
    of the min = FIRST (lowest) codeword, identical to the struct-sort
    form."""
    v = as_double(f"`{vec_col}`")
    return corpus.select(
        F.col(id_col).alias("id"), F.expr(_pq_codes_expr(v, codebooks)).alias("codes")
    )


def _pq_subspace_dists(v: str, m: int, sub: int, book: list[list[float]]) -> str:
    """array<double> of squared-L2 distances from subspace m of the vector
    ``v`` to every codeword — sequential fold per codeword, same doubles
    as the unrolled form and as the oracle's list_sum."""
    subvec = f"slice({v}, {m * sub + 1}, {sub})"
    return f"transform({double_array_sql(book, 2)}, __cw -> {sq_l2(subvec, '__cw')})"


def _pq_codes_expr(v: str, codebooks: list[list[list[float]]]) -> str:
    """array<int> of the nearest codeword per subspace.

    One-pass argmin: zip (d, j) and take the struct min — evaluates the
    distance array once (array_position(min) walked it twice) and keeps
    the lowest-j tie-break via lexicographic struct order."""
    sub = len(codebooks[0][0])
    k = len(codebooks[0])
    return "array(" + ", ".join(
        f"cast(array_min(zip_with({_pq_subspace_dists(v, m, sub, book)},"
        f" sequence(0, {k - 1}), (d, j) -> struct(d AS d, j AS j))).j as int)"
        for m, book in enumerate(codebooks)
    ) + ")"


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k nearest neighbors by PQ asymmetric distance:
    each query precomputes its per-subspace distance TABLE to every
    codeword (n_sub×K doubles, an expression over the broadcast query
    row), and a corpus candidate's distance is just n_sub table lookups
    on its codes — no per-pair vector math, which is what makes PQ the
    memory-bound scale path. Output: (query_id, rank, neighbor_id,
    approx_sq_dist), ascending distance, ties to the lower neighbor_id.
    """
    n_sub = len(codebooks)
    sub = len(codebooks[0][0])
    enc = pq_encode(corpus, codebooks, vec_col=vec_col, id_col=id_col)
    qv = as_double(f"`{vec_col}`")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *[
            F.expr(_pq_subspace_dists(qv, m, sub, book)).alias(f"dt{m}")
            for m, book in enumerate(codebooks)
        ],
    )
    pairs = enc.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("id") != F.col("query_id"))
    # fixed-order fold m=0..n_sub-1 — mirrored by the oracle's
    # list_sum(list(d ORDER BY m)) sequential fold
    score = F.element_at(F.col("dt0"), F.element_at("codes", 1) + 1)
    for m in range(1, n_sub):
        score = score + F.element_at(F.col(f"dt{m}"), F.element_at("codes", m + 1) + 1)
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    return (
        pairs.select(
            "query_id", F.col("id").alias("neighbor_id"), score.alias("d")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.col("d").alias("approx_sq_dist"))
    )


def pq_codebooks_trained(
    corpus: DataFrame,
    n_sub: int = 16,
    k: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_rows: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Production PQ codebooks: per-subspace k-means over a seeded corpus
    sample, driver-side numpy (codebook training needs a sample, not the
    corpus — same posture as train_ivf_centroids; FAISS trains IndexPQ
    the same way). Deterministic given the seed. The seeded variant
    (pq_codebooks_seeded) remains the SQL-reproducible catalog path; on
    this synthetic near-uniform corpus trained buys little recall
    (pytest-measured), but on real clustered embeddings it is the right
    default."""
    import numpy as np

    sample = (
        corpus.select(F.expr(as_double(f"`{vec_col}`")).alias("v"))
        .orderBy(F.rand(seed))
        .limit(sample_rows)
        .collect()
    )
    x = np.array([r["v"] for r in sample])
    dim = x.shape[1]
    if n_sub <= 0 or dim % n_sub:
        raise ValueError(
            f"dim={dim} must divide evenly into n_sub={n_sub} subspaces "
            "(a zero-width or truncated subspace would silently score garbage)"
        )
    sub = dim // n_sub
    rng = np.random.RandomState(seed)
    books: list[list[list[float]]] = []
    for m in range(n_sub):
        xs = x[:, m * sub : (m + 1) * sub]
        c = xs[rng.choice(len(xs), size=min(k, len(xs)), replace=False)].copy()
        for _ in range(iters):
            dist = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            assign = dist.argmin(1)
            for j in range(len(c)):
                members = xs[assign == j]
                if len(members):
                    c[j] = members.mean(0)
        books.append(c.tolist())
    return books
