"""Similarity search over embedding columns (array<float>).

Two paths, per the scale plan:
- ``knn_bruteforce``: exact top-k cosine. The query set is broadcast; the
  corpus is scanned once; per-partition top-k then global top-k (Spark's
  window + filter compiles to this). Right answer up to ~10⁶ corpus rows
  per query batch; it is also the recall oracle for the ANN path.
- ``ann_lsh``: random-hyperplane LSH bucketing. Sign-bit signature over
  ``planes`` fixed hyperplanes (seed-derived, broadcast as literals) →
  bucket join → exact cosine re-rank within buckets. One shuffle on the
  bucket key instead of a full cross product; recall tunable via
  planes/probes.

Every vector primitive below is a SQL-text builder: it takes SQL text for
its operands (a column is its backquoted name, `` `embedding` ``) and
returns SQL text, and the call site wraps the result in one ``F.expr``.
The math runs as zip_with/aggregate/transform on array<double>, JVM-side,
with no Python per-row cost.

There is one form, not a Column form beside it, because a Python lambda
handed to a Spark higher-order function costs py4j round trips at plan
build, paid again at every build, while the JVM parses a whole string in
one call. The parsed tree is the one the Column API builds: the same
sequential folds in the same order, so the doubles stay bit-equal to the
DuckDB oracles' list_sum folds.

Builders compose by nesting text. Where a builder puts an operand inside
a lambda body (the centroid and plane loops), its own variables carry a
``__`` prefix, so an operand naming a column cannot be captured by them;
the folds' ``x``, ``y`` and ``acc`` never enclose operand text.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_double(v: str) -> str:
    return f"transform({v}, x -> cast(x as double))"


def dot(a: str, b: str) -> str:
    """Sequential-fold dot product (deterministic order)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def l2_norm(a: str) -> str:
    return f"sqrt({dot(a, a)})"


def cosine(a: str, b: str) -> str:
    return f"({dot(a, b)} / ({l2_norm(a)} * {l2_norm(b)}))"


def sq_l2(a: str, b: str) -> str:
    """Sequential-fold squared Euclidean distance (deterministic order —
    matches DuckDB's list_sum over list_zip fold bit-for-bit)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0D,"
        f" (acc, x) -> acc + x)"
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, rank, score). Ties broken by
    neighbor_id so results are total-ordered and reproducible.
    """
    v = F.expr(as_double(f"`{vec_col}`"))
    q = queries.select(F.col(id_col).alias("query_id"), v.alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), v.alias("cv"))
    scored = c.join(F.broadcast(q))
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.select(
        "query_id", "neighbor_id", F.expr(cosine("`qv`", "`cv`")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def _hyperplanes(dim: int, planes: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (driver-side, broadcast as
    literal arrays — a few KB; never a shuffle)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def rademacher_planes_md5(dim: int, planes: int, tables: int) -> list[list[list[float]]]:
    """±1 (Rademacher) hyperplane tensor derived from md5 of the
    coordinates — sign-random-projection LSH is valid with ±1 entries
    (Achlioptas-style sparse projections), and because DuckDB's md5
    produces the same hex for the same string, a SQL oracle can rebuild
    the EXACT tensor and hash-check the full ANN output (see
    plans/vectorops.py _ANN_LSH_ORACLE). Plane component (t, p, d) is +1
    iff the first hex digit of md5('plane:t:p:d') is < 8."""
    import hashlib

    return [
        [
            [
                1.0
                if int(hashlib.md5(f"plane:{t}:{p}:{d}".encode()).hexdigest()[0], 16) < 8
                else -1.0
                for d in range(dim)
            ]
            for p in range(planes)
        ]
        for t in range(tables)
    ]


def double_array_sql(xs, depth: int) -> str:
    """SQL literal for a ``depth``-level nested list of doubles, e.g. the
    tables×planes×dim LSH tensor (3) or a k×dim centroid matrix (2).

    One ``F.expr`` call instead of one ``F.lit`` Column construction
    per value: the unrolled form costs thousands of py4j round-trips at
    PLAN BUILD time (~5 s measured for 6×8×64 planes, ~1.8 s for a
    16×32 ANN centroid matrix) before a single row moves. The JVM
    parses this string once, and ``repr`` round-trips every double
    exactly."""
    if depth == 0:
        return repr(float(xs)) + "D"
    return "array(" + ",".join(double_array_sql(x, depth - 1) for x in xs) + ")"


def lsh_signatures_all(v: str, all_planes: list[list[list[float]]]) -> str:
    """Array of per-table sign-bit bucket ids over the vector ``v``: bit
    j of table t is set iff ``dot(v, plane_tj) >= 0``, packed to a long
    with bitwise or.

    The coefficient tensor is a single literal and the loops are
    higher-order functions, so the expression tree stays O(1) in
    tables×planes instead of O(t×p×dim)."""
    return (
        f"transform({double_array_sql(all_planes, 3)}, __tbl -> aggregate("
        f"transform(__tbl, (__plane, __j) -> IF("
        f"{dot(v, '__plane')} >= 0D, shiftleft(1L, __j), 0L)),"
        f" 0L, (acc, x) -> acc | x))"
    )


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int = 8,
    tables: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
    planes_tensor: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k cosine via multi-table random-hyperplane LSH.

    ``tables`` independent signatures; a corpus row is a candidate for a
    query if they collide in any table. Candidates are exact-cosine
    re-ranked. Recall rises with tables, cost with bucket size.
    Output: (query_id, rank, neighbor_id, score).

    ``planes_tensor`` overrides the seeded Gaussian planes with a caller-
    supplied [tables][planes][dim] tensor (e.g. rademacher_planes_md5 for
    a SQL-reproducible variant).
    """
    all_planes = (
        planes_tensor
        if planes_tensor is not None
        else [_hyperplanes(dim, planes, seed + t) for t in range(tables)]
    )

    def with_buckets(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(id_alias),
            F.expr(as_double(f"`{vec_col}`")).alias(vec_alias),
        )
        return base.select(
            id_alias,
            vec_alias,
            F.posexplode(F.expr(lsh_signatures_all(f"`{vec_alias}`", all_planes))).alias(
                "table_idx", "bucket"
            ),
        )

    cb = with_buckets(corpus, "neighbor_id", "cv")
    qb = with_buckets(queries, "query_id", "qv")
    cands = cb.join(F.broadcast(qb), ["table_idx", "bucket"]).select(
        "query_id", "neighbor_id", "qv", "cv"
    )
    if exclude_self:
        cands = cands.filter(F.col("query_id") != F.col("neighbor_id"))
    cands = cands.dropDuplicates(["query_id", "neighbor_id"])
    scored = cands.select(
        "query_id", "neighbor_id", F.expr(cosine("`qv`", "`cv`")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantization + multi-probe
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_rows: int = 10_000,
    iters: int = 5,
    seed: int = 42,
) -> list[list[float]]:
    """Coarse centroids via k-means over a seeded corpus sample.

    Training runs driver-side in numpy over ≤``sample_rows`` vectors —
    centroid training needs a sample, not the corpus (FAISS does the
    same); the expensive parts (assignment, search) stay distributed.
    Deterministic: seeded sample, seeded init, fixed iterations.
    """
    import numpy as np

    sample = (
        corpus.select(F.expr(as_double(f"`{vec_col}`")).alias("v"))
        .orderBy(F.rand(seed))
        .limit(sample_rows)
        .collect()
    )
    x = np.array([r["v"] for r in sample])
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        # cosine assignment on normalized vectors
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        assign = np.argmax(xn @ cn.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents.tolist()


def nearest_centroids(v: str, centroids: list[list[float]], n: int) -> str:
    """Array of the ``n`` nearest centroid ids to the vector ``v`` by
    cosine, ties to the higher id (literal centroids — broadcast as
    constants, KBs).

    The centroid matrix is ONE parsed SQL literal + a higher-order
    transform: a per-centroid unrolled form cost k×dim py4j literal
    constructions per call (~1.8 s of driver time for 16×32) and a plan
    tree that grew with k."""
    scored = (
        f"transform({double_array_sql(centroids, 2)},"
        f" (__c, __i) -> struct({cosine(v, '__c')} AS s, __i AS c))"
    )
    return f"transform(slice(reverse(array_sort({scored})), 1, {n}), __t -> __t.c)"


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN: corpus rows live in their nearest centroid's list;
    each query probes its ``n_probe`` nearest lists and exact-re-ranks
    only those members. One shuffle on the centroid id; recall rises
    with n_probe (n_probe = n_centroids ≡ brute force).

    Output: (query_id, rank, neighbor_id, score).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_centroids=n_centroids, vec_col=vec_col, seed=seed
        )
    v = as_double(f"`{vec_col}`")
    lists = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(v).alias("cvec"),
        F.expr(f"element_at({nearest_centroids(v, centroids, 1)}, 1)").alias("centroid"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(v).alias("qvec"),
        F.explode(F.expr(nearest_centroids(v, centroids, n_probe))).alias("centroid"),
    )
    cands = lists.join(F.broadcast(probes), "centroid")
    if exclude_self:
        cands = cands.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cands.select(
        "query_id", "neighbor_id", F.expr(cosine("`qvec`", "`cvec`")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd's) + SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------


def first_k_centroids(
    corpus: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic centroid init: the k lowest-id vectors. The collect is
    k rows (KBs) — bounded regardless of corpus size."""
    rows = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(F.expr(as_double(f"`{vec_col}`")).alias("v"))
        .collect()
    )
    return [r["v"] for r in rows]


def nearest_centroid_l2(v: str, centroids: list[list[float]]) -> str:
    """struct(cluster, sq_dist) of the nearest centroid to the vector
    ``v`` by squared L2 (ties break to the lowest cluster id). Centroids
    are one parsed plan literal — shipped once with the task closure, KBs
    even at k=1024; assignment is a pure whole-stage-codegen expression
    scan, no join, no shuffle."""
    best = (
        f"element_at(array_sort(transform({double_array_sql(centroids, 2)},"
        f" (__c, __i) -> struct({sq_l2(v, '__c')} AS d, __i AS c))), 1)"
    )
    return f"struct({best}.c AS cluster, {best}.d AS sq_dist)"


# Above this many literal doubles (k·dim), the unrolled argmin expression
# risks Catalyst plan-size / codegen limits (64KB method bodies) and a
# multi-MB plan broadcast — switch to the broadcast-centroid-frame join.
_LITERAL_ASSIGN_LIMIT = 64_000


def assign_clusters(
    base: DataFrame,
    cents: list[list[float]],
    literal_limit: int = _LITERAL_ASSIGN_LIMIT,
) -> DataFrame:
    """(id, v) frame → (id, v, cluster, sq_dist), nearest centroid by L2.

    Two physical strategies for the same logical assignment:
    - k·dim ≤ ``literal_limit``: centroids inlined as plan literals, the
      whole argmin is ONE whole-stage-codegen expression — no join, no
      shuffle (the small-k fast path).
    - past the limit (SemDeDup at k≥1024): broadcast the centroid FRAME,
      cross-join (row × centroid), min(struct(d, c)) per id, join back.
      Two shuffles of (id, d, c) triples — never the vectors — in
      exchange for an O(1)-size plan at any k.
    Tie-break is identical on both paths: lexicographic (sq_dist,
    cluster) minimum, i.e. lowest cluster id wins ties (pytest-pinned
    equivalence in tests/test_similarity_extra.py)."""
    k, dim = len(cents), len(cents[0])
    if k * dim <= literal_limit:
        best = nearest_centroid_l2("`v`", cents)
        return base.select(
            "id", "v", F.expr(f"{best}.cluster").alias("cluster"),
            F.expr(f"{best}.sq_dist").alias("sq_dist"),
        )
    spark = base.sparkSession
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "c int, cv array<double>",
    )
    scored = base.crossJoin(F.broadcast(cents_df)).select(
        "id",
        F.struct(F.expr(sq_l2("`v`", "`cv`")).alias("d"), F.col("c").alias("c")).alias("dc"),
    )
    best = (
        scored.groupBy("id")
        .agg(F.min("dc").alias("b"))
        .select("id", F.col("b.c").alias("cluster"), F.col("b.d").alias("sq_dist"))
    )
    return base.join(best, "id")


def assign_clusters_two_level(
    base: DataFrame,
    k1: int,
    k2: int,
    literal_limit: int = _LITERAL_ASSIGN_LIMIT,
) -> DataFrame:
    """IVF-style hierarchical argmin: (id, v) → (id, v, cluster) with
    cluster = coarse_cell · k2 + fine_rank, giving up to k1·k2 clusters
    for n·(k1+k2) distance evaluations instead of flat assignment's
    n·k1·k2.  This is what makes corpus-proportional cluster counts
    affordable: with k ∝ n and k1 = k2 = ⌈√k⌉, assignment work is
    O(n·√n) instead of O(n²) — the flat path at k=312 on the round-8
    synthetic sf1 spent 60+ s in interpreted higher-order-function
    distance lambdas; this path cuts the evaluation count ~17×.

    Determinism: coarse centroids are the k1 lowest-id vectors; fine
    centroids are the k2 lowest-id vectors WITHIN each coarse cell
    (rank by id); both argmins tie-break lexicographically on
    (distance, centroid index) — the same discipline as
    ``assign_clusters``, so a SQL oracle replays it with two
    ROW_NUMBER() windows.
    """
    c1 = [
        r["v"] for r in base.orderBy("id").limit(k1).select("v").collect()
    ]
    # coarse cell per vector (literal argmin: k1 is ~√k, always small)
    coarse = (
        assign_clusters(base, c1, literal_limit=literal_limit)
        .select("id", "v", F.col("cluster").alias("sup"))
        # feeds the fine-centroid pick AND the fine-assign join
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("sup").orderBy("id")
    cents2 = (
        coarse.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k2)
        .select("sup", (F.col("rn") - 1).alias("r"), F.col("v").alias("cv"))
    )
    # fine argmin: each vector meets only ITS cell's ≤k2 sub-centroids
    scored = coarse.join(F.broadcast(cents2), "sup").select(
        "id",
        F.struct(F.expr(sq_l2("`v`", "`cv`")).alias("d"), F.col("r").alias("r")).alias("dc"),
    )
    best = scored.groupBy("id").agg(F.min("dc").alias("b"))
    return coarse.join(best, "id").select(
        "id", "v", (F.col("sup") * k2 + F.col("b.r")).alias("cluster")
    )


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_limit: int = _LITERAL_ASSIGN_LIMIT,
) -> tuple[list[list[float]], DataFrame, list[float]]:
    """Distributed Lloyd's k-means over an embedding column.

    Per iteration: assignment is an expression-only scan against literal
    centroids (no shuffle); the centroid update is posexplode →
    groupBy(cluster, dim) avg — one shuffle whose reduce side is k×dim
    rows with map-side partial aggregation, so at 1000 executors the
    shuffle read is trivially small. Only k×dim doubles and one inertia
    scalar cross the driver boundary per iteration; the corpus never does.

    Returns (centroids, assigned_df(id, cluster), inertia_per_iter).
    Deterministic: lowest-id init, sequential-fold distances, fixed
    iteration count (no data-dependent stopping).
    """
    cents = first_k_centroids(corpus, k, id_col=id_col, vec_col=vec_col)
    dim = len(cents[0])
    base = corpus.select(F.col(id_col).alias("id"), F.expr(as_double(f"`{vec_col}`")).alias("v"))
    inertias: list[float] = []
    for _ in range(iters):
        assigned = assign_clusters(base, cents, literal_limit=literal_limit)
        # One pass computes both the update and the inertia.
        upd = (
            assigned.select("cluster", "sq_dist", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"), F.sum(F.when(F.col("dim") == 0, F.col("sq_dist"))).alias("i"))
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        inertia = 0.0
        for r in upd:
            by_c.setdefault(r["cluster"], {})[r["dim"]] = r["m"]
            if r["i"] is not None:
                inertia += r["i"]
        inertias.append(inertia)
        cents = [
            [by_c[c][d] for d in range(dim)] if c in by_c else cents[c]
            for c in range(len(cents))
        ]
    assigned = assign_clusters(base, cents, literal_limit=literal_limit).select(
        "id", "cluster"
    )
    return cents, assigned, inertias


def semdedup(
    corpus: DataFrame,
    centroids: list[list[float]] | None = None,
    k: int = 8,
    threshold: float = 0.93,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_limit: int = _LITERAL_ASSIGN_LIMIT,
    two_level: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then within each cluster drop every vector that has a
    lower-id member at cosine ≥ threshold (keep-lowest-id policy — the
    paper keeps one representative per semantic-duplicate group).

    Scale shape: the pairwise comparison is blocked per cluster —
    corpus²/k expected work, never a global cross product; at 100 TB k
    grows with the corpus so cluster populations stay bounded, and the
    join shuffles once on the cluster id.  With ``two_level=True`` the
    assignment itself also stays subquadratic: k1 = k2 = ⌈√k⌉
    coarse/fine cells via ``assign_clusters_two_level`` (n·2√k distance
    evals instead of n·k), which is what lets k track the corpus size
    without the argmin becoming the new quadratic.

    Output: one row per vector — (id, cluster, keep).
    """
    # Normalize ONCE before the pairwise stage: cosine of pre-normalized
    # vectors is a plain dot product, so the O(cluster²) stage does half
    # the arithmetic (no per-pair norms/sqrt). The assignment still runs
    # on the raw vector — centroid distances are L2 in the original space.
    base = corpus.select(F.col(id_col).alias("id"), F.expr(as_double(f"`{vec_col}`")).alias("v"))
    if two_level:
        if centroids is not None:
            raise ValueError("two_level picks its own centroids; pass k only")
        kk = math.isqrt(k - 1) + 1 if k > 1 else 1  # ⌈√k⌉, exact
        flat_assigned = assign_clusters_two_level(
            base, kk, kk, literal_limit=literal_limit
        )
    else:
        if centroids is None:
            centroids = first_k_centroids(corpus, k, id_col=id_col, vec_col=vec_col)
        flat_assigned = assign_clusters(base, centroids, literal_limit=literal_limit)
    assigned = (
        flat_assigned.select("id", "v", "cluster")
        .withColumn("n", F.expr(l2_norm("`v`")))
        .select("id", "cluster", F.expr("transform(`v`, x -> x / `n`)").alias("vn"))
        # Pin the assignment: it feeds BOTH pair sides and the final keep
        # join, and the k-fold argmin is the expensive expression — without
        # this it re-executes once per consumer (measured 3× the wall).
        .localCheckpoint(eager=False)
    )
    a = assigned.select(F.col("id").alias("id_a"), F.col("vn").alias("va"), "cluster")
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("vn").alias("vb"), F.col("cluster").alias("cluster_b")
    )
    dropped = (
        a.join(b, (F.col("cluster") == F.col("cluster_b")) & (F.col("id_a") < F.col("id_b")))
        .filter(F.expr(dot("`va`", "`vb`")) >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return assigned.join(dropped, "id", "left").select(
        "id", "cluster", F.col("is_dup").isNull().alias("keep")
    )


def mmr_rerank(
    candidates: DataFrame,
    lam: float = 0.7,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    score_col: str = "score",
    vec_col: str = "cvec",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    greedily pick candidates maximizing
    ``lam·relevance − (1−lam)·max_cosine_to_already_picked`` — the
    diversity pass retrieval stacks run after ANN.

    Scale shape: the greedy loop is inherently sequential PER QUERY but
    embarrassingly parallel ACROSS queries, and each group is only the
    candidate list (tens of rows), so ``applyInPandas`` is the sanctioned
    tool — one shuffle on query_id, numpy inside, never the corpus.

    Input: one row per (query, candidate) with the candidate vector
    (knn_bruteforce/ann_lsh output joined back to vectors).
    Output: (query_id, rank, neighbor_id, score, mmr_score).
    """
    import pandas as pd

    out_schema = (
        f"{query_col} long, rank int, {id_col} long, "
        f"{score_col} double, mmr_score double"
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values([score_col, id_col], ascending=[False, True])
        vecs = np.array([list(v) for v in pdf[vec_col]])
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        vn = vecs / norms[:, None]
        rel = pdf[score_col].to_numpy()
        ids = pdf[id_col].to_numpy()
        qid = pdf[query_col].iloc[0]
        picked: list[int] = []
        mmr_scores: list[float] = []
        remaining = list(range(len(pdf)))
        while remaining and len(picked) < k:
            if picked:
                sim_to_picked = (vn[remaining] @ vn[picked].T).max(axis=1)
            else:
                sim_to_picked = np.zeros(len(remaining))
            mmr = lam * rel[remaining] - (1 - lam) * sim_to_picked
            # deterministic: ties break toward the lower candidate index,
            # which is the (score desc, id asc) presort order
            best = int(np.argmax(mmr))
            picked.append(remaining.pop(best))
            mmr_scores.append(float(mmr[best]))
        return pd.DataFrame(
            {
                query_col: [qid] * len(picked),
                "rank": list(range(1, len(picked) + 1)),
                id_col: ids[picked],
                score_col: rel[picked],
                "mmr_score": mmr_scores,
            }
        )

    return candidates.groupBy(query_col).applyInPandas(rerank, out_schema)


def mmr_select_exact(
    candidates: DataFrame,
    k: int = 5,
    lam_num: int = 7,
    lam_comp: int = 3,
) -> DataFrame:
    """Exact-arithmetic MMR selection — the oracle-replayable variant of
    ``mmr_rerank`` (reference intent: diversity re-rank after retrieval;
    cf. Carbonell & Goldstein 1998).

    Inputs are INTEGER micro-units: ``rel_micro`` (relevance ×1e6,
    rounded once, upstream in Catalyst) and ``sims`` — a
    ``map<neighbor_id, sim_micro>`` of pairwise candidate similarities
    quantized the same way. The greedy objective is then pure integer
    arithmetic::

        mmr_e7 = lam_num·rel_micro − lam_comp·max(sim_micro to picked)

    (units of 1e-7 with the default 7/3 split, i.e. λ=0.7), with ties
    broken toward the lower neighbor_id. Because every input is an
    integer and the recurrence is integer, an external engine (DuckDB,
    in the catalog oracle) replays the selection bit-for-bit — no
    float-accumulation drift, unlike the double-precision ``mmr_rerank``.

    Scale shape: identical to ``mmr_rerank`` — sequential per query,
    parallel across queries, one shuffle on query_id; each group is only
    the candidate list, never the corpus.

    Input: (query_id, neighbor_id, rel_micro, sims map<long,long>).
    Output: (query_id, rank, neighbor_id, rel_micro, mmr_e7).
    """
    import pandas as pd

    out_schema = "query_id long, rank int, neighbor_id long, rel_micro long, mmr_e7 long"

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rel = {
            int(n): int(r) for n, r in zip(pdf["neighbor_id"], pdf["rel_micro"])
        }
        sims = {
            int(n): ({} if s is None else {int(a): int(b) for a, b in s.items()})
            for n, s in zip(pdf["neighbor_id"], pdf["sims"])
        }
        remaining = sorted(rel)  # ascending id: strict > keeps lowest id on ties
        picked: list[int] = []
        rows: list[tuple[int, int, int, int, int]] = []
        while remaining and len(picked) < k:
            best_id: int | None = None
            best_mmr = 0
            for nid in remaining:
                if picked:
                    # Missing pairwise entries (a caller violating the
                    # complete-sims contract) count as similarity 0
                    # instead of crashing the whole Arrow stage
                    # (round-6 ADVICE).
                    penalty = max(sims[nid].get(p, 0) for p in picked)
                    mmr = lam_num * rel[nid] - lam_comp * penalty
                else:
                    mmr = lam_num * rel[nid]
                if best_id is None or mmr > best_mmr:
                    best_id, best_mmr = nid, mmr
            picked.append(best_id)
            remaining.remove(best_id)
            rows.append((qid, len(picked), best_id, rel[best_id], best_mmr))
        return pd.DataFrame(
            rows, columns=["query_id", "rank", "neighbor_id", "rel_micro", "mmr_e7"]
        )

    return candidates.groupBy("query_id").applyInPandas(greedy, out_schema)


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k: int = 5,
    const: int = 60,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Reciprocal-rank fusion of two retriever rankings (Cormack et al.
    2009): rrf(doc) = Σ scale // (const + rank) over the lists that
    contain the doc — INTEGER units so the fused score is
    engine-replayable (a float 1/(const+r) sum drifts; the floor
    division induces the same ordering).

    Inputs are (query_id, neighbor_id, rank) frames, e.g. from
    knn_bruteforce and quantize.int8_topk. Absent ranks surface as 0
    (never NULL). Output: (query_id, rank, neighbor_id, rank_a,
    rank_b, rrf_units), fused top-k per query with a total tiebreak.
    Scale shape: both inputs are top-k-bounded per query, so the
    full-outer fusion join is |queries|·k rows however large the
    corpus the retrievers scanned."""
    fa = a.select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("__ra")
    )
    fb = b.select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("__rb")
    )
    rrf = (
        F.when(F.col("__ra").isNull(), F.lit(0)).otherwise(
            F.expr(f"{scale} DIV ({const} + __ra)")
        )
        + F.when(F.col("__rb").isNull(), F.lit(0)).otherwise(
            F.expr(f"{scale} DIV ({const} + __rb)")
        )
    ).cast("bigint")
    fused = fa.join(fb, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id",
        "neighbor_id",
        F.coalesce("__ra", F.lit(0)).cast("int").alias("rank_a"),
        F.coalesce("__rb", F.lit(0)).cast("int").alias("rank_b"),
        rrf.alias("rrf_units"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_units"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "rank_a", "rank_b", "rrf_units")
    )


def mine_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    dup_threshold: float = 0.93,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-similar vectors that are NOT near-duplicates — similar
    enough to be informative negatives, dissimilar enough (< the
    SemDeDup duplicate threshold) not to be false negatives. This is
    the standard dense-retrieval negative-mining recipe (e.g. DPR /
    ANCE mine from the nearest non-positive neighbors).

    Output: (query_id, rank, neighbor_id, score), rank 1 = hardest
    surviving negative; anchors whose whole neighborhood is duplicates
    yield fewer (possibly zero) rows rather than fabricated negatives.

    Scale shape: identical to knn_bruteforce (broadcast queries over a
    corpus scan, one window per anchor) with the duplicate band
    filtered BEFORE the rank window — the filter is on the scored pair
    stream, so no extra shuffle. For corpus-scale anchor sets, feed
    the LSH/IVF candidate streams through the same filter instead of
    the exact scorer.
    """
    v = F.expr(as_double(f"`{vec_col}`"))
    q = (queries if queries is not None else corpus).select(
        F.col(id_col).alias("query_id"), v.alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), v.alias("cv"))
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(cosine("`qv`", "`cv`")).alias("score"),
        )
        .filter(F.col("score") < dup_threshold)  # drop near-dup false negatives
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )
