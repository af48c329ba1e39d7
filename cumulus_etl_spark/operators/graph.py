"""Distributed connected components — duplicate-cluster formation.

Near-dup pair generation (MinHash-LSH / SimHash, operators/dedup.py)
yields an edge list; production dedup then needs the CONNECTED
COMPONENTS of that graph to form duplicate clusters and elect one
canonical survivor per cluster (pairwise drop-the-greater loses docs
when A~B and B~C but A≁C).

Algorithm: iterative min-label propagation with a pointer-jumping step
(each round every vertex takes the min label over itself, its
neighbors, AND its current label's label). Pure DataFrame ops — two
joins + one aggregation per round, lineage truncated per round with
localCheckpoint so plans don't grow. Pointer jumping halves long-chain
depth each round, so convergence is O(log diameter) rounds, the same
bound as the classic large-star/small-star MapReduce formulation; for
dedup graphs (dense clusters, tiny diameter) it is 2-3 rounds.

At 100 TB scale every round shuffles |E|+|V| on vertex id — there is no
driver-side state beyond the loop counter and a per-round convergence
count (a scalar, not data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    vertices: DataFrame | None,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    edges_unique: bool = False,
) -> DataFrame:
    """Label every vertex with the MIN vertex id of its component.

    vertices: one row per vertex (isolated vertices keep their own id
    as the label), or None when every vertex is edge-incident — then
    the vertex set is derived from the edges AND the initial labels are
    seeded with round 1's result, min(self ∪ neighbors), computed as a
    map-side-only aggregate on the pinned edge frame (zero shuffle —
    the edges are already hash-partitioned on the group key), which
    replaces both the caller's vertex-distinct job and the first
    propagation round (r13 opt, guide §2.4). edges: undirected pairs
    (symmetrized internally). Returns (id_col, component) —
    deterministic, identical label sequence either way.

    edges_unique: caller guarantees the input pairs are already unique
    with src < dst (true for every verified-pair feed: prefix-filter and
    LSH candidates are distinct-ed before verification), so the
    symmetrized union cannot contain duplicates and the dedup shuffle is
    skipped.
    """
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    if not edges_unique:
        e = e.distinct()
    # Pinned pre-partitioned on the per-round join key: every label round
    # joins e on `a`, and a localCheckpoint preserves outputPartitioning,
    # so hash-partitioning it ONCE here removes the per-round |2E|
    # exchange entirely (the labels side still shuffles, but it is the
    # |V|-row side) — guide §2.4 "remove shuffles outright".
    e = e.repartition(F.col("a")).localCheckpoint(eager=True)

    # |V| rides the labels materialization as an observe metric (the
    # graph.py convergence pattern, r14): the broadcast guard below
    # needs the round-invariant vertex count, and collecting it during
    # the checkpoint job replaces the separate labels.count() job the
    # r13 form paid per CC invocation.
    n_obs = Observation()
    if vertices is None:
        # Seeded start: label₀(v) = min({v} ∪ N(v)) — exactly what the
        # old first round computed from identity labels, but as one
        # shuffle-free aggregation over the pinned symmetric edges
        # (every vertex appears as `a`). The loop below then begins at
        # what used to be round 2, pointer-jumping enabled.
        labels = (
            e.groupBy("a")
            .agg(F.least(F.col("a"), F.min("b")).alias("label"))
            .select(F.col("a").alias("v"), "label")
            .observe(n_obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        seeded = True
    else:
        labels = vertices.select(
            F.col(id_col).alias("v"), F.col(id_col).alias("label")
        ).observe(n_obs, F.count(F.lit(1)).alias("n"))
        labels = labels.localCheckpoint(eager=True)
        seeded = False

    # Size-guarded broadcast of the labels side (r13 opt, guide §3.1):
    # the per-round joins put the |V|-row labels frame on the build side
    # of the |2E|-row pinned edges, but a checkpointed RDD carries no
    # size stats, so AQE can never pick the broadcast itself. One cheap
    # count on the materialized checkpoint (|V| is round-invariant)
    # decides it explicitly: when labels fits the session's own
    # autoBroadcastJoinThreshold, each round's neighbor and pointer-jump
    # joins run broadcast-hash over the PINNED edge partitions — per
    # round 3 Exchange → 1 (only the label groupBy). At scale |V| blows
    # the threshold and the shuffled path below runs unchanged.
    # Same-JVM A/B (OPTIMIZATION_r13.md, identical pinned feed): broadcast
    # faster in all 4 interleaved rounds, min 3.38 → 2.42 s, signatures
    # identical.
    _thr = labels.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    # ~32 bytes/row estimate (two 64-bit ids + row overhead); _thr <= 0
    # means the user disabled auto-broadcast — respect that here too.
    # (The eager localCheckpoint above already ran the job, so the
    # observe metric is ready — no extra action.)
    bcast_labels = _thr > 0 and int(n_obs.get["n"]) * 32 <= _thr

    for it in range(max_iter):
        # min label over each vertex's neighbors; the self rows are
        # tagged so the aggregation can carry each vertex's OLD label
        # alongside the new min — that turns the convergence check into
        # an `observe` metric collected DURING the round's checkpoint
        # job instead of a separate join+count job per round (round-7
        # verdict ask 6: one job per round, down from two).
        lab_r = F.broadcast(labels) if bcast_labels else labels
        nbr = (
            e.join(lab_r, e["a"] == lab_r["v"])
            .select(F.col("b").alias("v"), "label", F.lit(False).alias("__self"))
        )
        cand = labels.select("v", "label", F.lit(True).alias("__self")).union(nbr)
        if it > 0 or seeded:
            # pointer jumping: the label of my label. Skipped in round 1
            # of an UNSEEDED start, where labels are still the identity
            # map and the self-join would only re-derive label(v)=v at
            # the cost of a shuffle; a seeded start begins past that.
            hop = (
                labels.alias("x")
                .join(lab_r.alias("y"), F.col("x.label") == F.col("y.v"))
                .select(
                    F.col("x.v").alias("v"),
                    F.col("y.label").alias("label"),
                    F.lit(False).alias("__self"),
                )
            )
            cand = cand.union(hop)
            # A SECOND pointer hop per round (label³, broadcast-join
            # only — tripling instead of doubling) was tried r14 and
            # REVERTED: the sf0.1 dedup feed still converges in the
            # same 4 rounds (fixpoint at round 3 under doubling AND
            # tripling — the tail component's min-eccentricity sits
            # where both schedules need 3 changed rounds), so the extra
            # per-round broadcast join bought nothing. See
            # OPTIMIZATION_r14.md.
        obs = Observation()
        new_labels = (
            cand.groupBy("v")
            .agg(
                F.min("label").alias("label"),
                # exactly one self row per v (labels is one-row-per-vertex),
                # so this min IS the previous round's label
                F.min(F.when(F.col("__self"), F.col("label"))).alias("__old"),
            )
            # null-safe: a vertex absent from `vertices` has no self row
            # (NULL __old) and must count as changed, not be skipped
            .observe(
                obs,
                # coalesce: sum over an EMPTY frame is NULL, which would
                # never compare equal to 0 and spin all max_iter rounds
                # on empty inputs (e.g. a pair feed with no duplicates)
                F.coalesce(
                    F.sum(
                        (~F.col("label").eqNullSafe(F.col("__old"))).cast("long")
                    ),
                    F.lit(0),
                ).alias("changed"),
            )
            .select("v", "label")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        if obs.get["changed"] == 0:
            break
    global _last_rounds
    _last_rounds = it + 1
    return labels.select(F.col("v").alias(id_col), F.col("label").alias("component"))


# Diagnostic: propagation rounds of the most recent connected_components
# call (measurement rigs read it; not part of any query result).
_last_rounds = 0


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    pairs_pinned: bool = False,
    pairs_unique: bool = False,
) -> DataFrame:
    """Cluster near-dup pairs and elect the min-id canonical per
    cluster. Returns df's rows + `cluster_id` + `is_canonical` —
    filtering on is_canonical gives the transitively-closed survivor
    set (what pairwise drop-the-greater only approximates).

    The label-propagation rounds run only over vertices incident to at
    least one pair — on a production corpus the dup graph is orders of
    magnitude smaller than the corpus, so the iterative part never
    touches the full table; isolated docs get their own id as the
    cluster label in a single left join at the end."""
    # pairs is typically an expensive frame (LSH + verify); it feeds both
    # the touched-vertex set and the edge list, so pin it once.
    # ``pairs_pinned``: callers whose pair feed is ALREADY an eager
    # checkpoint (prefix_filter_pairs) skip the redundant second
    # materialization pass.
    if not pairs_pinned:
        pairs = pairs.localCheckpoint(eager=True)
    # vertices=None: every pair-incident vertex appears in the symmetric
    # edge frame, so CC derives the vertex set AND seeds labels with the
    # first round's result in one shuffle-free aggregation — the old
    # touched-set union+distinct job and propagation round 1 both
    # disappear (r13 opt).
    comp = connected_components(
        None, pairs, id_col=id_col, src_col=pair_a, dst_col=pair_b,
        edges_unique=pairs_unique,
    )
    return df.join(comp, id_col, "left").select(
        df["*"],
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        (
            F.coalesce(F.col("component"), F.col(id_col)) == F.col(id_col)
        ).alias("is_canonical"),
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Distributed PageRank by power iteration over an edge list.

    Per iteration: join ranks to edges on src (contributions r/outdeg),
    aggregate by dst, add the teleport mass — two shuffles on vertex id,
    no driver-side data beyond the loop counter. Dangling vertices
    (no out-edges) keep receiving teleport mass; their lost rank is NOT
    redistributed (the common simplified formulation — callers needing
    stochastic completeness can renormalize the output). Lineage is
    truncated each round with localCheckpoint so the plan stays flat at
    any iteration count, exactly like connected_components above.

    Returns (id, rank).
    """
    verts = (
        edges.select(F.col(src_col).alias("id"))
        .union(edges.select(F.col(dst_col).alias("id")))
        .distinct()
    )
    n = verts.count()  # scalar; needed for the teleport term
    out_deg = edges.groupBy(F.col(src_col).alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    teleport = (1.0 - damping) / n
    for _ in range(iters):
        contribs = (
            ranks.join(out_deg, "id")
            .join(edges, F.col("id") == F.col(src_col))
            .select(F.col(dst_col).alias("id"), (F.col("rank") / F.col("outdeg")).alias("c"))
        )
        ranks = (
            verts.join(contribs.groupBy("id").agg(F.sum("c").alias("s")), "id", "left")
            .select(
                "id",
                (F.lit(teleport) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def pagerank_integer(
    edges: DataFrame,
    rounds: int = 5,
    scale: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank power iteration in EXACT integer micro-units — the
    cross-engine-replayable variant of ``pagerank`` (the MMR/BPE
    integer-recurrence playbook: every step is integer arithmetic, so
    an external engine replays the iteration bit-for-bit, no float
    accumulation drift).

    Ranks live in units of 1/scale: r0 = scale // n for every vertex,
    then per round r'(v) = T + (damp_num · Σ_incoming(r(u) // outdeg(u)))
    // damp_den with the constant teleport mass
    T = ((damp_den − damp_num) · (scale // n)) // damp_den. All values
    stay positive bigints (scale=1e12, ·85 < 2^63 — no overflow), and
    floor division is identical in Spark (DIV) and DuckDB (//) on
    positives. Floor-truncation loses ≤1 unit per division, i.e. a
    ~1e-12 relative perturbation per round — ranking-irrelevant, and
    what the oracle replays is the EXACT same truncated recurrence.

    Same scale shape as ``pagerank``: two shuffles per round on vertex
    id, per-round eager localCheckpoint keeps the plan flat at any
    round count, driver state is the loop counter + two scalars (n,
    teleport). Returns (id, rank_units bigint).
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    # Pin the working set once: edges feed the per-round join 2×rounds
    # times and verts/out_deg derive from them — without the pin every
    # round re-runs the caller's whole edge-construction lineage (the
    # kcore_peel discipline).
    edges = edges.localCheckpoint(eager=True)
    verts = (
        edges.select(F.col(src_col).alias("id"))
        .union(edges.select(F.col(dst_col).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()  # scalar; the teleport term needs it
    if n == 0:
        raise ValueError("pagerank_integer: edges is empty (no vertices)")
    r0 = scale // n
    teleport = ((damp_den - damp_num) * r0) // damp_den
    out_deg = edges.groupBy(F.col(src_col).alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("odeg")
    ).localCheckpoint(eager=True)
    ranks = verts.select("id", F.lit(r0).cast("bigint").alias("rank_units"))
    for _ in range(rounds):
        contribs = (
            ranks.join(out_deg, "id")
            .join(edges, F.col("id") == F.col(src_col))
            .select(
                F.col(dst_col).alias("id"),
                F.expr("rank_units DIV odeg").cast("bigint").alias("c"),
            )
        )
        summed = contribs.groupBy("id").agg(
            F.sum("c").cast("bigint").alias("s")
        )
        ranks = (
            verts.join(summed, "id", "left")
            .select(
                "id",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({damp_num} * coalesce(s, 0L)) DIV {damp_den}"
                    )
                ).cast("bigint").alias("rank_units"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    The classic degree-ordered compact-forward scheme: orient every edge
    from its lower (degree, id) endpoint to the higher, enumerate wedges
    from each source's oriented out-edges, and close them against the
    oriented edge set. Each triangle is found exactly once, and the
    wedge intermediate is sum_x C(outdeg_x, 2) = O(E^1.5) — bounded even
    on power-law degree skew, because high-degree hubs sit on the
    receiving end of most of their edges. Three shuffles (degree agg,
    wedge join on source, closing join on the wedge pair); nothing
    driver-side.

    The (degree, id) order rides one BIGINT ``deg * 2^32 + id`` so joins
    and comparisons stay single-column; node ids must fit in 32 bits.

    Returns (id, n_triangles) for nodes in >= 1 triangle.
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # Pinned (r13 opt): e feeds the degree agg, the id-range guard
        # below AND the two orientation joins — without the pin the
        # (possibly expensive) upstream edge derivation re-executes once
        # per job (guard count + keyed checkpoint were two full upstream
        # passes; now one).
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # The okey packing assumes ids in [0, 2^32): out-of-range ids would
    # silently corrupt the (deg, id) order AND decode to wrong ids, so
    # fail loudly instead. Checked on the post-aggregation node frame
    # (|V| rows), not the edge list, so the guard costs ~nothing.
    n_bad = deg.filter(
        (F.col("id") < 0) | (F.col("id") >= F.lit(1 << 32))
    ).count()
    if n_bad:
        raise ValueError(
            f"triangle_counts: {n_bad} node ids outside [0, 2^32) — "
            "remap ids before packing them into the degree-order key"
        )
    deg = deg.select("id", (F.col("deg") * (1 << 32) + F.col("id")).alias("okey"))
    # Orient each edge low-okey -> high-okey. The oriented edge list is
    # consumed by THREE join branches (both wedge sides + the closing
    # probe) on different keys, so exchange reuse can't dedupe it —
    # eagerly pin it once (it is post-aggregation small: |E| rows,
    # 2 longs) instead of recomputing the upstream degree join per
    # branch.
    keyed = (
        e.join(deg.withColumnRenamed("id", "a").withColumnRenamed("okey", "ka"), "a")
        .join(deg.withColumnRenamed("id", "b").withColumnRenamed("okey", "kb"), "b")
        .select(
            F.least("ka", "kb").alias("u"),
            F.greatest("ka", "kb").alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    w1 = keyed.select(F.col("u").alias("x"), F.col("v").alias("y"))
    w2 = keyed.select(F.col("u").alias("x"), F.col("v").alias("z"))
    wedges = w1.join(w2, "x").filter(F.col("y") < F.col("z"))
    closing = keyed.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = wedges.join(closing, ["y", "z"])
    nodes = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("okey"))
        .select(F.pmod(F.col("okey"), F.lit(1 << 32)).alias("id"))
    )
    return nodes.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core of an undirected graph by iterative peeling: drop every
    node with degree < k, recompute degrees, repeat. ``rounds=None``
    peels until a fixed point (one tiny count() action per round is the
    convergence probe); ``rounds=N`` runs exactly N peels — the
    deterministic bounded form a SQL oracle can replay by unrolling.

    Per round: one degree aggregation (map-side combinable) and two
    semi-joins of the edge list against the surviving nodes — all
    shuffles on node id, nothing driver-side but the convergence
    scalar. The edge list is eagerly re-pinned each round so lineage
    stays one round deep no matter how many peels run (the
    connected_components discipline).

    Returns (id, deg): surviving nodes with their in-core degree.
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("u").alias("id"))
            .unionAll(ed.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        )

    if rounds is not None and rounds <= 0:
        return degrees(e)  # zero peels = the input graph's degrees
    i = 0
    n_edges = e.count() if rounds is None else None
    while True:
        i += 1
        keep = degrees(e).filter(F.col("deg") >= k).select("id")
        nxt = (
            e.join(keep.withColumnRenamed("id", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("id", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        if rounds is None:
            n_next = nxt.count()
            done = n_next == n_edges
            n_edges = n_next
        else:
            done = i >= rounds
        e.unpersist()
        e = nxt
        if done:
            break
    return degrees(e)
