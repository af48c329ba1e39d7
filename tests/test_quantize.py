"""Int8 embedding quantization operator (operators/quantize.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cumulus_etl_spark.operators.quantize import dim_scales, explode_dims, quantize_int8


def _emb(spark):
    return spark.createDataFrame(
        [
            (0, [1.0, -2.0, 0.5]),
            (1, [0.5, 4.0, -0.25]),
            (2, [-1.0, 0.0, 0.125]),
        ],
        "vec_id long, embedding array<float>",
    )


def test_codes_bounded_and_extremes_saturate(spark):
    q = quantize_int8(_emb(spark))
    rows = {(r["vec_id"], r["dim"]): r for r in q.collect()}
    codes = [r["code"] for r in rows.values()]
    assert all(-127 <= c <= 127 for c in codes)
    # the per-dim absolute max always quantizes to ±127
    assert rows[(0, 0)]["code"] == 127     # x=1.0, amax=1.0
    assert rows[(1, 1)]["code"] == 127     # x=4.0, amax=4.0
    assert rows[(0, 1)]["code"] == -64     # -2/4*127 = -63.5 → half-away → -64
    assert rows[(2, 2)]["code"] == 32      # 0.125/0.5*127 = 31.75 → 32


def test_scales_are_per_dimension_abs_max(spark):
    scales = {r["dim"]: r["amax"] for r in dim_scales(explode_dims(_emb(spark))).collect()}
    assert scales == {0: 1.0, 1: 4.0, 2: 0.5}


def test_reconstruction_error_bounded_by_half_step(spark):
    """|x - code*amax/127| ≤ amax/254 + ulp for every element — the
    defining property of symmetric round-to-nearest quantization."""
    q = quantize_int8(_emb(spark)).withColumn(
        "err", F.abs(F.col("x") - F.col("code") * F.col("amax") / F.lit(127.0))
    )
    bad = q.filter(F.col("err") > F.col("amax") / F.lit(254.0) + F.lit(1e-12)).count()
    assert bad == 0


def test_zero_vector_dimension_yields_null_codes(spark):
    """amax=0 (an all-zero dimension) must not divide-by-zero crash;
    codes come back NULL and the caller decides (drop or keep raw)."""
    emb = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [0.0, -1.0])], "vec_id long, embedding array<float>"
    )
    rows = quantize_int8(emb).filter(F.col("dim") == 0).collect()
    assert all(r["code"] is None for r in rows)


def test_int8_topk_approximates_float_dot(spark):
    """The int8 score must track the true float inner product within the
    quantization error bound for every scored pair."""
    import random

    from cumulus_etl_spark.operators.quantize import int8_topk
    from cumulus_etl_spark.operators.similarity import as_double, dot

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 3)

    approx = int8_topk(emb, queries, k=29)
    a = emb.select(F.col("vec_id").alias("query_id"), F.expr(as_double("`embedding`")).alias("qv"))
    b = emb.select(F.col("vec_id").alias("neighbor_id"), F.expr(as_double("`embedding`")).alias("cv"))
    exact = (
        a.filter(F.col("query_id") < 3)
        .join(b, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.expr(dot("`qv`", "`cv`")).alias("true_dot"))
    )
    joined = approx.join(exact, ["query_id", "neighbor_id"]).collect()
    assert len(joined) == 3 * 29
    # error bound: |err| <= sum_d amax_d/254 * (|q_d| + |c_d|) <= 16 * 2/254 * 4 ≈ 0.5
    for r in joined:
        assert abs(r["score"] - r["true_dot"]) < 0.6, r


def _random_emb(spark, n=40, dim=12, seed=3):
    import random

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_int8_full_probe_equals_quantized_scan(spark):
    """n_probe == n_centroids must reproduce the exact quantized full
    scan: IVF only sheds candidates, never changes scores."""
    from cumulus_etl_spark.operators.quantize import ann_ivf_int8, int8_topk

    emb = _random_emb(spark)
    queries = emb.filter(F.col("vec_id") < 2)
    full = int8_topk(emb, queries, k=5)
    ivf = ann_ivf_int8(emb, queries, k=5, n_centroids=4, n_probe=4)
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], round(r["score"], 9))
    assert sorted(map(key, full.collect())) == sorted(map(key, ivf.collect()))


def test_ivf_int8_partial_probe_recall(spark):
    """Probing half the lists on clustered data keeps most of the top-k."""
    import random

    from cumulus_etl_spark.operators.quantize import ann_ivf_int8, int8_topk

    rng = random.Random(9)
    rows = []
    for i in range(60):  # 4 equal-norm directional clusters (dot ≈ cosine)
        center = [0.0] * 8
        center[i % 4] = 10.0
        rows.append((i, [c + rng.uniform(-0.5, 0.5) for c in center]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 3)
    full = {(r["query_id"], r["neighbor_id"]) for r in int8_topk(emb, queries, k=5).collect()}
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivf_int8(emb, queries, k=5, n_centroids=4, n_probe=2).collect()
    }
    recall = len(full & ivf) / len(full)
    assert recall >= 0.8, recall


def test_pq_encode_codes_bounded_and_deterministic(spark, sf_smoke):
    from cumulus_etl_spark.operators.quantize import pq_codebooks_seeded, pq_encode
    from cumulus_etl_spark.sources import table

    emb = table(spark, sf_smoke, "embeddings")
    books = pq_codebooks_seeded(emb, n_sub=16, k=32)
    assert len(books) == 16 and len(books[0]) == 32 and len(books[0][0]) == 4
    enc1 = {r["id"]: tuple(r["codes"]) for r in pq_encode(emb, books).collect()}
    enc2 = {r["id"]: tuple(r["codes"]) for r in pq_encode(emb, books).collect()}
    assert enc1 == enc2
    assert all(len(c) == 16 and all(0 <= j < 32 for j in c) for c in enc1.values())


def test_pq_adc_recall_vs_exact_l2(spark, sf_correct):
    """PQ ADC top-5 overlaps exact squared-L2 top-5 well above chance
    (recall is data-limited on this near-uniform synthetic corpus —
    trained codebooks measure within noise of seeded ones here)."""
    from pyspark.sql import Window

    from cumulus_etl_spark.operators.quantize import pq_adc_topk, pq_codebooks_seeded
    from cumulus_etl_spark.operators.similarity import as_double, sq_l2
    from cumulus_etl_spark.sources import table

    emb = table(spark, sf_correct, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    books = pq_codebooks_seeded(emb, n_sub=16, k=32)
    pq = {(r["query_id"], r["neighbor_id"])
          for r in pq_adc_topk(emb, q, books, k=5).collect()}
    a = q.select(F.col("vec_id").alias("query_id"), F.expr(as_double("`embedding`")).alias("qv"))
    b = emb.select(F.col("vec_id").alias("neighbor_id"), F.expr(as_double("`embedding`")).alias("cv"))
    pairs = b.crossJoin(F.broadcast(a)).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             pairs.select("query_id", "neighbor_id", F.expr(sq_l2("`qv`", "`cv`")).alias("d"))
             .withColumn("r", F.row_number().over(w)).filter("r <= 5").collect()}
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.4, recall  # chance level is 5/499 ≈ 0.01


def test_pq_trained_codebooks_deterministic(spark, sf_smoke):
    from cumulus_etl_spark.operators.quantize import pq_codebooks_trained
    from cumulus_etl_spark.sources import table

    emb = table(spark, sf_smoke, "embeddings")
    b1 = pq_codebooks_trained(emb, n_sub=8, k=8, iters=3)
    b2 = pq_codebooks_trained(emb, n_sub=8, k=8, iters=3)
    assert b1 == b2
