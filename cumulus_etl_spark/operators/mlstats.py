"""Distributed ML-training primitives: sufficient statistics + trainers.

The classic large-scale pattern: the cluster computes a one-pass,
fixed-size sufficient statistic (Gram matrix / gradient vector) with
map-side partial aggregation, and the driver does the O(d³) solve on a
d×d matrix — the corpus never leaves the executors, the driver never
holds more than d² scalars. Quality-classifier training for corpus
filtering (e.g. the fastText/logreg filters used for pretraining-data
selection) is exactly this shape.

Reference scope: the reference ETL (cumulus-etl) has no trainer; this is
part of the beyond-parity training-data surface, same tier as dedup/
similarity (SURVEY §2.11+).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cumulus_etl_spark.functions import check_literal_parsing, sql_ident
from cumulus_etl_spark.operators.dedup import tokens


def _xcols(features: list[str]) -> list[Column]:
    return [F.col(c).cast("double") for c in features]


def gram_matrix(
    df: DataFrame, features: list[str], target: str
) -> tuple[list[list[float]], list[float], int]:
    """X'X, X'y and n in ONE distributed pass (an intercept column of 1s
    is appended automatically).

    One aggregation with (d+1)(d+2)/2 + (d+1) sum expressions — partial
    aggregation makes the shuffle a single row per partition; the driver
    receives O(d²) scalars regardless of corpus size.
    """
    xs = _xcols(features) + [F.lit(1.0)]
    y = F.col(target).cast("double")
    d = len(xs)
    aggs = []
    for i in range(d):
        for j in range(i, d):
            aggs.append(F.sum(xs[i] * xs[j]).alias(f"xx_{i}_{j}"))
    for i in range(d):
        aggs.append(F.sum(xs[i] * y).alias(f"xy_{i}"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    row = df.agg(*aggs).collect()[0]
    xtx = [[0.0] * d for _ in range(d)]
    for i in range(d):
        for j in range(i, d):
            xtx[i][j] = xtx[j][i] = float(row[f"xx_{i}_{j}"])
    xty = [float(row[f"xy_{i}"]) for i in range(d)]
    return xtx, xty, int(row["n"])


def linreg_fit(
    df: DataFrame, features: list[str], target: str
) -> tuple[list[float], float]:
    """Exact least-squares fit via normal equations: the Gram pass above,
    then a driver-side numpy solve (d×d, microseconds), then ONE more
    distributed pass for R². Two corpus scans total, no iteration.

    Returns (weights [features..., intercept], r_squared).
    """
    import numpy as np

    xtx, xty, _ = gram_matrix(df, features, target)
    # pinv, not solve: a degenerate feature (constant zero column, exact
    # collinearity) makes X'X singular; pinv(X'X)·X'y is the minimum-norm
    # least-squares solution, identical to np.linalg.lstsq on raw X.
    w = np.linalg.pinv(np.array(xtx)) @ np.array(xty)
    xs = _xcols(features) + [F.lit(1.0)]
    y = F.col(target).cast("double")
    pred = sum((float(w[i]) * xs[i] for i in range(len(xs))), F.lit(0.0))
    stats = df.agg(
        F.sum((y - pred) * (y - pred)).alias("ss_res"),
        F.sum(y * y).alias("yy"),
        F.sum(y).alias("ys"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    ss_tot = float(stats["yy"]) - float(stats["ys"]) ** 2 / stats["n"]
    r2 = 1.0 - float(stats["ss_res"]) / ss_tot if ss_tot > 0 else float("nan")
    return [float(v) for v in w], r2


def logreg_train_gd(
    df: DataFrame,
    features: list[str],
    label: Column,
    lr: float = 0.1,
    iters: int = 20,
    standardize: bool = True,
) -> tuple[list[float], list[float], list[tuple[float, float]] | None]:
    """Full-batch logistic regression by gradient descent — the quality-
    classifier trainer for corpus filtering.

    Per iteration: weights broadcast as plan literals, ONE aggregation
    computes the d+1 gradient sums and the log-loss (map-side combined;
    the shuffle is one row per partition); only d+2 scalars reach the
    driver per iteration. Feature standardization (recommended: raw count
    features have wildly different scales) adds one up-front stats pass.

    Returns (weights [features..., intercept], loss_per_iter,
    standardize_stats) — pass the stats to ``score_logreg`` so inference
    reproduces the training-time feature scaling.
    """
    import math

    xs_raw = _xcols(features)
    # A NULL feature/label would be skipped by F.sum but still counted in
    # n, silently diluting the gradient and loss — drop those rows first
    # so n and the sums see the same population.
    notnull = label.isNotNull()
    for x in xs_raw:
        notnull = notnull & x.isNotNull()
    df = df.filter(notnull)
    std_stats: list[tuple[float, float]] | None = None
    if standardize:
        stats = df.agg(
            *[F.avg(x).alias(f"m{i}") for i, x in enumerate(xs_raw)],
            *[F.stddev_pop(x).alias(f"s{i}") for i, x in enumerate(xs_raw)],
        ).collect()[0]
        std_stats = [
            (float(stats[f"m{i}"]), float(stats[f"s{i}"])) for i in range(len(xs_raw))
        ]
        xs = [
            (x - m) / (s or 1.0) for x, (m, s) in zip(xs_raw, std_stats)
        ]
    else:
        xs = xs_raw
    xs = xs + [F.lit(1.0)]
    d = len(xs)
    yv = label.cast("double")
    w = [0.0] * d
    losses: list[float] = []
    n = df.count()
    for _ in range(iters):
        z = sum((float(w[i]) * xs[i] for i in range(d)), F.lit(0.0))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - yv
        eps = F.lit(1e-12)
        row = df.agg(
            *[F.sum(err * xs[i]).alias(f"g{i}") for i in range(d)],
            F.sum(
                -(yv * F.log(p + eps) + (F.lit(1.0) - yv) * F.log(F.lit(1.0) - p + eps))
            ).alias("loss"),
        ).collect()[0]
        losses.append(float(row["loss"]) / n)
        w = [w[i] - lr * float(row[f"g{i}"]) / n for i in range(d)]
    if math.isnan(losses[-1]):
        raise ValueError("logreg_train_gd diverged; lower lr")
    return w, losses, std_stats


def score_logreg(
    features: list[str], weights: list[float], standardize_stats=None
) -> Column:
    """Sigmoid score column for trained weights (weights[-1] = intercept).
    ``standardize_stats`` is the [(mean, std), ...] used at train time."""
    xs = _xcols(features)
    if standardize_stats is not None:
        xs = [
            (x - m) / (s or 1.0) for x, (m, s) in zip(xs, standardize_stats)
        ]
    z = sum(
        (float(weights[i]) * x for i, x in enumerate(xs)), F.lit(float(weights[-1]))
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def auc_roc(scored: DataFrame, score_col: str = "score", label_col: str = "label") -> float:
    """Exact ROC-AUC via the rank statistic (Mann-Whitney U).

    Global ranks come from the distributed prefix sum
    (operators/corpus.py:global_running_sum — range partition + local
    window + broadcast offsets), NOT a global Window.orderBy, which would
    funnel the whole frame through one task. Ties: the prefix sum's
    default RANGE frame gives every row of a tied score group the same
    cum = count of rows ≤ that score (the group's upper bound U), and the
    tie-averaged rank is U − (g−1)/2 for group size g. One extra shuffle
    on the score + a #partitions-sized driver fold."""
    from cumulus_etl_spark.operators.corpus import global_running_sum

    base = scored.select(
        F.col(score_col).alias("__s"),
        F.col(label_col).cast("double").alias("__y"),
        F.lit(1).alias("__one"),
    )
    ranked = global_running_sum(base, "__one", "__s", out_col="__rank")
    per_score = ranked.groupBy("__s").agg(
        (
            F.max(F.col("__rank").cast("double"))
            - (F.count(F.lit(1)).cast("double") - 1) / 2.0
        ).alias("r"),
        F.sum("__y").alias("npos_g"),
    )
    agg = per_score.agg(
        F.sum(F.col("npos_g") * F.col("r")).alias("rpos"),
        F.sum("npos_g").alias("npos"),
    ).collect()[0]
    n = scored.count()
    npos = int(agg["npos"] or 0)
    nneg = n - npos
    if npos == 0 or nneg == 0:
        return float("nan")
    return (float(agg["rpos"]) - npos * (npos + 1) / 2.0) / (npos * nneg)


# ---- Multinomial Naive Bayes (the classic scalable text classifier) ----

def nb_train(
    docs: DataFrame,
    text_col: str,
    label: Column,
) -> tuple[DataFrame, DataFrame]:
    """Train multinomial Naive Bayes with add-1 smoothing in TWO hash
    aggregations — the textbook scalable text classifier (the same
    family as fastText's linear baseline for pretraining-data domain/
    quality labeling).

    Returns ``(word_counts, label_stats)``:

    - word_counts: (label, word, c) — token occurrences per class;
    - label_stats: (label, n_docs, n_tokens, vocab) — per-class doc and
      token totals plus the GLOBAL distinct-word count replicated per
      row (so scoring needs no extra pass).

    Scale shape: the (label, word) aggregation map-side-combines to the
    per-class vocabulary size; nothing is collected to the driver."""
    # No parallelism floor (r14): the split+explode below the first
    # exchange is too light to amortize the floor's repartition —
    # same-JVM interleaved A/B (OPTIMIZATION_r14.md §1): nb rig floor ON min
    # 2.57 s vs OFF 2.17 s, signatures identical.
    w = docs.select(
        label.cast("string").alias("label"),
        F.explode(F.split(F.lower(F.trim(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    word_counts = w.groupBy("label", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # Pin the model: the explode+aggregate over every token is the
    # expensive subtree, and it feeds THREE consumers (the vocab count
    # below, the per-label totals, and the scoring join) — unpinned,
    # Catalyst re-executes the corpus scan + explode + shuffle once per
    # consumer (the r13 before-plan shows the documents scan 4×). The
    # pinned frame is model-sized (|classes|·|vocab| rows), never
    # corpus-sized. (guide §1.2/§5: don't recompute what you can hold.)
    word_counts = word_counts.localCheckpoint(eager=True)
    vocab = word_counts.select("word").distinct().count()
    per_label = word_counts.groupBy("label").agg(
        F.sum("c").cast("bigint").alias("n_tokens")
    )
    n_docs = docs.groupBy(label.cast("string").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    label_stats = n_docs.join(per_label, "label", "left").select(
        "label",
        "n_docs",
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.lit(vocab).cast("bigint").alias("vocab"),
    )
    return word_counts, label_stats


def nb_score(
    docs: DataFrame,
    word_counts: DataFrame,
    label_stats: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Log-space NB scoring; returns (id, label, log_prob, rank) with
    rank 1 = predicted class (ties to the lexicographically first
    label, so predictions are a total order).

    Uses the smoothing identity that makes absent (word, label) pairs
    FREE: with add-1 smoothing,

        log P(d | l) = -n_d·log(T_l + V) + Σ_{w∈d} log(c_{w,l} + 1)

    and the sum's terms vanish where c = 0 (log 1), so only EXISTING
    model entries join — the score needs an inner join on word plus one
    small cross join with the per-label totals, never a dense
    |doc words| × |labels| fill-in.

    Every input id gets a prediction: token counts are left-joined onto
    the full id set with n_d = 0 for empty/whitespace-only documents,
    which therefore score prior-only (log P(l)) instead of silently
    dropping out of the output (and out of any accuracy denominator)."""
    from pyspark.sql.window import Window

    # No parallelism floor (r14): see nb_train — A/B-measured loss.
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    # Per-doc token counts as a PROJECTION (size of the filtered split
    # array) summed per id — same numbers as counting the exploded
    # tokens (empty/whitespace-only and null texts both give 0), but
    # with no second explode of the corpus, no token-sized shuffle, and
    # no extra join (guide §2.3 aggregate-before-shuffle / §4 prefer
    # expressions).
    check_literal_parsing(docs.sparkSession)
    n_tok_row = F.expr(f"CAST(size(filter({tokens(sql_ident(text_col))}, __w -> __w != '')) AS DOUBLE)")
    doc_len = (
        docs.select(F.col(id_col).alias("id"), n_tok_row.alias("__n"))
        .groupBy("id")
        .agg(F.coalesce(F.sum("__n"), F.lit(0.0)).alias("n_d"))
    )
    hits = (
        toks.join(word_counts, "word")
        .groupBy("id", "label")
        .agg(F.sum(F.log(F.col("c").cast("double") + 1.0)).alias("hit_sum"))
    )
    total_docs = label_stats.agg(F.sum("n_docs")).collect()[0][0]
    base = doc_len.crossJoin(F.broadcast(label_stats)).select(
        "id",
        "label",
        (
            F.log(F.col("n_docs").cast("double") / F.lit(float(total_docs)))
            - F.col("n_d") * F.log(F.col("n_tokens").cast("double") + F.col("vocab"))
        ).alias("base"),
    )
    scored = base.join(hits, ["id", "label"], "left").select(
        "id",
        "label",
        (F.col("base") + F.coalesce("hit_sum", F.lit(0.0))).alias("log_prob"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("log_prob"), F.asc("label"))
    return scored.withColumn("rank", F.row_number().over(w))
