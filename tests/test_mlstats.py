"""Distributed ML sufficient-statistics and trainer tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cumulus_etl_spark.operators import textstats as T
from cumulus_etl_spark.operators.mlstats import gram_matrix, linreg_fit, logreg_train_gd
from cumulus_etl_spark.sources import table


def _featurized(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("double").alias("y"),
        T.token_count("text").cast("double").alias("n_tokens"),
        T.punct_count("text").cast("double").alias("n_punct"),
    )


def test_gram_matrix_matches_numpy(spark, sf_smoke):
    f = _featurized(spark, sf_smoke)
    xtx, xty, n = gram_matrix(f, ["n_tokens", "n_punct"], "y")
    rows = f.collect()
    X = np.array([[r["n_tokens"], r["n_punct"], 1.0] for r in rows])
    Y = np.array([r["y"] for r in rows])
    assert n == len(rows)
    assert np.allclose(np.array(xtx), X.T @ X)
    assert np.allclose(np.array(xty), X.T @ Y)


def test_linreg_fit_matches_lstsq(spark, sf_smoke):
    f = _featurized(spark, sf_smoke)
    w, r2 = linreg_fit(f, ["n_tokens", "n_punct"], "y")
    rows = f.collect()
    X = np.array([[r["n_tokens"], r["n_punct"], 1.0] for r in rows])
    Y = np.array([r["y"] for r in rows])
    ref, *_ = np.linalg.lstsq(X, Y, rcond=None)
    assert np.allclose(w, ref, rtol=1e-8)
    # n_chars is nearly linear in token count for space-joined words.
    assert r2 > 0.9


def test_logreg_loss_decreases_and_matches_reference(spark, sf_smoke):
    f = _featurized(spark, sf_smoke)
    label = (F.col("source") == "src0").cast("double")
    w, losses, std_stats = logreg_train_gd(f, ["n_tokens", "n_punct"], label, lr=0.5, iters=8)
    assert losses[-1] < losses[0]
    assert len(std_stats) == 2

    # numpy reference with identical standardization + updates
    rows = f.select("n_tokens", "n_punct", label.alias("lab")).collect()
    X = np.array([[r["n_tokens"], r["n_punct"]] for r in rows])
    Y = np.array([r["lab"] for r in rows])
    mu, sd = X.mean(axis=0), X.std(axis=0)
    sd[sd == 0] = 1.0
    Xs = np.hstack([(X - mu) / sd, np.ones((len(X), 1))])
    wr = np.zeros(3)
    n = len(X)
    for _ in range(8):
        p = 1.0 / (1.0 + np.exp(-(Xs @ wr)))
        wr = wr - 0.5 * (Xs.T @ (p - Y)) / n
    assert np.allclose(w, wr, atol=1e-8)


def test_score_logreg_and_auc_roc(spark, sf_smoke):
    f = _featurized(spark, sf_smoke)
    label = (F.col("source") == "src0").cast("double")
    w, _, std_stats = logreg_train_gd(f, ["n_tokens", "n_punct"], label, lr=0.5, iters=8)

    from cumulus_etl_spark.operators.mlstats import auc_roc, score_logreg

    scored = f.select(
        label.alias("label"),
        score_logreg(["n_tokens", "n_punct"], w, std_stats).alias("score"),
    )
    auc = auc_roc(scored)

    # reference: tie-averaged Mann-Whitney AUC in numpy
    rows = scored.collect()
    scores = np.array([r["score"] for r in rows])
    ys = np.array([r["label"] for r in rows])
    order = np.argsort(scores, kind="stable")
    ranks = np.empty(len(scores))
    sorted_scores = scores[order]
    i = 0
    while i < len(scores):
        j = i
        while j < len(scores) and sorted_scores[j] == sorted_scores[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    npos = ys.sum()
    ref = (ranks[ys == 1].sum() - npos * (npos + 1) / 2) / (npos * (len(ys) - npos))
    assert abs(auc - ref) < 1e-9
    assert 0.0 <= auc <= 1.0


def test_auc_roc_perfect_separation(spark):
    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "score double, label int"
    )
    from cumulus_etl_spark.operators.mlstats import auc_roc

    assert auc_roc(df) == 1.0


def test_train_filter_cli_end_to_end(spark, sf_smoke, tmp_path, capsys):
    import json

    from cumulus_etl_spark.cli import main

    out = str(tmp_path / "scores.parquet")
    rc = main([
        "train-filter", f"{sf_smoke}/documents.parquet", out,
        "--label-expr", "source = 'src0'", "--iters", "6",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(summary["weights"]) == {
        "n_tokens", "n_punct", "n_stopwords", "mean_word_len", "intercept"
    }
    assert 0.0 <= summary["auc"] <= 1.0
    back = spark.read.parquet(out)
    assert back.count() == summary["n_docs"]
    assert {"label", "score"} <= set(back.columns)
    s = back.agg(F.min("score").alias("lo"), F.max("score").alias("hi")).collect()[0]
    assert 0.0 <= s["lo"] and s["hi"] <= 1.0


def test_auc_rank_identity_matches_pairwise_bruteforce(spark):
    """The rank-sum AUC (as implemented by ml_auc_rank's distributed
    rank2 formulation) must equal the pairwise definition
    P(score_pos > score_neg) + 0.5*P(tie), ties included."""
    from cumulus_etl_spark.operators.corpus import global_running_sum
    from pyspark.sql import functions as F

    # scores with deliberate ties across classes
    data = [("pos", 3.0), ("pos", 2.0), ("pos", 2.0), ("pos", 0.5),
            ("neg", 2.0), ("neg", 1.0), ("neg", 0.5), ("neg", 0.1),
            ("neg", 3.0)]
    df = spark.createDataFrame(data, ["label", "score"])

    # brute force
    pos = [s for l, s in data if l == "pos"]
    neg = [s for l, s in data if l == "neg"]
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    want = wins / (len(pos) * len(neg))

    vc = df.groupBy("score").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = global_running_sum(vc, "cnt", "score", out_col="cum").select(
        "score", (2 * F.col("cum") - F.col("cnt") + 1).alias("rank2")
    )
    s2, n_pos = (
        df.filter(F.col("label") == "pos")
        .groupBy("score").agg(F.count(F.lit(1)).alias("c"))
        .join(ranked, "score")
        .agg(F.sum(F.col("c") * F.col("rank2")), F.sum("c"))
        .collect()[0]
    )
    got = (s2 - n_pos * (n_pos + 1)) / (2.0 * n_pos * len(neg))
    assert abs(got - want) < 1e-12, (got, want)


# ---- multinomial Naive Bayes ----

def test_nb_exact_python_replay(spark):
    """Replay the add-1-smoothed multinomial NB log-probability in plain
    Python, bit-for-bit."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from cumulus_etl_spark.operators.mlstats import nb_score, nb_train

    rows = [
        (0, "spam spam eggs", "spam"),
        (1, "spam spam spam ham", "spam"),
        (2, "eggs ham toast", "ok"),
        (3, "toast toast jam", "ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y string")
    wc, stats = nb_train(docs, "text", F.col("y"))
    got = {
        (r["id"], r["label"]): r["log_prob"]
        for r in nb_score(docs, wc, stats, "doc_id", "text").collect()
    }

    # python model
    counts, totals, ndocs = {}, {}, {}
    for _, text, y in rows:
        ndocs[y] = ndocs.get(y, 0) + 1
        for w in text.split():
            counts[(y, w)] = counts.get((y, w), 0) + 1
            totals[y] = totals.get(y, 0) + 1
    vocab = len({w for (_, w) in counts})
    total_docs = sum(ndocs.values())

    def logp(text, y):
        s = math.log(ndocs[y] / total_docs)
        ws = text.split()
        s -= len(ws) * math.log(totals[y] + vocab)
        for w in ws:
            c = counts.get((y, w), 0)
            if c:
                s += math.log(c + 1.0)
        return s

    for (i, text, _y) in rows:
        for lab in ("spam", "ok"):
            assert got[(i, lab)] == pytest.approx(logp(text, lab), abs=1e-12)

    # and the argmax recovers the training labels on this separable toy
    pred = {
        r["id"]: r["label"]
        for r in nb_score(docs, wc, stats, "doc_id", "text")
        .filter(F.col("rank") == 1).collect()
    }
    assert pred == {0: "spam", 1: "spam", 2: "ok", 3: "ok"}


def test_nb_empty_docs_get_prior_only_predictions(spark):
    """Empty/whitespace-only documents must not vanish from the output:
    they carry no token evidence, so their score is the class log-prior
    and the predicted label is the majority class."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from cumulus_etl_spark.operators.mlstats import nb_score, nb_train

    rows = [
        (0, "spam spam eggs", "spam"),
        (1, "spam ham", "spam"),
        (2, "toast jam", "ok"),
        (3, "", "ok"),          # empty text
        (4, "   ", "ok"),       # whitespace-only text
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y string")
    wc, stats = nb_train(docs, "text", F.col("y"))
    scored = nb_score(docs, wc, stats, "doc_id", "text")
    # one row per (doc, label) for ALL five docs, including the empty ones
    assert scored.count() == 5 * 2
    got = {
        (r["id"], r["label"]): r["log_prob"]
        for r in scored.collect()
    }
    for i in (3, 4):
        assert got[(i, "spam")] == pytest.approx(math.log(2 / 5), abs=1e-12)
        assert got[(i, "ok")] == pytest.approx(math.log(3 / 5), abs=1e-12)
    pred = {
        r["id"]: r["label"]
        for r in scored.filter(F.col("rank") == 1).collect()
    }
    assert pred[3] == "ok" and pred[4] == "ok"  # the majority prior wins


def test_nb_multiclass_and_cli(spark, sf_smoke, tmp_path, capsys):
    import json

    from cumulus_etl_spark.cli import main

    out = str(tmp_path / "scores")
    rc = main([
        "train-filter", f"{sf_smoke}/documents.parquet", out,
        "--label-expr", "source", "--model", "nb",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["model"] == "nb"
    assert len(rep["classes"]) >= 2  # multiclass: one class per source
    assert 0.0 <= rep["train_accuracy"] <= 1.0
    scored = spark.read.parquet(out)
    assert scored.count() == rep["n_docs"]
    assert set(scored.columns) == {"doc_id", "predicted", "log_prob"}


def test_nb_classify_rig_fixed_label_space(spark):
    """The bench rig must classify into a FIXED label space (NB scoring
    cost is words x classes; a class count that grows with the data
    would measure label-space growth, not corpus scaling)."""
    from cumulus_etl_spark.plans.catalog import BENCH_RIGS

    row = BENCH_RIGS["nb_classify_throughput"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row["n_docs"] == 500
    assert 1 <= row["n_classes_predicted"] <= 8
    assert 0 <= row["n_correct"] <= row["n_docs"]


def test_nb_replay_on_random_corpora(spark):
    """Seeded random corpora: the distributed NB log-probs equal the
    Python model on arbitrary word/label mixes (multiclass, unseen
    words, repeated tokens)."""
    import math
    import random

    import pytest
    from pyspark.sql import functions as F

    from cumulus_etl_spark.operators.mlstats import nb_score, nb_train

    rng = random.Random(11)
    vocab_pool = [f"w{i}" for i in range(12)]
    labels_pool = ["a", "b", "c"]
    for case in range(3):
        rows = [
            (
                i,
                " ".join(rng.choices(vocab_pool, k=rng.randint(1, 9))),
                rng.choice(labels_pool),
            )
            for i in range(rng.randint(4, 25))
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, y string")
        wc, stats = nb_train(docs, "text", F.col("y"))
        got = {
            (r["id"], r["label"]): r["log_prob"]
            for r in nb_score(docs, wc, stats, "doc_id", "text").collect()
        }

        counts, totals, ndocs = {}, {}, {}
        for _, text, y in rows:
            ndocs[y] = ndocs.get(y, 0) + 1
            for w in text.split():
                counts[(y, w)] = counts.get((y, w), 0) + 1
                totals[y] = totals.get(y, 0) + 1
        vocab = len({w for (_, w) in counts})
        total_docs = sum(ndocs.values())
        for (i, text, _y) in rows:
            for lab in ndocs:
                s = math.log(ndocs[lab] / total_docs)
                ws = text.split()
                s -= len(ws) * math.log(totals.get(lab, 0) + vocab)
                for w in ws:
                    c = counts.get((lab, w), 0)
                    if c:
                        s += math.log(c + 1.0)
                assert got[(i, lab)] == pytest.approx(s, abs=1e-10), (case, i, lab)


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
