"""Corpus-prep pipeline tests (operators/corpus.py) and the text
operators it builds on: dedup (operators/dedup.py), BPE and LM scoring
(operators/textstats.py)."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from cumulus_etl_spark.operators.corpus import (
    pack_by_token_budget,
    prepare_corpus,
    token_budget_summary,
)
from tests.conftest import SF_SMOKE as SF


def test_pack_by_token_budget_matches_sequential(spark):
    """Distributed prefix-sum sharding == plain sequential packing,
    across many partitions."""
    rng = random.Random(3)
    rows = [(i, rng.randrange(1, 500)) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int").repartition(16)
    out = {r["doc_id"]: r["shard_id"] for r in pack_by_token_budget(df, budget=5000).collect()}

    cum = 0
    for i, tok in rows:  # doc_id order
        assert out[i] == (cum // 5000), f"doc {i}"
        cum += tok
    # shards are contiguous 0..max
    assert sorted(set(out.values())) == list(range(max(out.values()) + 1))


def test_token_budget_summary_totals(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100)], "doc_id long, n_tokens int"
    )
    sharded = pack_by_token_budget(df, budget=150)
    got = {r["shard_id"]: (r["n_docs"], r["total_tokens"])
           for r in token_budget_summary(sharded).collect()}
    # doc1 fills 0..100, doc2 starts at 100 (<150 → shard 0), doc3 at 200 → shard 1
    assert got == {0: (2, 200), 1: (1, 100)}


def test_prepare_corpus_drops_short_and_dups(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog walk to the park in the morning light", "en", "a"),
            (2, "the cat and the dog walk to the park in the morning light", "en", "a"),
            (3, "short", "en", "a"),
            (4, "a completely different long document about the sea and the sky "
                "that is long enough to keep for training purposes", "en", "a"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    survivors = sorted(r["doc_id"] for r in prepare_corpus(docs).collect())
    assert survivors == [1, 4]  # 2 = exact dup, 3 = too short


def test_decontaminate_flags_overlap(spark):
    from cumulus_etl_spark.operators.corpus import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # shares the 8-gram "alpha beta ... theta" with the benchmark
            (1, "prefix alpha beta gamma delta epsilon zeta eta theta suffix"),
            # no 8-gram overlap
            (2, "one two three four five six seven eight nine ten"),
            # too short for any 8-gram
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_contaminated"], r["contaminated"])
           for r in decontaminate(corpus, bench, ngram=8).collect()}
    assert got[1] == (1, True)
    assert got[2] == (0, False)
    assert got[3] == (0, False)


def test_passage_dedup_keeps_first_occurrence(spark):
    from cumulus_etl_spark.operators.corpus import passage_dedup

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"  # one full 8-word passage
    docs = spark.createDataFrame(
        [
            (1, shared + " a1 a2 a3 a4 a5 a6 a7 a8"),
            (2, shared + " b1 b2 b3 b4 b5 b6 b7 b8"),  # first passage is a dup
            (3, shared),  # entirely duplicated → nothing kept
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in passage_dedup(docs, chunk_words=8).collect()}
    assert (out[1]["n_chunks"], out[1]["n_kept"]) == (2, 2)
    assert out[1]["clean_text"] == shared + " a1 a2 a3 a4 a5 a6 a7 a8"
    assert (out[2]["n_chunks"], out[2]["n_kept"]) == (2, 1)
    assert out[2]["clean_text"] == "b1 b2 b3 b4 b5 b6 b7 b8"
    assert (out[3]["n_chunks"], out[3]["n_kept"]) == (1, 0)
    assert out[3]["clean_text"] is None


def test_corpus_cli_end_to_end(spark, tmp_path, capsys):
    """corpus verb: parquet in → cleaned, sharded parquet out."""
    import json

    from cumulus_etl_spark.cli import main

    src = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "corpus-out")
    rows = [(i, f"the quick brown fox number {i} jumps over the lazy dog "
                f"and walks to the market in the town of {i}", "en", "s")
            for i in range(30)]
    rows.append((99, "dup " * 3, "en", "s"))  # too short → dropped
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(src)

    rc = main(["corpus", src, out, "--shard-tokens", "200"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["input_docs"] == 31
    assert summary["surviving_docs"] == 30
    assert len(summary["shards"]) >= 2
    back = spark.read.parquet(out)
    assert back.count() == 30 and "shard_id" in back.columns


def test_pack_sequences_invariants(spark):
    """Every sequence holds exactly seq_len tokens except the last, and
    concatenating sequences in order reproduces the full token stream."""
    from cumulus_etl_spark.operators.corpus import pack_sequences

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "f g"),
            (3, "h i j k l m n"),
            (4, ""),          # empty doc vanishes
            (5, "o"),
        ],
        "doc_id long, text string",
    )
    out = sorted(
        ((r["seq_id"], r["n_tokens"], r["text"]) for r in pack_sequences(docs, seq_len=4).collect())
    )
    stream = "a b c d e f g h i j k l m n o".split()
    assert [t for _, t, _ in out[:-1]] == [4] * (len(out) - 1)
    assert sum(t for _, t, _ in out) == len(stream)
    assert " ".join(txt for _, _, txt in out).split() == stream
    # boundary check: doc 1 straddles sequences 0 and 1
    assert out[0][2] == "a b c d" and out[1][2].startswith("e f g")


def test_corpus_cli_with_sequence_packing(spark, tmp_path, capsys):
    """corpus --seq-len also emits fixed-length packed sequences."""
    import json

    from cumulus_etl_spark.cli import main

    src = str(tmp_path / "docs2.parquet")
    out = str(tmp_path / "corpus-out2")
    para = (
        "the quiet morning train carries many people over the old stone "
        "bridge and into the busy station near the river while the city "
        "slowly wakes to another working day and the market sellers open "
        "their stalls along the narrow streets calling out prices for "
        "bread fruit and fresh fish as children walk to school past the "
        "tall clock tower that has watched over the square for a hundred "
        "years and more"
    )  # 74 tokens → sequences of 32, 32, 10 after dedup to one survivor
    rows = [(i, f"{para} copy {i}", "en", "s") for i in range(20)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(src)

    rc = main(["corpus", src, out, "--shard-tokens", "500", "--seq-len", "32"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["sequences"]["seq_len"] == 32
    seqs = spark.read.parquet(summary["sequences"]["output"])
    assert seqs.count() == summary["sequences"]["n_sequences"] > 0
    lengths = [r["n_tokens"] for r in seqs.orderBy("seq_id").collect()]
    assert all(n == 32 for n in lengths[:-1]) and 0 < lengths[-1] <= 32


def test_hash_split_partitions_completely_and_deterministically(spark, sf_correct):
    from cumulus_etl_spark.operators.corpus import hash_split
    from cumulus_etl_spark.sources import table
    from pyspark.sql import functions as F

    d = table(spark, sf_correct, "documents")
    s1 = hash_split(d)
    counts = {r["split"]: r["n"] for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == d.count()
    # Re-evaluation (and a different partitioning) yields the same assignment.
    s2 = hash_split(d.repartition(7))
    a1 = sorted((r["doc_id"], r["split"]) for r in s1.select("doc_id", "split").collect())
    a2 = sorted((r["doc_id"], r["split"]) for r in s2.select("doc_id", "split").collect())
    assert a1 == a2
    # Train dominates at the configured 98%.
    assert counts.get("train", 0) >= 0.9 * sum(counts.values())


def test_chunk_overlap_covers_every_word_with_correct_sizes(spark):
    from cumulus_etl_spark.operators.corpus import chunk_overlap

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(150))), (2, "a b c")],
        "doc_id long, text string",
    )
    chunks = chunk_overlap(df, size=64, stride=48).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts at 0, 48, 96, 144 -> sizes 64, 64, 54, 6
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["n_words"] for r in d1] == [64, 64, 54, 6]
    assert d1[0]["first_word"] == "w0" and d1[0]["last_word"] == "w63"
    assert d1[1]["first_word"] == "w48"  # stride < size -> 16-word overlap
    assert d1[-1]["last_word"] == "w149"  # final partial window reaches the end
    # doc 2 fits in one window
    d2 = by_doc[2]
    assert len(d2) == 1 and d2[0]["n_words"] == 3 and d2[0]["last_word"] == "c"


def test_dsir_logratio_matches_numpy_reference(spark, sf_smoke):
    import math

    from cumulus_etl_spark.operators.corpus import dsir_logratio_scores
    from cumulus_etl_spark.sources import table

    d = table(spark, sf_smoke, "documents")
    got = {
        r["doc_id"]: r["score"]
        for r in dsir_logratio_scores(d, target_source="src0").collect()
    }

    rows = d.select("doc_id", "source", "text").collect()
    target_counts: dict[str, int] = {}
    raw_counts: dict[str, int] = {}
    for r in rows:
        words = r["text"].strip().lower().split()
        bucket = target_counts if r["source"] == "src0" else raw_counts
        for w in words:
            bucket[w] = bucket.get(w, 0) + 1
    expected: dict[int, float] = {}
    for r in rows:
        if r["source"] == "src0":
            continue
        score = 0.0
        for w in r["text"].strip().lower().split():
            score += math.log(target_counts.get(w, 0) + 1) - math.log(raw_counts.get(w, 0) + 1)
        expected[r["doc_id"]] = score
    assert set(got) == set(expected)
    for doc_id, s in expected.items():
        assert abs(got[doc_id] - s) < 1e-9 * max(1.0, abs(s)), doc_id


def test_corpus_cli_with_split(spark, tmp_path, capsys):
    """corpus verb --split: survivors carry a deterministic split column
    and the output is partitioned by it."""
    import json

    from cumulus_etl_spark.cli import main

    src = str(tmp_path / "sdocs.parquet")
    out = str(tmp_path / "scorpus-out")
    rows = [(i, f"the quick brown fox number {i} jumps over the lazy dog "
                f"and walks to the market in the town of {i}", "en", "s")
            for i in range(40)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(src)

    rc = main(["corpus", src, out, "--shard-tokens", "500", "--split", "80,10"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["surviving_docs"] == 40
    assert sum(v["n_docs"] for v in summary["splits"].values()) == 40
    back = spark.read.parquet(out)
    assert "split" in back.columns
    got = {r["split"] for r in back.select("split").distinct().collect()}
    assert got <= {"train", "val", "test"} and "train" in got
    # deterministic: rerun produces identical assignment
    rc = main(["corpus", src, str(tmp_path / "scorpus-out2"), "--shard-tokens", "500",
               "--split", "80,10"])
    assert rc == 0
    again = spark.read.parquet(str(tmp_path / "scorpus-out2"))
    a = sorted((r["doc_id"], r["split"]) for r in back.select("doc_id", "split").collect())
    b = sorted((r["doc_id"], r["split"]) for r in again.select("doc_id", "split").collect())
    assert a == b


def test_corpus_cli_split_leakage_report(spark, tmp_path, capsys):
    import json

    from cumulus_etl_spark.cli import main

    src = str(tmp_path / "ldocs.parquet")
    out = str(tmp_path / "lcorpus-out")
    # identical long texts -> any cross-split pair leaks its 8-grams
    body = "the quick brown fox jumps over the lazy dog and walks to town"
    rows = [(i, body, "en", "s") for i in range(40)]
    spark.createDataFrame(
        rows[:1] + [(i, body + f" suffix {i}", "en", "s") for i in range(1, 40)],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(src)

    rc = main(["corpus", src, out, "--shard-tokens", "500",
               "--split", "80,10", "--check-leakage",
               "--jaccard-threshold", "1.01"])  # keep all docs (no fuzzy dedup)
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "leakage" in summary
    held = {k: v["n_docs"] for k, v in summary["splits"].items() if k != "train"}
    # every held-out doc shares the body 8-grams with train
    for split, n in summary["leakage"].items():
        assert 0 < n <= held[split]


def test_prefix_filter_pairs_equal_exact(spark, sf_correct):
    """The prefix-filter similarity join (text_dedup_clusters' pair feed)
    must return EXACTLY the all-pairs ground-truth pair set — that is the
    theorem it implements, not an LSH recall argument, so any deviation
    is a bug (round-4 verdict task 4). Checked at sf0.01 here; the sf0.1
    check runs in the bench-adjacent slow suite below."""
    from cumulus_etl_spark.operators.dedup import prefix_filter_pairs
    from cumulus_etl_spark.plans.textops import text_ngram_jaccard_pairs
    from cumulus_etl_spark.sources import table

    d = table(spark, sf_correct, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in text_ngram_jaccard_pairs(spark, sf_correct)
        .select("id_a", "id_b")
        .collect()
    }
    pf = {
        (r.id_a, r.id_b)
        for r in prefix_filter_pairs(
            d, "doc_id", "text", threshold=0.5, block_col="source", shingle_k=1
        )
        .select("id_a", "id_b")
        .collect()
    }
    assert pf == exact
    assert len(pf) > 0


def test_prefix_filter_pairs_raw_fallback_equal(spark, sf_correct, monkeypatch):
    """The r13 verify runs on hashed long arrays under a runtime-verified
    vocabulary-injectivity premise; when that check fails the operator
    must fall back to the raw-string verify with an IDENTICAL result.
    xxhash64 collisions can't be staged with real strings, so force the
    fallback by stubbing the check and assert pair-set + jaccard
    equality between the two paths."""
    from cumulus_etl_spark.operators import dedup as D
    from cumulus_etl_spark.sources import table

    d = table(spark, sf_correct, "documents")
    kw = dict(id_col="doc_id", text_col="text", threshold=0.5,
              block_col="source", shingle_k=1)
    assert D._vocab_injective(
        D._shingle_frame(d, "doc_id", "text", "source", 1)
    ) is True  # the real corpus takes the hashed path
    fast = {(r.id_a, r.id_b, r.jaccard)
            for r in D.prefix_filter_pairs(d, **kw).collect()}
    # r14: the riding observe-based check routes its decision through
    # _vocab_verdict — stub THAT to force the raw fallback path
    monkeypatch.setattr(D, "_vocab_verdict", lambda n_bad: False)
    slow = {(r.id_a, r.id_b, r.jaccard)
            for r in D.prefix_filter_pairs(d, **kw).collect()}
    assert fast == slow
    assert len(fast) > 0


def test_prefix_filter_pairs_chunked_expansion_equal(spark, sf_correct, monkeypatch):
    """The r14 within-bucket salting (verdict ask 7: 14.4x expansion-task
    skew at sf1) chunks each bucket's anchor range so one task owns
    ~_EXPAND_ITEMS_PER_TASK pair enumerations. Forcing a tiny per-task
    budget makes EVERY bucket multi-chunk; the emitted pair set + jaccard
    must equal the default single-chunk path exactly (each anchor lands
    in one chunk with its full partner slice)."""
    from cumulus_etl_spark.operators import dedup as D
    from cumulus_etl_spark.sources import table

    d = table(spark, sf_correct, "documents")
    kw = dict(id_col="doc_id", text_col="text", threshold=0.5,
              block_col="source", shingle_k=1)
    base = {(r.id_a, r.id_b, r.jaccard)
            for r in D.prefix_filter_pairs(d, **kw).collect()}
    monkeypatch.setattr(D, "_EXPAND_ITEMS_PER_TASK", 5)
    chunked = {(r.id_a, r.id_b, r.jaccard)
               for r in D.prefix_filter_pairs(d, **kw).collect()}
    assert chunked == base
    assert len(base) > 0


def test_prefix_filter_pairs_equal_exact_sf01(spark):
    """Same equality at sf0.1 (5k docs, 445k true pairs) — the scale the
    driver benches at. Slow (~25 s) but the point of the prefix-filter
    path is that it holds as data grows."""
    from cumulus_etl_spark.operators.dedup import prefix_filter_pairs
    from cumulus_etl_spark.plans.textops import text_ngram_jaccard_pairs
    from cumulus_etl_spark.sources import table

    sf = "/root/testdata/sf0.1"
    d = table(spark, sf, "documents")
    exact = text_ngram_jaccard_pairs(spark, sf).select("id_a", "id_b")
    pf = prefix_filter_pairs(
        d, "doc_id", "text", threshold=0.5, block_col="source", shingle_k=1
    ).select("id_a", "id_b")
    n_exact = exact.count()
    assert pf.exceptAll(exact).count() == 0
    assert exact.exceptAll(pf).count() == 0
    assert n_exact > 100_000


def test_prefix_bucket_size_p99(spark, sf_correct):
    """Pin the prefix-filter skew claim (round-5 verdict ask 6): the
    candidate buckets the in-bucket pairing quadratically expands stay
    small at gate scales — p99 ≤ 30 at sf0.01 and ≤ 250 at sf0.1
    (measured 23 / 206), i.e. the quadratic core is confined to genuine
    near-dup families. If this drifts, add PPJoin positional filters."""
    from pyspark.sql import functions as F

    from cumulus_etl_spark.operators.dedup import prefix_bucket_sizes
    from cumulus_etl_spark.sources import table

    for sf_dir, bound in ((sf_correct, 30), ("/root/testdata/sf0.1", 250)):
        d = table(spark, sf_dir, "documents")
        bs = prefix_bucket_sizes(d, "doc_id", "text", 0.5, "source", 1)
        row = bs.agg(
            F.expr("percentile(n, 0.99)").alias("p99"), F.max("n").alias("mx")
        ).collect()[0]
        assert row["p99"] <= bound, (sf_dir, row)
        # max bucket stays the same order as p99 — no single flood bucket
        assert row["mx"] <= 2 * bound, (sf_dir, row)


def test_repeated_substrings_detects_planted_duplicate(spark):
    """Lee-et-al-style substring dedup: a 60-char span shared by two docs
    yields 11 duplicated 50-gram positions in each (60-50+1), a unique
    doc yields none, and an intra-doc repeat also counts."""
    import pandas as pd

    from cumulus_etl_spark.plans import CATALOG
    shared = "x" * 10 + "the quick brown fox jumps over the lazy dog again and over" + "y" * 10
    assert len(shared) >= 60
    rows = [
        (1, "A" * 30 + shared + "B" * 30),
        (2, "C" * 25 + shared + "D" * 35),
        (3, " ".join(f"word{i}alpha" for i in range(40))),  # aperiodic
        (4, ("z" * 70) + "m" + ("z" * 70)),  # intra-doc repeats
    ]
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            os.path.join(td, "documents.parquet"))
        out = {r["doc_id"]: (r["n_dup_positions"], r["n_dup_grams"])
               for r in CATALOG["text_repeated_substrings"].build(spark, td).collect()}
    span = len(shared) - 50 + 1
    assert out[1][0] >= span and out[2][0] >= span
    assert 3 not in out
    assert out[4][0] > 0


def test_remove_repeated_spans_planted_dups(spark):
    """The removal half of Lee-et-al substring dedup: exact stitched
    output on planted duplicates, at two corpus sizes (the second run
    replicates the planted docs 20x with unique fillers so the global
    first-occurrence window crosses many partitions)."""
    from cumulus_etl_spark.operators.corpus import remove_repeated_spans

    k = 5
    base = [
        (1, "ABCDEfghijABCDExyz"),   # intra-doc repeat: 2nd span excised
        (2, "12ABCDE89"),            # cross-doc repeat of doc 1's gram
        (3, "no dups here at all"),  # untouched
        (4, "QQQQQQQQ"),             # overlapping self-repeats collapse
    ]
    for scale in (1, 20):
        rows = list(base) + [
            (100 + i, f"unique filler number {i} with tail {i * 7919}")
            for i in range((scale - 1) * 20)
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string").repartition(8)
        out = {
            r["doc_id"]: r
            for r in remove_repeated_spans(df, k=k).collect()
        }
        # doc1 keeps the FIRST (global order) occurrence; pos-11 span goes
        assert out[1]["clean_text"] == "ABCDEfghijxyz"
        assert out[1]["n_removed_spans"] == 1
        # doc2's occurrence is later in (doc_id, pos) order -> excised
        assert out[2]["clean_text"] == "1289"
        # untouched doc passes through, zero spans
        assert out[3]["clean_text"] == "no dups here at all"
        assert out[3]["n_removed_spans"] == 0
        # 'QQQQQ' occurs at pos 1..4; pos 1 is the kept FIRST, pos 2-4 are
        # removal starts whose union covers chars 2..8 — including most of
        # the first-occurrence span (the documented overlap corollary)
        assert out[4]["clean_text"] == "Q"
        assert out[4]["n_removed_spans"] == 3
        assert out[4]["orig_len"] == 8 and out[4]["clean_len"] == 1
        # invariant: clean_len == orig_len - |union of removed spans| >= 0
        assert all(r["clean_len"] >= 0 for r in out.values())


def test_raw_shingles_matches_reference_shingles(spark):
    """raw_shingles (the O(tokens·k) zip_with form feeding exact
    verification) must equal shingles() (the readable O(tokens²)
    reference) for k=1..3 including short-doc and empty edge cases."""
    from pyspark.sql import functions as F

    from cumulus_etl_spark.operators.dedup import raw_shingles, shingles, tokens

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "one two"),
        (3, "single"),
        (4, ""),
        (5, "  spaced   out   tokens  "),
        (6, "rep rep rep rep"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    for k in (1, 2, 3):
        ref = F.array_sort(F.array_distinct(shingles("text", k)))
        got = F.array_sort(raw_shingles("text", k))
        bad = df.select(
            "id", ref.alias("ref"), got.alias("got")
        ).filter(F.col("ref") != F.col("got")).collect()
        if k == 1:
            # shingles(k=1) builds 1-grams via concat_ws — same tokens
            bad = [b for b in bad if sorted(b["ref"]) != sorted(b["got"])]
        assert not bad, (k, bad)


def test_prefix_filter_pairs_k3_equals_bruteforce(spark):
    """The shingle_k=3 path of the exact prefix-filter join (raw string
    3-shingle verification) against a brute-force all-pairs Jaccard on
    the same raw shingle sets."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from cumulus_etl_spark.operators.dedup import prefix_filter_pairs, raw_shingles
    from cumulus_etl_spark.sources import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in d.select("doc_id", raw_shingles("text", 3).alias("sh")).collect()
    }
    t = 0.4
    expect = set()
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter and inter >= t * (len(sets[a]) + len(sets[b]) - inter):
            expect.add((a, b))
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_pairs(
            d, "doc_id", "text", threshold=t, shingle_k=3
        ).collect()
    }
    assert got == expect
    assert len(got) > 0


# ---- winnowing fingerprints ------------------------------------------------


def test_winnow_guarantees(spark):
    """Pin the two paper guarantees on synthetic docs: (1) consecutive
    selected positions are never more than w apart; (2) any two docs
    sharing a run of >= k+w-1 chars share at least one fingerprint."""
    from cumulus_etl_spark.operators.textstats import winnow_fingerprints

    shared = "the quick brown fox jumps"  # 25 chars >= 8+4-1
    docs = [
        (1, "AAAA " + shared + " xyzzy padding tail one"),
        (2, "completely different prefix " + shared + " QQQQ"),
        (3, "no overlap with anything else at all here zz"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sel = winnow_fingerprints(df, "doc_id", "text", k=8, window=4).collect()
    by_doc: dict[int, list] = {}
    for r in sel:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        poss = sorted(r["pos"] for r in rows)
        gaps = [b - a for a, b in zip(poss, poss[1:])]
        assert all(g <= 4 for g in gaps), (doc_id, gaps)
        # first window [1, w] must contribute
        assert poss[0] <= 4
    fps = {d: {r["fp"] for r in rows} for d, rows in by_doc.items()}
    assert fps[1] & fps[2], "docs sharing a 25-char run must share a fingerprint"


def test_winnow_selects_window_minimum_rightmost(spark):
    """Hand-replay one tiny doc: selection must equal the min-hash
    (rightmost on ties) of every w-window of k-gram hashes."""
    import hashlib

    from cumulus_etl_spark.operators.textstats import winnow_fingerprints

    text = "abcdefghijklmnop"  # 16 chars -> 9 grams at k=8
    k, w = 8, 4
    grams = [text[i : i + k] for i in range(len(text) - k + 1)]
    hv = [
        int(hashlib.md5(f"wf:{g}".encode()).hexdigest()[:15], 16) % (1 << 40)
        for g in grams
    ]
    expect = set()
    for s in range(len(grams) - w + 1):
        # min hash in window, ties -> rightmost (max pos)
        best = min(range(s, s + w), key=lambda i: (hv[i], -i))
        expect.add((hv[best], best + 1))  # 1-based pos
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = {
        (r["fp"], r["pos"])
        for r in winnow_fingerprints(df, "doc_id", "text", k=k, window=w).collect()
    }
    assert got == expect


def test_winnow_skips_short_docs(spark):
    from cumulus_etl_spark.operators.textstats import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "tiny"), (2, "exactly11ch"), (3, "just ten c")], ["doc_id", "text"]
    )
    # doc 2: 11 chars -> 4 grams = w -> eligible; docs 1,3 too short
    out = winnow_fingerprints(df, "doc_id", "text", k=8, window=4).collect()
    assert {r["doc_id"] for r in out} == {2}


# ---- SymSpell deletion-neighborhood fuzzy join -----------------------------


def test_symdelete_matches_bruteforce_all_pairs(spark):
    """The blocked join must equal the brute-force levenshtein<=1 join:
    substitutions, insertions, deletions caught; distance-2 excluded."""
    from cumulus_etl_spark.operators.dedup import symdelete_fuzzy_pairs

    words = [
        "spark", "spork", "sparks", "park", "stark",  # sub/insert/delete of spark
        "duck", "dock", "ducks",
        "zebra",  # no neighbours
        "ax", "x", "a", "",  # short strings + empty
    ]
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    expect = {
        (a, b)
        for a, b in itertools.combinations(sorted(words), 2)
        if lev(a, b) <= 1
    }
    df = spark.createDataFrame([(w,) for w in words], ["name"])
    got = {
        (r["id_a"], r["id_b"])
        for r in symdelete_fuzzy_pairs(df, "name", "name").collect()
    }
    assert got == expect
    assert ("park", "spark") in got and ("spark", "stark") in got
    assert ("duck", "spark") not in got


# ---- BPE encoding ---------------------------------------------------------


def test_bpe_encode_vocab_applies_trained_merges(spark):
    """Sennrich-style toy corpus: merges learned then applied; encoded
    strings must reassemble to the original words and shrink where the
    merges apply."""
    from cumulus_etl_spark.operators.textstats import (
        bpe_encode_vocab,
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(1, "low low low lower lower newest newest newest widest")],
        ["doc_id", "text"],
    )
    merges = [r["pair"] for r in bpe_train_merges(docs, n_merges=3).collect()]
    enc = {r["w"]: r for r in bpe_encode_vocab(docs, n_merges=3).collect()}
    assert set(enc) == {"low", "lower", "newest", "widest"}
    for w, r in enc.items():
        assert r["encoded"].replace(" ", "") == w
        assert r["n_tokens"] == len(r["encoded"].split(" "))
        assert r["n_tokens"] <= len(w)
    # replay the merges by hand on 'low'
    sym = list("low")
    for pair in merges:
        x, y = pair.split(" ")
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == x and sym[i + 1] == y:
                out.append(x + y)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    assert enc["low"]["encoded"] == " ".join(sym)
    # the top merge must have compressed at least one word below char count
    assert any(r["n_tokens"] < len(w) for w, r in enc.items())


def test_sorted_neighborhood_matches_reference_replay(spark):
    """Replay the two-pass window scheme in Python: same orderings,
    same band, same verify — the Spark pair set must match exactly."""
    from cumulus_etl_spark.operators.dedup import sorted_neighborhood_pairs

    words = [
        "cold anvil", "old anvil", "cold bolt", "old bolt", "red bolt",
        "new bolt", "big anvil", "tiny gear", "huge gear", "old gear",
    ]

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    expect = set()
    for keyfn in (lambda w: w + " " + w, lambda w: w[::-1] + " " + w):
        ranked = sorted(words, key=keyfn)
        for i, a in enumerate(ranked):
            for b in ranked[i + 1 : i + 4]:  # window=3 successors
                if lev(a, b) <= 2:
                    expect.add(tuple(sorted((a, b))))
    df = spark.createDataFrame([(w,) for w in words], ["name"])
    got = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(df, "name", "name", window=3).collect()
    }
    assert got == expect
    # the reverse pass is what finds shared-suffix pairs
    assert ("cold anvil", "old anvil") in got


def test_cdc_chunks_shift_resistance(spark):
    """The defining CDC property: prefix insertion shifts every FIXED
    block boundary but leaves content-defined boundaries put (modulo
    the first window). Pinned via the catalog entry on a planted pair:
    a doc and its one-char-prefixed copy keep (nearly) the same chunk
    structure, and chunk arithmetic is internally consistent."""
    import os
    import tempfile

    import pandas as pd

    from cumulus_etl_spark.plans import CATALOG

    base = "".join(
        f"word{i * 2654435761 % 997} " for i in range(400)
    )  # aperiodic ~2.5k chars
    rows = [(1, base), (2, "X" + base)]
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            os.path.join(td, "documents.parquet")
        )
        out = {r["doc_id"]: r for r in CATALOG["text_cdc_chunks"].build(spark, td).collect()}
    a, b = out[1], out[2]
    assert a["n_chunks"] >= 2  # expected ~len/64 boundaries actually fire
    # shift resistance: at most the first chunk is disturbed
    assert abs(a["n_chunks"] - b["n_chunks"]) <= 1
    assert abs(a["max_chunk"] - b["max_chunk"]) <= 1
    # consistency: every chunk fits inside the doc
    for r in (a, b):
        assert 1 <= r["max_chunk"] <= r["n_chars"]


def test_frequent_triples_downward_closure(spark):
    """Apriori level 3 on a planted basket set: only the triple whose
    three sub-pairs are all frequent survives, with exact support and
    {a,b}->c confidence."""
    import os
    import tempfile

    import pandas as pd

    from cumulus_etl_spark.plans import CATALOG

    baskets = {
        1: [1, 2, 3],
        2: [1, 2, 3],
        3: [1, 2],
        4: [4, 5],          # pair seen once -> pruned at level 2
        5: [1, 2, 3, 6],    # 6 pairs with 1/2/3 only once each -> pruned
    }
    rows = [(o, p) for o, ps in baskets.items() for p in ps]
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"]).to_parquet(
            os.path.join(td, "lineitem.parquet")
        )
        out = CATALOG["agg_frequent_triples"].build(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["item_c"], r["sup"]) == (1, 2, 3, 3)
    assert r["conf_ab_c"] == 0.75  # sup(1,2,3)=3 over sup(1,2)=4


def test_global_running_sum_signed_values(spark):
    """The per-partition carry-forward must be the SUM of the partition
    (not the running max) so signed prefix sums — +1/-1 interval
    counting — come out right across partition boundaries."""
    from cumulus_etl_spark.operators.corpus import global_running_sum

    rows = [(i, 1 if i % 2 == 0 else -1) for i in range(200)]
    df = spark.createDataFrame(rows, "k int, v int").repartition(16)
    got = {r["k"]: r["__cum"] for r in global_running_sum(df, "v", "k").collect()}
    cum = 0
    for k, v in rows:
        cum += v
        assert got[k] == cum, (k, got[k], cum)


def test_corpus_cli_substring_dedup(spark, tmp_path, capsys):
    """corpus --dedup-substrings K: duplicated K-char spans are excised
    from the written shards (first occurrence survives) and the summary
    reports what was removed."""
    import json

    from cumulus_etl_spark.cli import main

    src = str(tmp_path / "docs3.parquet")
    out = str(tmp_path / "corpus-out3")
    boiler = "this exact boilerplate sentence repeats in every single document here"
    rows = [
        (i, f"unique lead {i} with words number {i * 31} " + boiler
            + f" trailing tail {i} content {i * 17}", "en", "s")
        for i in range(12)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(src)

    rc = main(["corpus", src, out, "--shard-tokens", "500",
               "--jaccard-threshold", "0.95",
               "--dedup-substrings", str(len(boiler))])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    sd = summary["substring_dedup"]
    assert sd["k"] == len(boiler)
    assert sd["removed_spans"] >= 11  # every copy after the first
    assert sd["removed_chars"] >= 11 * len(boiler)
    back = spark.read.parquet(out)
    texts = [r["text"] for r in back.collect()]
    assert sum(boiler in t for t in texts) == 1  # exactly one survivor
    # duplicated-gram UNION semantics: straddling K-grams extend the
    # removal through the shared " trailing tail " suffix in non-first
    # docs, so only the first-occurrence doc keeps it — doc-specific
    # lead and tail content must survive everywhere
    assert sum("trailing tail" in t for t in texts) >= 1
    assert all("unique lead" in t and "content" in t for t in texts)


def test_remove_repeated_spans_matches_bruteforce_reference(spark):
    """Randomized cross-check: the Catalyst cursor-fold stitch equals an
    independent sequential implementation (mark every non-first
    duplicated k-gram occurrence, excise the UNION of spans) over random
    small-alphabet corpora where overlaps and cross-doc dups are dense."""
    import random

    from cumulus_etl_spark.operators.corpus import remove_repeated_spans

    rng = random.Random(11)
    k = 4
    for trial in range(3):
        docs = [
            (i, "".join(rng.choice("abc") for _ in range(rng.randrange(0, 40))))
            for i in range(12)
        ]
        # sequential reference
        first_seen: set[str] = set()
        removal: dict[int, list[int]] = {i: [] for i, _ in docs}
        for i, t in docs:  # (doc_id, pos) global order
            for p in range(len(t) - k + 1):
                g = t[p : p + k]
                if g in first_seen:
                    removal[i].append(p + 1)  # 1-based
                else:
                    first_seen.add(g)
        # count occurrences corpus-wide; only grams with >=2 occurrences
        from collections import Counter

        cnt = Counter(
            t[p : p + k] for _, t in docs for p in range(len(t) - k + 1)
        )
        expect = {}
        for i, t in docs:
            starts = [
                p for p in removal[i] if cnt[t[p - 1 : p - 1 + k]] >= 2
            ]
            keep = [True] * len(t)
            for p in starts:
                for j in range(p - 1, min(p - 1 + k, len(t))):
                    keep[j] = False
            expect[i] = "".join(c for c, kp in zip(t, keep) if kp)

        df = spark.createDataFrame(docs, "doc_id int, text string").repartition(5)
        got = {
            r["doc_id"]: r["clean_text"]
            for r in remove_repeated_spans(df, k=k).collect()
        }
        assert got == expect, f"trial {trial}"


def test_remove_boilerplate_lines_planted(spark):
    """Within-source line-frequency dedup: chrome at/above min_docs is
    dropped from EVERY doc (not first-kept), sub-threshold lines and
    cross-source lookalikes survive, an all-chrome doc comes back empty."""
    from cumulus_etl_spark.operators.corpus import remove_boilerplate_lines

    nav, foot = "NAV | HOME | ABOUT", "(c) 2024 example.org"
    rows = []
    for i in range(6):  # source A: chrome everywhere, promo in 3 docs
        body = f"unique body line {i}\nsecond body {i * 13}"
        promo = "\nSUBSCRIBE NOW" if i < 3 else ""
        rows.append((i, f"{nav}\n{body}\n{foot}{promo}", "A"))
    rows.append((100, f"{nav}\n{foot}", "A"))          # all-chrome doc
    rows.append((200, f"{nav}\nlonely body", "B"))     # nav is rare in B
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = {r["doc_id"]: r for r in
           remove_boilerplate_lines(docs, min_docs=4).collect()}
    for i in range(6):
        t = out[i]["clean_text"]
        assert nav not in t and foot not in t
        assert f"unique body line {i}" in t and f"second body {i * 13}" in t
        assert ("SUBSCRIBE NOW" in t) == (i < 3)  # 3 < min_docs → survives
    assert out[100]["n_kept"] == 0 and out[100]["clean_text"] == ""
    assert out[100]["n_lines"] == 2
    assert nav in out[200]["clean_text"]  # same line, different source

    # min_frac branch: 3/7 of source A ≥ 0.4 → promo now dropped too
    frac = {r["doc_id"]: r["clean_text"] for r in
            remove_boilerplate_lines(docs, min_docs=99, min_frac=0.4).collect()}
    assert all("SUBSCRIBE NOW" not in frac[i] for i in range(3))
    assert "lonely body" in frac[200]


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_corpus_line_dedup_entry_planted_chrome(spark, sf_dir):
    """The catalog entry's planted nav/footer chrome vanishes at both
    SFs; the every-8th-doc PROMO line survives exactly where its
    within-source document frequency stays below the threshold."""
    from pyspark.sql import functions as F

    from cumulus_etl_spark.plans.corpusops import _LINE_PLANT_SPARK
    from cumulus_etl_spark.operators.corpus import remove_boilerplate_lines
    from cumulus_etl_spark.sources import table

    planted = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_LINE_PLANT_SPARK).alias("text")
    )
    out = remove_boilerplate_lines(planted, min_docs=5).localCheckpoint(eager=True)
    n = out.count()
    assert n == planted.count()
    assert out.filter(F.col("clean_text").contains("NAV HOME")).count() == 0
    assert out.filter(F.col("clean_text").contains("COPYRIGHT 2024")).count() == 0
    # expected PROMO survivors from the planting arithmetic
    promo_by_source = (
        planted.filter(F.col("doc_id") % 8 == 0)
        .groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    )
    expected = (
        planted.filter(F.col("doc_id") % 8 == 0)
        .join(promo_by_source.filter(F.col("c") < 5), "source")
        .count()
    )
    assert out.filter(F.col("clean_text").contains("PROMO")).count() == expected


def test_corpus_cli_line_dedup(spark, tmp_path, capsys):
    """corpus --dedup-lines: per-source chrome is stripped from the
    written shards and the summary reports the removed-line count."""
    import json

    from cumulus_etl_spark.cli import main

    src = str(tmp_path / "docs4.parquet")
    out = str(tmp_path / "corpus-out4")
    nav = "NAVBAR HOME PRODUCTS CONTACT LEGAL PRIVACY TERMS SITEMAP SEARCH LOGIN"
    rows = [
        (i, nav + "\n" + " ".join(f"w{i}x{j} tok{i * 37 + j}" for j in range(12))
            + "\nfooter all rights reserved",
         "en", "s")
        for i in range(12)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(src)

    rc = main(["corpus", src, out, "--shard-tokens", "500", "--lang", "any",
               "--jaccard-threshold", "0.95", "--dedup-lines", "5"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["line_dedup"]["min_docs"] == 5
    assert summary["line_dedup"]["removed_lines"] >= 24  # nav+footer x 12
    texts = [r["text"] for r in spark.read.parquet(out).collect()]
    assert texts and all(nav not in t and "footer all rights" not in t for t in texts)
    assert all(f"w{r['doc_id']}x0" in r["text"]
               for r in spark.read.parquet(out).collect())


def test_lm_surprisal_ranks_ood_doc_first(spark, tmp_path):
    """Planted corpus: many templated docs sharing high-count bigrams +
    one out-of-distribution gibberish doc. The bigram-LM surprisal
    score must put the OOD doc first, templated docs last."""
    from cumulus_etl_spark.plans import CATALOG

    template = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, "web", template) for i in range(12)]
    rows.append((100, "web", "zxq vrbl ktt plonk zxq gribble vrbl snork"))
    # a half-templated doc should land between the two extremes
    rows.append((101, "web", template + " zxq vrbl ktt plonk"))
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = CATALOG["text_lm_surprisal"].build(spark, str(tmp_path)).collect()
    ranked = [r["doc_id"] for r in out]
    assert ranked[0] == 100  # pure OOD doc is most surprising
    assert ranked[1] == 101  # mixed doc second
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[100]["score_milli"] > by_id[101]["score_milli"]
    assert by_id[101]["score_milli"] > by_id[0]["score_milli"]
    # per-doc bigram accounting: template has 12 tokens -> 11 bigrams
    assert by_id[0]["n_bigrams"] == 11


def test_corpus_cli_surprisal_filter(spark, tmp_path, capsys):
    """corpus --drop-surprisal-permille: the planted OOD doc (gibberish
    bigrams) is dropped; templated docs survive; report carries the
    cutoff + drop count."""
    import json

    from cumulus_etl_spark.cli import main

    src = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "corpus-out")
    # 40 docs share an 8-word template prefix (high-count bigrams -> low
    # surprisal) + 12 unique-tail words each (Jaccard ~0.25 between docs,
    # so exact AND fuzzy dedup keep them all); doc 99 is ALL unique
    # bigrams -> strictly the highest mean surprisal.
    prefix = "share this exact template prefix across docs now"
    rows = [
        (i, prefix + " " + " ".join(f"u{i}w{j}" for j in range(12)), "s")
        for i in range(40)
    ]
    rows.append((99, " ".join(f"z{j}q z{j}r" for j in range(7)), "s"))
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.mode("overwrite").parquet(src)

    rc = main([
        "corpus", src, out, "--shard-tokens", "400", "--lang", "any",
        "--drop-surprisal-permille", "30",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["surprisal_filter"]["permille"] == 30
    assert summary["surprisal_filter"]["dropped"] >= 1
    back = spark.read.parquet(out)
    ids = {r["doc_id"] for r in back.select("doc_id").collect()}
    assert 99 not in ids        # the OOD doc is gone
    assert 0 in ids and 39 in ids  # templated docs survive


def test_decontaminate_bloom_method_matches_broadcast_exactly(spark):
    """The bloom path is an exact pre-prune: identical output to the
    broadcast path on every doc (false positives die in the exact
    join), and unknown methods fail loudly."""
    import pytest

    from cumulus_etl_spark.operators.corpus import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "totally different words with no overlap at all here now"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta"),
         (11, "three four five six seven eight nine ten extra")],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, decontaminate(corpus, bench, ngram=8).collect()))
    b = sorted(map(tuple, decontaminate(
        corpus, bench, ngram=8, method="bloom", bloom_bits=1 << 12).collect()))
    assert a == b
    byid = {r[0]: r for r in b}
    assert byid[1][2] is True and byid[3][2] is False
    with pytest.raises(ValueError, match="unknown decontamination method"):
        decontaminate(corpus, bench, method="nope")


def test_pack_sequences_atomic_invariants(spark):
    """Doc-atomic FFD packing: every pack fits seq_len, every (short)
    doc lands intact in exactly one pack, long docs split into atomic
    chunks, tokens are conserved, and the layout is deterministic."""
    from cumulus_etl_spark.operators.corpus import pack_sequences_atomic

    docs = spark.createDataFrame(
        [
            ("d1", "a b c d e f g"),          # 7 tokens
            ("d2", "h i j"),                   # 3
            ("d3", "k l m n"),                 # 4
            ("d4", "o p"),                     # 2
            ("d5", " ".join(f"w{i}" for i in range(23))),  # 23 -> 3 chunks @ 10
            ("d6", ""),                        # dropped
        ],
        "doc_id string, text string",
    )
    out = pack_sequences_atomic(docs, seq_len=10, partitions=2).collect()
    # capacity + padding accounting
    assert all(r["n_tokens"] <= 10 for r in out)
    assert all(r["pad_tokens"] == 10 - r["n_tokens"] for r in out)
    # token conservation: 7+3+4+2+23 = 39
    assert sum(r["n_tokens"] for r in out) == 39
    # retokenizing the packed text yields exactly n_tokens
    assert all(len(r["text"].split()) == r["n_tokens"] for r in out)
    # every short doc appears intact (contiguous token run) in ONE pack
    packed_texts = [r["text"] for r in out]
    for intact in ("a b c d e f g", "h i j", "k l m n", "o p"):
        assert sum(1 for t in packed_texts if intact in t) == 1
    # the long doc split into ceil(23/10)=3 atomic chunks, each <= 10
    w_chunks = [t for t in packed_texts if "w0 " in t or "w10" in t or "w20" in t]
    assert "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9" in " || ".join(packed_texts)
    # pack_ids unique
    ids = [r["pack_id"] for r in out]
    assert len(ids) == len(set(ids))
    # deterministic across runs
    again = pack_sequences_atomic(docs, seq_len=10, partitions=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pack_sequences_atomic_beats_one_doc_per_sequence(spark):
    """FFD padding waste must beat the naive one-doc-per-sequence
    layout on a skewed corpus (the whole point of bin packing)."""
    from pyspark.sql import functions as F

    from cumulus_etl_spark.operators.corpus import pack_sequences_atomic

    rows = [(f"d{i}", " ".join(["tok"] * (3 + i % 5))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = pack_sequences_atomic(docs, seq_len=16, partitions=2).collect()
    total_tokens = sum(3 + i % 5 for i in range(40))
    assert sum(r["n_tokens"] for r in out) == total_tokens
    ffd_pad = sum(r["pad_tokens"] for r in out)
    naive_pad = sum(16 - (3 + i % 5) for i in range(40))
    assert ffd_pad < naive_pad / 3  # FFD packs several docs per sequence


def test_corpus_cli_atomic_pack_mode(spark, tmp_path, capsys):
    """corpus --seq-len --pack-mode atomic emits doc-atomic FFD packs
    with padding accounting in the report."""
    import json

    from cumulus_etl_spark.cli import main

    src = str(tmp_path / "docs3.parquet")
    out = str(tmp_path / "corpus-out3")
    rows = [
        (i,
         "every document here has a shared twelve token prefix before "
         + " ".join(f"unique{i}x{j}" for j in range(3 + i % 7)),
         "en", "s")
        for i in range(12)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(src)

    rc = main(["corpus", src, out, "--shard-tokens", "500",
               "--jaccard-threshold", "0.99",
               "--seq-len", "32", "--pack-mode", "atomic"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    blk = summary["sequences"]
    assert blk["pack_mode"] == "atomic"
    assert blk["packed_tokens"] > 0 and blk["pad_tokens"] >= 0
    seqs = spark.read.parquet(blk["output"])
    rows_out = seqs.collect()
    assert all(r["n_tokens"] + r["pad_tokens"] == 32 for r in rows_out)
    assert sum(r["n_tokens"] for r in rows_out) == blk["packed_tokens"]


def test_bm25_topk_matches_pure_python_replay(spark):
    """BM25 scores match an exact from-scratch Python computation on a
    small corpus (idf floor, length normalization, tf saturation all
    pinned), and ranking is a total order."""
    import math

    from cumulus_etl_spark.operators.textstats import bm25_topk

    corpus = {
        "d1": "the quick brown fox jumps over the lazy dog",
        "d2": "the fast brown fox",
        "d3": "lazy dogs sleep all day long every single day",
        "d4": "quick quick quick fox",
        "d5": "an entirely unrelated document about spark sql",
    }
    queries = {"q1": "quick fox", "q2": "lazy day", "q3": "zzz-no-hits"}
    docs = spark.createDataFrame(list(corpus.items()), "doc_id string, text string")
    qdf = spark.createDataFrame(list(queries.items()), "query_id string, query string")

    got = bm25_topk(docs, qdf, k=3)
    rows = [(r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in got.collect()]

    # pure-python BM25 replay
    k1, b = 1.2, 0.75
    toks = {d: t.split() for d, t in corpus.items()}
    N = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / N

    def score(q, d):
        s = 0.0
        for term in set(queries[q].split()):
            tf = toks[d].count(term)
            if tf == 0:
                continue
            df = sum(1 for t in toks.values() if term in t)
            idf = math.log(1 + (N - df + 0.5) / (df + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks[d]) / avgdl))
        return s

    for q in queries:
        expect = sorted(
            ((score(q, d), d) for d in corpus if score(q, d) > 0),
            key=lambda x: (-x[0], x[1]),
        )[:3]
        mine = [(s, d) for (qq, d, s, _) in rows if qq == q]
        assert [d for _, d in expect] == [d for _, d in mine], (q, expect, mine)
        for (es, _), (gs, _) in zip(expect, mine):
            assert abs(es - gs) < 1e-9
    # no-hit query returns nothing rather than zero-score noise
    assert not [r for r in rows if r[0] == "q3"]
    # ranks are 1..n per query
    assert [r[3] for r in rows if r[0] == "q1"] == list(range(1, len([r for r in rows if r[0] == "q1"]) + 1))


def test_corpus_cli_decontaminate(spark, tmp_path, capsys):
    """corpus --decontaminate drops benchmark-overlapping docs before
    sharding (both methods), reported in the summary."""
    import json

    from cumulus_etl_spark.cli import main

    contaminated = ("alpha beta gamma delta epsilon zeta eta theta "
                    "plus some extra tail words for length and quality")
    rows = [(1, contaminated, "en", "s"),
            (2, "a completely clean document with plenty of ordinary "
                "words that overlap nothing in the benchmark suite", "en", "s")]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(src)
    bench = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(bench)

    for method in ("broadcast", "bloom"):
        out = str(tmp_path / f"out-{method}")
        rc = main(["corpus", src, out, "--jaccard-threshold", "0.99",
                   "--min-tokens", "5",
                   "--decontaminate", bench, "--decontaminate-method", method])
        assert rc == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["decontamination"]["dropped"] == 1
        assert rep["decontamination"]["method"] == method
        assert rep["surviving_docs"] == 1


def test_keep_best_dedup_is_cluster_canonical(spark):
    """Keep-best dedup: exactly one representative per transitive dup
    cluster, chosen by score (ties -> min id) — vs the pairwise min-id
    policy which over-drops along chains."""
    from cumulus_etl_spark.operators.dedup import (
        ngram_jaccard_dedup,
        ngram_jaccard_dedup_keep_best,
    )

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest before nightfall comes")
    rows = [
        (1, base),                                  # cluster A
        (2, base + " extra"),                       # cluster A (longer!)
        (3, base + " extra words"),                 # cluster A (longest)
        (10, "a completely different document about query planning in "
             "distributed analytical engines with columnar storage"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    best = ngram_jaccard_dedup_keep_best(docs, threshold=0.6)
    kept = sorted(r["doc_id"] for r in best.select("doc_id").collect())
    assert kept == [3, 10]  # longest cluster member + the singleton

    # explicit score column wins over length
    scored = docs.withColumn(
        "q", F.when(F.col("doc_id") == 1, 99.0).otherwise(1.0)
    )
    best_q = ngram_jaccard_dedup_keep_best(scored, score_col="q", threshold=0.6)
    assert sorted(r["doc_id"] for r in best_q.select("doc_id").collect()) == [1, 10]

    # the pairwise policy keeps the MIN id instead
    pairwise = ngram_jaccard_dedup(docs, threshold=0.6)
    assert sorted(r["doc_id"] for r in pairwise.select("doc_id").collect()) == [1, 10]


def test_corpus_cli_dedup_survivor_best(spark, tmp_path, capsys):
    """corpus --dedup-survivor best keeps the longest cluster member."""
    import json

    from cumulus_etl_spark.cli import main

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest before nightfall comes")
    rows = [(1, base, "en", "s"), (2, base + " extra tail words here", "en", "s")]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "out")
    rc = main(["corpus", src, out, "--jaccard-threshold", "0.6",
               "--dedup-survivor", "best"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["surviving_docs"] == 1
    kept = spark.read.parquet(out).select("doc_id").collect()
    assert [r["doc_id"] for r in kept] == [2]  # the longer one


def test_domain_temperature_weights_math(spark):
    """Temperature mixture: T=1 reproduces natural shares (all weights
    1), higher T pulls targets toward uniform — exact Python replay."""
    from cumulus_etl_spark.operators.corpus import domain_temperature_weights

    rows = (
        [(f"a{i}", "big", "tok " * 20) for i in range(8)]
        + [(f"b{i}", "mid", "tok " * 10) for i in range(4)]
        + [(f"c{i}", "small", "tok " * 5) for i in range(2)]
    )
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")

    t1 = {r["source"]: r for r in domain_temperature_weights(docs, temperature=1.0).collect()}
    for r in t1.values():
        assert abs(r["target_share"] - r["token_share"]) < 1e-12
        assert abs(r["sample_weight"] - 1.0) < 1e-12

    t5 = {r["source"]: r for r in domain_temperature_weights(docs, temperature=5.0).collect()}
    shares = {s: t5[s]["token_share"] for s in t5}
    import math

    p = {s: shares[s] ** (1 / 5.0) for s in shares}
    tot = sum(p.values())
    for s in t5:
        assert abs(t5[s]["target_share"] - p[s] / tot) < 1e-12
    # higher T boosts small domains, damps big ones
    assert t5["small"]["target_share"] > shares["small"]
    assert t5["big"]["target_share"] < shares["big"]
    assert t5["big"]["capped_weight"] < 1.0 and t5["small"]["sample_weight"] > 1.0
    # targets sum to 1
    assert abs(sum(r["target_share"] for r in t5.values()) - 1.0) < 1e-12


def test_pack_sequences_atomic_default_fans_out(spark):
    """Regression pin: the default partition count comes from
    spark.sql.shuffle.partitions, NOT the input scan (a single-file
    scan reports 1 partition, which would collapse the pack into one
    task — Exchange SinglePartition — at any data size)."""
    from cumulus_etl_spark.operators.corpus import pack_sequences_atomic

    docs = spark.createDataFrame(
        [(f"d{i}", "tok " * 5) for i in range(20)], "doc_id string, text string"
    ).coalesce(1)  # the single-file-scan shape
    out = pack_sequences_atomic(docs, seq_len=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(chunk_id" in plan
    assert "SinglePartition" not in plan
    assert sum(r["n_tokens"] for r in out.collect()) == 100


def test_bm25_exact_mode_matches_integer_idf_replay(spark):
    """The oracle catalog row's exact=True mode (integer-log2 Robertson
    idf + round-6 decimal summation) matches a from-scratch Python
    replay — the same pin the float path has, for the variant the
    driver gate hashes."""
    from decimal import ROUND_HALF_UP, Decimal

    from cumulus_etl_spark.operators.textstats import bm25_topk

    corpus = {
        "d1": "the quick brown fox jumps over the lazy dog",
        "d2": "the fast brown fox",
        "d3": "lazy dogs sleep all day long every single day",
        "d4": "quick quick quick fox",
        "d5": "an entirely unrelated document about spark sql",
    }
    queries = {"q1": "quick fox", "q2": "lazy day", "q3": "zzz-no-hits"}
    docs = spark.createDataFrame(list(corpus.items()), "doc_id string, text string")
    qdf = spark.createDataFrame(list(queries.items()), "query_id string, query string")

    got = bm25_topk(docs, qdf, k=3, exact=True)
    rows = [(r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in got.collect()]

    k1, b = 1.2, 0.75
    toks = {d: t.split() for d, t in corpus.items()}
    N = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / N

    def score(q, d):
        # None when no query term occurs in d (no candidate row at all);
        # 0.0 is possible for matches on very common terms — the integer
        # idf gives a whole ZERO bits when (2N-2df+1) < (2df+1), where
        # the float idf would stay slightly positive.
        s, hit = Decimal(0), False
        for term in set(queries[q].split()):
            tf = toks[d].count(term)
            if tf == 0:
                continue
            hit = True
            df = sum(1 for t in toks.values() if term in t)
            idf = float((1 + (2 * N - 2 * df + 1) // (2 * df + 1)).bit_length() - 1)
            c = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks[d]) / avgdl))
            # Spark's round(double, 6): HALF_UP over the shortest repr
            s += Decimal(repr(c)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        return float(s) if hit else None

    for q in queries:
        expect = sorted(
            ((score(q, d), d) for d in corpus if score(q, d) is not None),
            key=lambda x: (-x[0], x[1]),
        )[:3]
        mine = [(s, d) for (qq, d, s, _) in rows if qq == q]
        assert [d for _, d in expect] == [d for _, d in mine], (q, expect, mine)
        for (es, _), (gs, _) in zip(expect, mine):
            assert abs(es - gs) < 1e-12  # decimal-exact, not just close
    assert not [r for r in rows if r[0] == "q3"]


def test_bm25_never_broadcasts_full_vocabulary(spark):
    """Scale pin (round-9 verdict fix): every broadcast in the BM25 plan
    is query-bounded — the full-vocabulary (term, df) frame must reach
    its broadcast only AFTER the semi-join onto the query terms. The
    plan therefore contains no broadcast whose input subtree lacks the
    query-side scan."""
    from cumulus_etl_spark.operators.textstats import bm25_topk

    docs = spark.createDataFrame(
        [(f"d{i}", f"term{i} shared common") for i in range(50)],
        "doc_id string, text string",
    )
    qdf = spark.createDataFrame([("q1", "shared")], "query_id string, query string")
    plan = bm25_topk(docs, qdf, k=5)._jdf.queryExecution().optimizedPlan().toString()
    # The df-side aggregate feeding the scoring join must sit under a
    # LeftSemi join on the query terms, so what broadcasts is the
    # query-pruned frame, never the raw corpus-wide vocabulary.
    assert "LeftSemi" in plan or "left_semi" in plan.lower(), plan


def test_bigram_lm_score_case_folds_like_its_oracle(spark, tmp_path):
    """ADVICE r3: mixed-case text must produce oracle-identical scores —
    parity previously held only because the generated corpus is all
    lowercase. (Originally pinned text_bigram_lm_score; that entry was
    retired in r9 as subsumed by text_lm_surprisal — the same
    corpus-trained bigram model with the same lower(trim()) folding —
    so the pin moved with it.)"""
    from cumulus_etl_spark.plans import CATALOG
    from tests.oracle_harness import compare

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    for f in os.listdir(SF):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(SF, f), os.path.join(sf_dir, f))
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    upper = docs.withColumn(
        "text",
        F.when(F.crc32(F.col("doc_id").cast("string")) % 2 == 0, F.upper("text"))
        .otherwise(F.initcap("text")),
    )
    # single parquet FILE (the testdata layout DuckDB's view expects)
    import pyarrow.parquet as pq

    pq.write_table(
        upper.toArrow(), os.path.join(sf_dir, "documents.parquet")
    )
    entry = CATALOG["text_lm_surprisal"]
    result = compare(spark, sf_dir, "text_lm_surprisal", entry.build, entry.oracle)
    assert result["ok"], result


def test_simhash_bucket_cap_bounds_pair_explosion(spark):
    """VERDICT r3 item 3: 5k near-identical docs must not go quadratic —
    the capped bucket keeps the lowest-id members only."""
    from cumulus_etl_spark.operators import dedup as D

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog every day").alias("text"),
    )
    pairs = D.simhash_candidates(docs, max_bucket=50, feature_hash="md5")
    rows = pairs.collect()
    assert len(rows) == 50 * 49 // 2  # C(cap, 2), not C(5000, 2)
    assert max(max(r["id_a"], r["id_b"]) for r in rows) < 50  # lowest ids kept
    assert all(r["hamming"] == 0 for r in rows)


def test_simhash_cap_does_not_change_candidates_on_real_corpus(spark):
    """The default cap must be invisible on the fuzz corpus (no bucket
    anywhere near 200 members): capped == uncapped pair sets."""
    from cumulus_etl_spark.operators import dedup as D
    from cumulus_etl_spark.sources import table

    d = table(spark, SF, "documents")
    capped = {(r["id_a"], r["id_b"]) for r in
              D.simhash_candidates(d, feature_hash="md5").collect()}
    uncapped = {(r["id_a"], r["id_b"]) for r in
                D.simhash_candidates(d, max_bucket=10**6, feature_hash="md5").collect()}
    assert capped == uncapped


def test_minhash_survivors_equal_exact(spark):
    """The LSH dedup's oracle premise: banded-minhash candidate recall is
    1 on this corpus, so LSH survivors == exact all-pairs survivors."""
    from cumulus_etl_spark.operators import dedup as D
    from cumulus_etl_spark.sources import table

    d = table(spark, SF, "documents")
    lsh = {r["doc_id"] for r in
           D.ngram_jaccard_dedup(d, "doc_id", "text", shingle_k=3, threshold=0.7)
           .select("doc_id").collect()}
    sh = d.select(F.col("doc_id").alias("id"), D.shingles("text", 3).alias("sh")) \
          .withColumn("sz", F.size("sh"))
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b"))
    pairs = (
        a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        .filter(F.least("sz_a", "sz_b") >= 0.7 * F.greatest("sz_a", "sz_b"))
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("j", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("j") >= 0.7)
    )
    losers = {r["id_b"] for r in pairs.select("id_b").distinct().collect()}
    exact = {r["doc_id"] for r in d.select("doc_id").collect()} - losers
    assert lsh == exact


def test_banded_signatures_match_explode_formulation(spark):
    """r13 opt pin: the map-side array_min(transform) signature build
    must emit the exact (id, band_idx, band_hash) rows of the historical
    explode->groupBy(id) formulation — including dropping docs whose
    shingle set is empty or null (explode emitted no rows for those)."""
    import random

    from cumulus_etl_spark.operators import dedup as D

    rows = [
        (1, [11, 22, 33, 44]),
        (2, [22, 33, 44, 55, 66]),
        (3, [11]),
        (4, []),            # empty set: must produce NO signature rows
        (5, None),          # null set: likewise
        (6, [77, 88, 99, 11, 22, 33]),
    ]
    sh = spark.createDataFrame(rows, "id long, sh array<long>")
    got = {(r["id"], r["band_idx"], r["band_hash"])
           for r in D.banded_signatures(sh, num_hashes=32, bands=8).collect()}

    # reference: the pre-r13 explode->aggregate shape, same coefficients
    rng = random.Random(42)
    coefs = [(rng.randrange(1, D._MINHASH_PRIME), rng.randrange(0, D._MINHASH_PRIME))
             for _ in range(32)]
    hashed = sh.select("id", F.explode("sh").alias("h"))
    sig_cols = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(D._MINHASH_PRIME)).alias(f"s{j}")
        for j, (a, b) in enumerate(coefs)
    ]
    sigs = hashed.groupBy("id").agg(*sig_cols)
    band_hashes = F.array(*[
        F.xxhash64(F.concat_ws(",", *[
            F.col(f"s{b * 4 + i}").cast("string") for i in range(4)
        ]))
        for b in range(8)
    ])
    want = {(r["id"], r["band_idx"], r["band_hash"]) for r in
            sigs.select("id", F.posexplode(band_hashes).alias("band_idx", "band_hash"))
            .collect()}
    assert got == want
    assert not any(i in (4, 5) for i, _, _ in got)


def test_bpe_train_merges_semantics(spark):
    """BPE trainer: merges apply greedily left-to-right, counts are
    corpus-frequency-weighted, rounds feed forward."""
    from cumulus_etl_spark.operators.textstats import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "aaab aaab aaab"), (2, "ab ab")], "doc_id long, text string"
    )
    got = [(r["merge_round"], r["pair"], r["n"])
           for r in bpe_train_merges(docs, n_merges=3).collect()]
    # round 1: pairs in 'a a a b'x3 (a a:2 each -> 6) + 'a b'x2(+3) -> 'a a'=6 wins
    assert got[0] == (1, "a a", 6)
    # after merge: 'aa a b'x3, 'a b'x2 -> round 2: 'a b'=5 vs 'aa a'=3
    assert got[1] == (2, "a b", 5)
    # after merge: 'aa ab'x3, 'ab'x2 -> round 3: 'aa ab'=3
    assert got[2] == (3, "aa ab", 3)


def test_bpe_merges_adjacent_runs_like_reference(spark):
    """Sennrich semantics on symbol runs: merging (c, c) in 'c c c c'
    yields 'cc cc' (BOTH adjacent occurrences), not 'cc c c' — the
    double-space-delimiter replace matches the lookaround-regex
    reference (code-review r4 finding)."""
    from cumulus_etl_spark.operators.textstats import bpe_train_merges

    docs = spark.createDataFrame([(1, "cccc cccc")], "doc_id long, text string")
    got = [(r["merge_round"], r["pair"], r["n"])
           for r in bpe_train_merges(docs, n_merges=2).collect()]
    # 'c c c c' x2 words (deduped to one vocab row of n=2): (c,c) = 3*2
    assert got[0] == (1, "c c", 6)
    # fixed semantics: 'c c c c' -> 'cc cc', so round 2 sees (cc, cc) = 2
    assert got[1] == (2, "cc cc", 2)


def test_bpe_top_counts_non_increasing(spark):
    """Each BPE round's winning count can't exceed the previous round's:
    a merge only removes occurrences of existing pairs, and any new pair
    (x, ab) occurs at most as often as the old (x, a) did."""
    from cumulus_etl_spark.operators.textstats import bpe_train_merges
    from cumulus_etl_spark.sources import table

    d = table(spark, SF, "documents")
    rows = bpe_train_merges(d, n_merges=6).orderBy("merge_round").collect()
    counts = [r["n"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(" " in r["pair"] for r in rows)  # pairs are two symbols
