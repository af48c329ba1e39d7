"""Streaming PSI drift monitor (streaming/drift.py).

The pinned invariant: after ANY batch split, the monitor's report equals
psi_drift(reference, concat(batches)) — the batch operator (hash-pinned
through the `profile_psi_drift_multi` oracle row) over the same data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cumulus_etl_spark.operators.drift import psi_drift
from cumulus_etl_spark.streaming.drift import StreamingPsiMonitor, streaming_psi
from tests.test_drift import _STATS, key_paths, shape_snapshots


def _snap(spark, values):
    return spark.createDataFrame([(float(v),) for v in values], "x double")


def _rows(report):
    return sorted(tuple(r) for r in report.collect())


def test_streaming_fold_equals_batch_psi_over_any_split(spark, tmp_path):
    ref = [0.5] * 40 + [1.5] * 40 + [2.5] * 20
    arriving = [0.5] * 10 + [1.5] * 50 + [2.5] * 40
    mon = StreamingPsiMonitor(spark, str(tmp_path / "mon"), "x", 1.0, 4)
    mon.set_reference(_snap(spark, ref))
    # three uneven batches
    for lo, hi in ((0, 7), (7, 60), (60, 100)):
        mon.ingest_batch(_snap(spark, arriving[lo:hi]))
    want = psi_drift(_snap(spark, ref), _snap(spark, arriving), "x", 1.0, 4)
    assert _rows(mon.report()) == _rows(want)
    total = want.agg(F.sum("psi_contrib")).collect()[0][0]
    assert mon.psi() == pytest.approx(round(total, 6), abs=1e-9)


def test_replayed_batch_is_skipped_not_double_counted(spark, tmp_path):
    mon = StreamingPsiMonitor(spark, str(tmp_path / "mon"), "x", 1.0, 4)
    mon.set_reference(_snap(spark, [0.5] * 10))
    mon.ingest_batch(_snap(spark, [0.5] * 5), batch_id=0)
    before = _rows(mon.report())
    mon.ingest_batch(_snap(spark, [0.5] * 5), batch_id=0)  # crash replay
    assert _rows(mon.report()) == before
    mon.ingest_batch(_snap(spark, [1.5] * 5), batch_id=1)  # new batch folds
    after = {r["bucket"]: r["n_actual"] for r in mon.report().collect()}
    assert after == {0: 5, 1: 5}


def test_rebaseline_replaces_reference_keeps_actuals(spark, tmp_path):
    mon = StreamingPsiMonitor(spark, str(tmp_path / "mon"), "x", 1.0, 4)
    mon.set_reference(_snap(spark, [0.5] * 10))
    mon.ingest_batch(_snap(spark, [0.5] * 6 + [1.5] * 2))
    assert mon.psi() > 0.0
    # re-baseline to the observed distribution: drift reads zero
    mon.set_reference(_snap(spark, [0.5] * 6 + [1.5] * 2))
    assert mon.psi() == 0.0
    counts = {r["bucket"]: r["n_actual"] for r in mon.report().collect()}
    assert counts == {0: 6, 1: 2}  # cumulative actuals untouched


def test_mismatched_binning_refuses_to_reopen(spark, tmp_path):
    root = str(tmp_path / "mon")
    StreamingPsiMonitor(spark, root, "x", 1.0, 4)
    with pytest.raises(ValueError, match="mismatched binning"):
        StreamingPsiMonitor(spark, root, "x", 2.0, 4)
    with pytest.raises(ValueError, match="mismatched binning"):
        StreamingPsiMonitor(spark, root, "y", 1.0, 4)
    # same config reopens fine
    StreamingPsiMonitor(spark, root, "x", 1.0, 4)


def test_report_without_reference_fails_loudly(spark, tmp_path):
    mon = StreamingPsiMonitor(spark, str(tmp_path / "mon"), "x", 1.0, 4)
    with pytest.raises(ValueError, match="set_reference"):
        mon.report()


def test_streaming_psi_availablenow_checkpointed(spark, tmp_path):
    """End-to-end wrapper: files land, fold; a second run with no new
    files is a no-op (availableNow + checkpoint); new files fold
    incrementally and the report tracks the batch operator."""
    landing = str(tmp_path / "landing")
    ref = _snap(spark, [0.5] * 50 + [1.5] * 50)
    wave1 = [0.5] * 30 + [1.5] * 10
    _snap(spark, wave1).write.parquet(landing)
    args = (spark, landing, str(tmp_path / "mon"), str(tmp_path / "ckpt"),
            "x double", "x", ref, 1.0, 4)
    mon = streaming_psi(*args)
    want1 = psi_drift(ref, _snap(spark, wave1), "x", 1.0, 4)
    assert _rows(mon.report()) == _rows(want1)

    mon = streaming_psi(*args)  # no new files: identical state
    assert _rows(mon.report()) == _rows(want1)

    wave2 = [1.5] * 40
    _snap(spark, wave2).write.parquet(landing, mode="append")
    mon = streaming_psi(*args)
    want2 = psi_drift(ref, _snap(spark, wave1 + wave2), "x", 1.0, 4)
    assert _rows(mon.report()) == _rows(want2)


def test_monitor_randomized_splits_and_replays_equal_batch(spark, tmp_path):
    """Seeded fuzz (the r10 randomized-replay hardening discipline):
    random batch splits with random mid-stream replays must always land
    on psi_drift over the concatenated data — replays skipped, order of
    arrival irrelevant to the final histogram."""
    import random

    rng = random.Random(11)
    for case in range(3):
        n = rng.randint(30, 120)
        ref = [rng.uniform(0, 4) for _ in range(80)]
        arriving = [rng.uniform(0, 4) for _ in range(n)]
        mon = StreamingPsiMonitor(
            spark, str(tmp_path / f"mon{case}"), "x", 1.0, 4
        )
        mon.set_reference(_snap(spark, ref))
        # random split points
        cuts = sorted(rng.sample(range(1, n), min(3, n - 1))) + [n]
        lo = 0
        batch_id = 0
        for hi in cuts:
            mon.ingest_batch(_snap(spark, arriving[lo:hi]), batch_id=batch_id)
            if rng.random() < 0.5:  # crash replay of the same batch
                mon.ingest_batch(_snap(spark, arriving[lo:hi]), batch_id=batch_id)
            if rng.random() < 0.3 and batch_id > 0:  # stale replay
                mon.ingest_batch(_snap(spark, arriving[:5]), batch_id=0)
            lo = hi
            batch_id += 1
        want = psi_drift(_snap(spark, ref), _snap(spark, arriving), "x", 1.0, 4)
        assert _rows(mon.report()) == _rows(want), case


def test_drift_monitor_cli_verb(spark, tmp_path, capsys):
    """The drift-monitor verb folds a landing dir incrementally: a
    second invocation with no new files reports identical state; new
    files move the PSI."""
    import json

    from cumulus_etl_spark.cli import main

    ref_path = str(tmp_path / "ref")
    _snap(spark, [0.5] * 50 + [1.5] * 50).write.parquet(ref_path)
    landing = str(tmp_path / "landing")
    _snap(spark, [0.5] * 40).write.parquet(landing)

    argv = ["drift-monitor", landing, str(tmp_path / "mon"),
            "--reference", ref_path, "--column", "x",
            "--bucket-width", "1.0", "--buckets", "4",
            "--schema", "x double"]
    rc = main(argv)
    assert rc == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["n_actual_total"] == 40
    assert rep1["psi"] > 0.25 and rep1["verdict"] == "action"  # 100%/50% split

    rc = main(argv)  # no new files: availableNow+checkpoint no-op
    assert rc == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2 == rep1

    _snap(spark, [1.5] * 40).write.parquet(landing, mode="append")
    rc = main(argv)
    assert rc == 0
    rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep3["n_actual_total"] == 80
    assert rep3["psi"] == 0.0 and rep3["verdict"] == "stable"  # back to 50/50
    # r13: KS/JS quoted from the same collected histogram (the batch
    # drift verb's report shape) — zero at the balanced state, real at
    # the drifted one
    assert rep3["ks_stat"] == 0.0 and rep3["js_divergence"] == 0.0
    assert rep1["ks_stat"] > 0.3 and rep1["js_divergence"] > 0.05


def test_monitor_ingest_filters_nulls(spark, tmp_path):
    """The monitor shares the batch operator's null policy: a NULL in a
    micro-batch is dropped, never binned into an edge bucket."""
    mon = StreamingPsiMonitor(spark, str(tmp_path / "mon"), "x", 1.0, 4)
    mon.set_reference(_snap(spark, [0.5] * 10))
    withnulls = spark.createDataFrame(
        [(0.5,), (None,), (0.5,), (None,), (1.5,)], "x double"
    )
    mon.ingest_batch(withnulls)
    counts = {r["bucket"]: r["n_actual"] for r in mon.report().collect()}
    assert counts == {0: 2, 1: 1}  # 2 nulls gone, not in bucket 3


def test_fresh_checkpoint_on_established_monitor_rejected(spark, tmp_path):
    """ADVICE r11 (low): stream batch ids are PER-CHECKPOINT — pointing
    an established monitor at a new checkpoint dir would restart ids at
    0 and the replay watermark would silently drop/refold batches. The
    first checkpoint path is pinned; a mismatch is a loud error."""
    landing = str(tmp_path / "landing")
    ref = _snap(spark, [0.5] * 20)
    _snap(spark, [0.5] * 10).write.parquet(landing)
    streaming_psi(spark, landing, str(tmp_path / "mon"),
                  str(tmp_path / "ckpt1"), "x double", "x", ref, 1.0, 4)
    with pytest.raises(ValueError, match="per-checkpoint"):
        streaming_psi(spark, landing, str(tmp_path / "mon"),
                      str(tmp_path / "ckpt2"), "x double", "x", ref, 1.0, 4)


def test_established_monitor_never_reads_reference(spark, tmp_path):
    """ADVICE r11 (low): the reference is frozen on first open — an
    established monitor must run with reference=None (the original
    snapshot may have been moved or deleted), and a passed loader must
    not even be invoked."""
    landing = str(tmp_path / "landing")
    _snap(spark, [0.5] * 10).write.parquet(landing)
    args = (spark, landing, str(tmp_path / "mon"), str(tmp_path / "ckpt"),
            "x double", "x")
    mon = streaming_psi(*args, _snap(spark, [0.5] * 20), 1.0, 4)
    before = _rows(mon.report())

    mon = streaming_psi(*args, None, 1.0, 4)  # no reference at all
    assert _rows(mon.report()) == before

    def exploding_loader():
        raise AssertionError("established monitor resolved the reference")

    mon = streaming_psi(*args, exploding_loader, 1.0, 4)
    assert _rows(mon.report()) == before


def test_new_monitor_without_reference_fails_loudly(spark, tmp_path):
    landing = str(tmp_path / "landing")
    _snap(spark, [0.5] * 10).write.parquet(landing)
    with pytest.raises(ValueError, match="no frozen baseline"):
        streaming_psi(spark, landing, str(tmp_path / "mon"),
                      str(tmp_path / "ckpt"), "x double", "x", None, 1.0, 4)


def test_drift_monitor_cli_rerun_without_reference(spark, tmp_path, capsys):
    """The verb's --reference is only required on first open: a re-run
    may omit it entirely — even after the snapshot is deleted."""
    import json
    import shutil

    from cumulus_etl_spark.cli import main

    ref_path = str(tmp_path / "ref")
    _snap(spark, [0.5] * 50 + [1.5] * 50).write.parquet(ref_path)
    landing = str(tmp_path / "landing")
    _snap(spark, [0.5] * 40).write.parquet(landing)
    base = ["drift-monitor", landing, str(tmp_path / "mon"),
            "--column", "x", "--bucket-width", "1.0", "--buckets", "4",
            "--schema", "x double"]
    rc = main(base + ["--reference", ref_path])
    assert rc == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    shutil.rmtree(ref_path)  # baseline frozen; the snapshot may go away
    rc = main(base)  # no --reference on re-run
    assert rc == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2 == rep1


def test_binning_semantics_version_guards_reopen(spark, tmp_path):
    """The binning convention is part of the monitor's identity: a
    config sidecar written under a DIFFERENT binning version (e.g. the
    pre-r12 unclamped floor division) must be rejected on reopen —
    cumulative histogram state is only mergeable with batches binned
    the same way, and a silent mix would corrupt the edge buckets."""
    import json
    import os

    from cumulus_etl_spark.sources import hadoop_io

    root = str(tmp_path / "mon")
    mon = StreamingPsiMonitor(spark, root, "x", 1.0, 4)
    mon.set_reference(_snap(spark, [0.5] * 10))

    cfg_path = os.path.join(root, "_psi_config.json")
    legacy = json.loads(hadoop_io.read_text(spark, cfg_path))
    legacy.pop("binning")  # a pre-r12 sidecar has no binning field
    hadoop_io.write_text(spark, cfg_path, json.dumps(legacy))
    with pytest.raises(ValueError, match="mismatched binning"):
        StreamingPsiMonitor(spark, root, "x", 1.0, 4)


def test_reopen_loads_config_from_sidecar_when_omitted(spark, tmp_path):
    """r12 advice: the docstring's 'pass None once the baseline exists'
    call shape must actually work — an established monitor reopened
    without value_col/bucket_width/n_buckets inherits them from its
    config sidecar instead of raising 'bucket_width must be > 0'."""
    landing = str(tmp_path / "landing")
    ref = _snap(spark, [0.5] * 50 + [1.5] * 50)
    wave1 = [0.5] * 30 + [1.5] * 10
    _snap(spark, wave1).write.parquet(landing)
    mon_root, ckpt = str(tmp_path / "mon"), str(tmp_path / "ckpt")
    streaming_psi(spark, landing, mon_root, ckpt, "x double",
                  "x", ref, 1.0, 4)

    # reopen with EVERY binning parameter omitted
    wave2 = [1.5] * 40
    _snap(spark, wave2).write.parquet(landing, mode="append")
    mon = streaming_psi(spark, landing, mon_root, ckpt, "x double")
    assert (mon.value_col, mon.bucket_width, mon.n_buckets) == ("x", 1.0, 4)
    want = psi_drift(ref, _snap(spark, wave1 + wave2), "x", 1.0, 4)
    assert _rows(mon.report()) == _rows(want)

    # the ctor itself also reopens from the sidecar...
    again = StreamingPsiMonitor(spark, mon_root)
    assert (again.value_col, again.bucket_width, again.n_buckets) == ("x", 1.0, 4)
    # ...and an explicitly-passed MISMATCH still fails loudly
    with pytest.raises(ValueError, match="mismatched binning"):
        StreamingPsiMonitor(spark, mon_root, "x", 2.0, 4)


def test_new_monitor_without_binning_params_fails_loudly(spark, tmp_path):
    """A FIRST open may not guess a grid: omitting the binning params
    on a root with no sidecar names exactly what is missing."""
    with pytest.raises(ValueError, match="bucket_width.*first open"):
        StreamingPsiMonitor(spark, str(tmp_path / "fresh"), value_col="x")


# ---- multi-column monitor (r13, round-12 verdict ask 5) -------------------


def _snap2(spark, pairs):
    return spark.createDataFrame(
        [(float(a), float(b)) for a, b in pairs], "a double, b double"
    )


def test_multi_fold_equals_batch_psi_multi_over_any_split(spark, tmp_path):
    """The pinned invariant, multi-column: after ANY batch split the
    monitor's report EQUALS psi_drift_multi(reference, concat(batches))
    — same melt, same reference-derived grid, same windowed tail."""
    from cumulus_etl_spark.operators.drift import psi_drift_multi
    from cumulus_etl_spark.streaming.drift import StreamingDriftMonitor

    ref_pairs = [(i % 8, (i * 3) % 12) for i in range(120)]
    arriving = [(i % 5, (i * 7) % 6) for i in range(90)]
    mon = StreamingDriftMonitor(spark, str(tmp_path / "mon"), ["a", "b"], 4)
    mon.set_reference(_snap2(spark, ref_pairs))
    for lo, hi in ((0, 17), (17, 60), (60, 90)):  # three uneven batches
        mon.ingest_batch(_snap2(spark, arriving[lo:hi]))
    want = psi_drift_multi(
        _snap2(spark, ref_pairs), _snap2(spark, arriving), ["a", "b"], 4
    )
    assert _rows(mon.report()) == _rows(want)
    # state stays bounded: <= 2 * n_buckets * |columns| rows
    assert mon.table.read().count() <= 2 * 4 * 2


def test_multi_replay_skipped_and_report_dict(spark, tmp_path):
    from cumulus_etl_spark.streaming.drift import StreamingDriftMonitor

    mon = StreamingDriftMonitor(spark, str(tmp_path / "mon"), ["a", "b"], 4)
    mon.set_reference(_snap2(spark, [(0, 0), (3, 9), (1, 3), (2, 6)] * 5))
    mon.ingest_batch(_snap2(spark, [(0, 0), (3, 9)] * 3), batch_id=0)
    before = _rows(mon.report())
    mon.ingest_batch(_snap2(spark, [(0, 0), (3, 9)] * 3), batch_id=0)  # replay
    assert _rows(mon.report()) == before

    rep = mon.report_dict()
    assert set(rep["columns"]) == {"a", "b"}
    for c in ("a", "b"):
        col = rep["columns"][c]
        assert set(col) == {"psi", "verdict", "ks_stat", "js_divergence",
                            "n_expected", "n_actual"}
        assert col["n_expected"] == 20 and col["n_actual"] == 6
    assert rep["worst_psi"] == max(v["psi"] for v in rep["columns"].values())


def test_multi_grid_persisted_reference_never_rescanned(spark, tmp_path):
    """The reference-derived grid freezes in the sidecar at
    set_reference: a reopened monitor (no params at all) keeps binning
    identically WITHOUT the reference — and ingest works before any
    report, purely off the sidecar grid."""
    from cumulus_etl_spark.streaming.drift import StreamingDriftMonitor

    root = str(tmp_path / "mon")
    ref = [(i % 8, (i * 3) % 12) for i in range(80)]
    mon = StreamingDriftMonitor(spark, root, ["a", "b"], 4)
    mon.set_reference(_snap2(spark, ref))
    mon.ingest_batch(_snap2(spark, [(9.0, 0.0)] * 5), batch_id=0)

    again = StreamingDriftMonitor(spark, root)  # reopen, nothing passed
    assert again.value_cols == ["a", "b"] and again.n_buckets == 4
    assert again.grid == mon.grid
    again.ingest_batch(_snap2(spark, [(0.0, 11.0)] * 5), batch_id=1)
    counts = {
        (r["column"], r["bucket"]): r["n_actual"]
        for r in again.report().collect()
    }
    # 9.0 > ref max of a (7) clamps high; 11.0 == ref max of b bins last
    assert counts[("a", 3)] == 5 and counts[("b", 3)] == 5


def test_multi_rebaseline_with_changed_grid_rejected(spark, tmp_path):
    from cumulus_etl_spark.streaming.drift import StreamingDriftMonitor

    mon = StreamingDriftMonitor(spark, str(tmp_path / "mon"), ["a"], 4)
    mon.set_reference(_snap2(spark, [(i % 8, 0) for i in range(40)]))
    mon.ingest_batch(_snap2(spark, [(1.0, 0.0)] * 5))
    # same range: re-baseline fine (expected side replaced)
    mon.set_reference(_snap2(spark, [(i % 8, 0) for i in range(24)]))
    # different range -> different grid: loud error, counts unrebinnable
    with pytest.raises(ValueError, match="cannot be rebinned"):
        mon.set_reference(_snap2(spark, [(i % 5, 0) for i in range(40)]))


def test_multi_identity_mismatch_rejected(spark, tmp_path):
    from cumulus_etl_spark.streaming.drift import StreamingDriftMonitor

    root = str(tmp_path / "mon")
    StreamingDriftMonitor(spark, root, ["a", "b"], 4)
    with pytest.raises(ValueError, match="mismatched binning"):
        StreamingDriftMonitor(spark, root, ["a"], 4)
    with pytest.raises(ValueError, match="mismatched binning"):
        StreamingDriftMonitor(spark, root, ["a", "b"], 8)
    StreamingDriftMonitor(spark, root, ["a", "b"], 4)  # same: fine
    with pytest.raises(ValueError, match="first open"):
        StreamingDriftMonitor(spark, str(tmp_path / "fresh"), ["a"])


def test_streaming_drift_multi_availablenow_checkpointed(spark, tmp_path):
    """End-to-end wrapper: availableNow fold, checkpoint no-op on
    re-run, incremental tracking of the batch operator, and the
    inherited checkpoint-identity guard."""
    from cumulus_etl_spark.operators.drift import psi_drift_multi
    from cumulus_etl_spark.streaming.drift import streaming_drift_multi

    landing = str(tmp_path / "landing")
    ref_pairs = [(i % 8, (i * 3) % 12) for i in range(100)]
    ref = _snap2(spark, ref_pairs)
    wave1 = [(i % 5, (i * 7) % 6) for i in range(40)]
    _snap2(spark, wave1).write.parquet(landing)
    args = (spark, landing, str(tmp_path / "mon"), str(tmp_path / "ckpt"),
            "a double, b double")
    mon = streaming_drift_multi(*args, ["a", "b"], ref, 4)
    want1 = psi_drift_multi(ref, _snap2(spark, wave1), ["a", "b"], 4)
    assert _rows(mon.report()) == _rows(want1)

    # re-run: no new files, nothing re-folded; params load from sidecar
    mon = streaming_drift_multi(*args)
    assert _rows(mon.report()) == _rows(want1)

    wave2 = [(0.0, 1.0)] * 30
    _snap2(spark, wave2).write.parquet(landing, mode="append")
    mon = streaming_drift_multi(*args)
    want2 = psi_drift_multi(
        ref, _snap2(spark, wave1 + wave2), ["a", "b"], 4
    )
    assert _rows(mon.report()) == _rows(want2)

    # checkpoint identity inherited: a fresh ckpt dir is rejected
    with pytest.raises(ValueError, match="per-checkpoint"):
        streaming_drift_multi(spark, landing, str(tmp_path / "mon"),
                              str(tmp_path / "ckpt2"), "a double, b double")


def test_drift_monitor_cli_columns(spark, tmp_path, capsys):
    import json

    from cumulus_etl_spark.cli import main

    landing = str(tmp_path / "landing")
    ref_path = str(tmp_path / "ref")
    _snap2(spark, [(i % 8, (i * 3) % 12) for i in range(100)]).write.parquet(
        ref_path
    )
    _snap2(spark, [(i % 8, 0.0) for i in range(50)]).write.parquet(landing)
    rc = main(["drift-monitor", landing, str(tmp_path / "mon"),
               "--reference", ref_path, "--columns", "a,b",
               "--buckets", "4", "--schema", "a double, b double",
               "--checkpoint", str(tmp_path / "ckpt")])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(rep["columns"]) == {"a", "b"}
    assert rep["columns"]["a"]["psi"] < 0.1          # same distribution
    assert rep["columns"]["b"]["psi"] > 0.25         # collapsed to 0
    assert rep["columns"]["b"]["ks_stat"] > 0.5
    assert rep["verdict"] == "action"
    # single/multi flags are mutually exclusive; width is single-only
    with pytest.raises(SystemExit, match="at most one"):
        main(["drift-monitor", landing, str(tmp_path / "m2"),
              "--column", "a", "--columns", "a,b",
              "--schema", "a double, b double"])
    with pytest.raises(SystemExit, match="single-column"):
        main(["drift-monitor", landing, str(tmp_path / "m2"),
              "--columns", "a,b", "--bucket-width", "1.0",
              "--schema", "a double, b double"])


# ---- categorical monitor (r13) ---------------------------------------------


def _cats(spark, values):
    return spark.createDataFrame([(v,) for v in values], "src string")


def test_cat_fold_equals_batch_categorical_drift_over_any_split(spark, tmp_path):
    """The pinned invariant, categorical: after ANY batch split the
    monitor's report EQUALS categorical_drift(reference,
    concat(batches)) — same top-k universe rule, same __other__ fold,
    literally psi_from_counts as the tail."""
    from cumulus_etl_spark.operators.drift import categorical_drift
    from cumulus_etl_spark.streaming.drift import StreamingCategoricalMonitor

    ref = ["a"] * 50 + ["b"] * 30 + ["c"] * 15 + ["d"] * 5
    arriving = (["a"] * 20 + ["c"] * 25 + ["zz_new"] * 30 + ["d"] * 5)
    mon = StreamingCategoricalMonitor(spark, str(tmp_path / "mon"), "src", 3)
    mon.set_reference(_cats(spark, ref))
    for lo, hi in ((0, 13), (13, 52), (52, 80)):  # uneven batches
        mon.ingest_batch(_cats(spark, arriving[lo:hi]))
    want = categorical_drift(
        _cats(spark, ref), _cats(spark, arriving), "src", top_k=3
    )
    assert _rows(mon.report()) == _rows(want)
    # state bounded: <= 2 * (top_k + 1) rows
    assert mon.table.read().count() <= 2 * 4

    rep = mon.report_dict()
    assert rep["mode"] == "categorical"
    assert rep["n_actual"] == 80 and rep["n_expected"] == 100
    assert rep["chi2"] > 0 and 0 < rep["cramers_v"] <= 1


def test_cat_replay_skipped_and_universe_persisted(spark, tmp_path):
    from cumulus_etl_spark.streaming.drift import StreamingCategoricalMonitor

    root = str(tmp_path / "mon")
    mon = StreamingCategoricalMonitor(spark, root, "src", 2)
    mon.set_reference(_cats(spark, ["a"] * 5 + ["b"] * 3 + ["c"] * 1))
    assert mon.universe == ["a", "b"]
    mon.ingest_batch(_cats(spark, ["a", "zz"] * 3), batch_id=0)
    before = _rows(mon.report())
    mon.ingest_batch(_cats(spark, ["a", "zz"] * 3), batch_id=0)  # replay
    assert _rows(mon.report()) == before

    # reopen with nothing: universe + identity load from the sidecar
    again = StreamingCategoricalMonitor(spark, root)
    assert (again.category_col, again.top_k) == ("src", 2)
    assert again.universe == ["a", "b"]
    again.ingest_batch(_cats(spark, ["b"] * 4), batch_id=1)
    counts = {r["category"]: r["n_actual"] for r in again.report().collect()}
    assert counts == {"a": 3, "b": 4, "__other__": 3}

    # same universe re-baseline fine; a different one rejected
    again.set_reference(_cats(spark, ["a"] * 9 + ["b"] * 4 + ["q"] * 2))
    with pytest.raises(ValueError, match="re-split"):
        again.set_reference(_cats(spark, ["q"] * 9 + ["b"] * 4))
    # identity mismatch rejected; missing params on a FRESH root loud
    with pytest.raises(ValueError, match="mismatched binning"):
        StreamingCategoricalMonitor(spark, root, "src", 5)
    with pytest.raises(ValueError, match="first open"):
        StreamingCategoricalMonitor(spark, str(tmp_path / "fresh"), "src")


def test_streaming_categorical_availablenow_and_cli(spark, tmp_path, capsys):
    import json

    from cumulus_etl_spark.cli import main
    from cumulus_etl_spark.operators.drift import categorical_drift
    from cumulus_etl_spark.streaming.drift import streaming_categorical_drift

    landing = str(tmp_path / "landing")
    ref_path = str(tmp_path / "ref")
    ref_vals = ["web"] * 60 + ["pdf"] * 40
    _cats(spark, ref_vals).write.parquet(ref_path)
    wave1 = ["web"] * 30 + ["pdf"] * 10
    _cats(spark, wave1).write.parquet(landing)

    argv = ["drift-monitor", landing, str(tmp_path / "mon"),
            "--reference", ref_path, "--column", "src", "--categorical",
            "--top-k", "5", "--schema", "src string",
            "--checkpoint", str(tmp_path / "ckpt")]
    assert main(argv) == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["n_actual"] == 40 and rep1["mode"] == "categorical"

    assert main(argv) == 0  # no new files: availableNow no-op
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {k: v for k, v in rep2.items()} == rep1

    wave2 = ["crawl2"] * 60
    _cats(spark, wave2).write.parquet(landing, mode="append")
    assert main(argv) == 0
    rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep3["n_actual"] == 100 and rep3["verdict"] == "action"
    cats = {c["category"]: c for c in rep3["categories"]}
    assert cats["__other__"]["n_actual"] == 60

    # report tracks the batch operator end-to-end
    mon = streaming_categorical_drift(
        spark, landing, str(tmp_path / "mon"),
        str(tmp_path / "ckpt"), "src string")
    want = categorical_drift(
        _cats(spark, ref_vals), _cats(spark, wave1 + wave2), "src", top_k=5
    )
    assert _rows(mon.report()) == _rows(want)

    # inherited checkpoint-identity guard
    with pytest.raises(ValueError, match="per-checkpoint"):
        streaming_categorical_drift(
            spark, landing, str(tmp_path / "mon"),
            str(tmp_path / "ckpt_other"), "src string")
    # flag validation
    with pytest.raises(SystemExit, match="takes only"):
        main(["drift-monitor", landing, str(tmp_path / "m2"),
              "--column", "src", "--categorical", "--bucket-width", "1.0",
              "--schema", "src string"])


# ---- shared driver: a crash before the reference histogram commits --------


@pytest.mark.parametrize("kind", ["multi", "categorical", "psi"])
def test_crash_before_reference_merge_recovers(spark, tmp_path, monkeypatch, kind):
    """A first run that crashes between the config-sidecar write and the
    expected-histogram merge must not wedge the monitor: the driver asks
    the TABLE, not the sidecar, whether a baseline exists, so a re-run
    with the same reference freezes it and folds the landing data like
    the batch operator."""
    from cumulus_etl_spark.operators.drift import categorical_drift, psi_drift_multi
    from cumulus_etl_spark.sinks import ManagedTable
    from cumulus_etl_spark.streaming.drift import (
        streaming_categorical_drift,
        streaming_drift_multi,
    )

    if kind == "multi":
        ref = _snap2(spark, [(i % 8, (i * 3) % 12) for i in range(60)])
        wave = _snap2(spark, [(i % 5, (i * 7) % 6) for i in range(30)])
        schema, want = "a double, b double", psi_drift_multi(ref, wave, ["a", "b"], 4)
        run = lambda root, ckpt: streaming_drift_multi(
            spark, landing, root, ckpt, schema, ["a", "b"], ref, 4)
    elif kind == "categorical":
        ref = _cats(spark, ["a"] * 6 + ["b"] * 4 + ["c"] * 2)
        wave = _cats(spark, ["a"] * 2 + ["c"] * 5 + ["zz"] * 3)
        schema, want = "src string", categorical_drift(ref, wave, "src", top_k=2)
        run = lambda root, ckpt: streaming_categorical_drift(
            spark, landing, root, ckpt, schema, "src", ref, 2)
    else:
        ref = _snap(spark, [0.5] * 6 + [1.5] * 4)
        wave = _snap(spark, [0.5] * 2 + [2.5] * 5)
        schema, want = "x double", psi_drift(ref, wave, "x", 1.0, 4)
        run = lambda root, ckpt: streaming_psi(
            spark, landing, root, ckpt, schema, "x", ref, 1.0, 4)
    landing = str(tmp_path / "landing")
    wave.write.parquet(landing)

    real_merge = ManagedTable.merge
    calls = []

    def crash_first_merge(self, *args, **kwargs):
        calls.append(self.name)
        if len(calls) == 1:
            raise RuntimeError("injected crash before the reference merge")
        return real_merge(self, *args, **kwargs)

    monkeypatch.setattr(ManagedTable, "merge", crash_first_merge)
    root, ckpt = str(tmp_path / "mon"), str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="injected crash"):
        run(root, ckpt)
    mon = run(root, ckpt)  # same reference, same checkpoint
    assert _rows(mon.report()) == _rows(want)


@pytest.mark.parametrize("mode,flags,want", [
    ("column", ["--column", "x", "--bucket-width", "1.0", "--buckets", "4"], {
        "$": ["column", *_STATS, "n_actual_total", "buckets", "monitor"],
        "$.buckets[]": ["bucket", "n_expected", "n_actual", "psi_contrib"],
    }),
    ("columns", ["--columns", "x,y", "--buckets", "4"], {
        "$": ["columns", "worst_psi", "verdict", "monitor"],
        "$.columns": ["x", "y"],
        "$.columns.x": [*_STATS, "n_expected", "n_actual"],
        "$.columns.y": [*_STATS, "n_expected", "n_actual"],
    }),
    ("categorical", ["--column", "src", "--categorical"], {
        "$": ["column", "mode", "psi", "verdict", "chi2", "cramers_v",
              "n_expected", "n_actual", "categories", "monitor"],
        "$.categories[]": ["category", "n_expected", "n_actual", "psi_contrib"],
    }),
], ids=["column", "columns", "categorical"])
def test_drift_monitor_cli_report_key_order(spark, tmp_path, capsys, mode, flags, want):
    """The printed key order at every level, on the batch verb's fixture."""
    import json

    from cumulus_etl_spark.cli import main

    ref_path, landing = shape_snapshots(spark, tmp_path)
    assert main(["drift-monitor", landing, str(tmp_path / "mon"),
                 "--reference", ref_path, *flags,
                 "--schema", "x double, y double, src string, ts timestamp"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert key_paths(rep) == want, mode
