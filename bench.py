"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints TWO JSON lines: a full-detail record first (per-query sf0.1
timings, the whole sf1 scale block, noise telemetry), then a compact
summary LAST (<=1.9 KB guarded) —
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
The driver stores only the last ~2,000 chars of stdout, so the final
line alone must parse and carry both SF totals (round-8 verdict ask 2).

value = total wall time of the headline set (lower is better). Each query
is fully materialized via a count-ish action that forces every column
(df.write to noop would skip nothing; we use collect on small results and
count on large ones via a cheap hash agg).
"""

from __future__ import annotations

import json
import os
import time

from cumulus_etl_spark.plans import CATALOG
from cumulus_etl_spark.plans.catalog import BENCH_RIGS
from cumulus_etl_spark.session import get_spark


def materialize(df) -> int:
    """Force full evaluation of every output column (not just count)."""
    from pyspark.sql import functions as F

    agg = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.count("h").alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
    )
    row = agg.collect()[0]
    return int(row["n"])


# ---- sf1 scale rig (round-7 verdict ask 3) ----
#
# No sf1 testdata exists, so the bench synthesizes one: a 10× key-shifted
# replication of sf0.1 cached under the repo (gitignored). Every id/key
# column gets +copy·1e7 so each copy joins only within itself (join
# fan-outs preserved exactly); `source` is salted per copy (10× the
# group count for per-source ops); embeddings are cyclically rotated per
# copy (norms and within-copy geometry preserved, cross-copy cosine
# decorrelated). Texts replicate VERBATIM — content-dedup ops therefore
# see 10-sized exact-duplicate clusters, which is a dedup STRESS test on
# top of the volume scale-up, not pure weak scaling; the scale block
# says so.

SCALE_COPIES = 10
# Must exceed every sf0.1 key (max is l_orderkey 149,999) for copy
# separation, while keeping shifted ids under 2^32 — the graph operators
# pack node ids into the halves of a 64-bit degree-order key and fail
# loudly past that (operators/graph.py id-range guard).
SCALE_OFFSET = 10_000_000
SCALE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_scale_sf1")
# probe_1e7_s of a quiet 4-cpu reference host (perfbench/run.py PROBE_REF_S)
PROBE_REF_S = 0.3
_SCALE_KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def ensure_scale_dataset(spark, src_dir: str, dst_dir: str) -> bool:
    """Build (once, cached) the synthetic sf1 replication. Returns True
    when generation ran this call."""
    from pyspark.sql import functions as F

    marker = os.path.join(dst_dir, "_COMPLETE")
    stamp = f"copies={SCALE_COPIES} offset={SCALE_OFFSET} src={src_dir}\n"
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == stamp:
                return False
        # parameters changed since the cache was built — regenerate
        import shutil

        shutil.rmtree(dst_dir, ignore_errors=True)
    copies = spark.range(SCALE_COPIES).select(F.col("id").cast("int").alias("__c"))
    for t in ("region", "nation"):  # dims: single copy
        spark.read.parquet(f"{src_dir}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dst_dir}/{t}.parquet"
        )
    for t, keys in _SCALE_KEYED.items():
        df = spark.read.parquet(f"{src_dir}/{t}.parquet").crossJoin(copies)
        cols = []
        for f in df.columns:
            if f == "__c":
                continue
            if f in keys:
                cols.append(
                    (F.col(f) + F.col("__c").cast("long") * SCALE_OFFSET).alias(f)
                )
            elif t == "documents" and f == "source":
                cols.append(F.concat("source", F.lit("~"), "__c").alias(f))
            elif t == "embeddings" and f == "embedding":
                cols.append(
                    F.expr(
                        "concat(slice(embedding, __c + 1, size(embedding) - __c),"
                        " slice(embedding, 1, __c))"
                    ).alias(f)
                )
            else:
                cols.append(F.col(f))
        df.select(cols).write.mode("overwrite").parquet(f"{dst_dir}/{t}.parquet")
    with open(marker, "w") as fh:
        fh.write(stamp)
    return True


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="cumulus-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    bench_queries = {name: q for name, q in CATALOG.items() if q.bench}
    bench_queries.update(BENCH_RIGS)  # bench-only rigs (e.g. deid scrub)
    # Warm the JVM + file listing once with the cheapest query.
    try:
        materialize(CATALOG["q1_pricing_summary"].build(spark, sf_dir))
    except Exception:
        pass

    # Noise indicator (round-5 verdict ask 10): the r5 numbers drifted
    # +9-22% uniformly from CPU contention with nothing in the repo
    # recording it. Two defenses: (a) each query runs TWICE and reports
    # the min (steady-state, scheduler hiccups drop out); (b) loadavg
    # before/after is recorded so a contended run is visible in the JSON.
    load_start = os.getloadavg()
    # Host-drift anchor (r13 verdict ask 8): the sandbox host changed
    # silicon mid-r13 and every per-query delta was dominated by it. A
    # fixed 1e7-iteration pure-Python loop is a single-core speed probe
    # whose ratio across rounds separates "the machine changed" from
    # "the plan changed" (r13 eras measured ~0.7-0.9 s fast host vs
    # ~1.4-1.5 s slow host). Additions-only: the bench contract line
    # gains one field.
    probe_t0 = time.perf_counter()
    _acc = 0
    for _i in range(10_000_000):
        _acc += _i
    probe_s = round(time.perf_counter() - probe_t0, 3)
    timings: dict[str, float] = {}
    for name, q in sorted(bench_queries.items()):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(q.build(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    load_end = os.getloadavg()

    total = round(sum(timings.values()), 3)
    # (The one-shot r8 A/B regression-attribution rig was removed after
    # VERDICT r8 adjudicated both r7 readings as noise; min-of-2 + the
    # loadavg record below remain the standing noise defenses.)

    # sf1 scale block (round-7 verdict ask 3): each headline query once
    # at the synthetic 10× replication; ratio vs this run's sf0.1
    # min-of-2. Flag ratio > 15 as superlinear (10× the data should cost
    # ~10× + shuffle log factors at worst).
    scale_block = None
    if os.environ.get("SPARK_GRAFT_SCALE_BENCH", "1") != "0" and abs(sf - 0.1) < 1e-9:
        t0 = time.perf_counter()
        generated = ensure_scale_dataset(spark, sf_dir, SCALE_DIR)
        gen_s = round(time.perf_counter() - t0, 3)
        scale_timings: dict[str, float] = {}
        scale_errors: dict[str, str] = {}
        for name, q in sorted(bench_queries.items()):
            t0 = time.perf_counter()
            try:
                materialize(q.build(spark, SCALE_DIR))
            except Exception as exc:  # noqa: BLE001 - one bad query must not
                # cost the round its entire BENCH record
                scale_errors[name] = f"{type(exc).__name__}: {exc}"[:200]
                continue
            scale_timings[name] = round(time.perf_counter() - t0, 3)
        ratios = {
            n: round(scale_timings[n] / max(timings[n], 1e-3), 1)
            for n in scale_timings
        }
        scale_block = {
            "sf": 1.0,
            "mode": (
                f"{SCALE_COPIES}x key-shifted replication of sf0.1 "
                "(keys +copy*1e7 so copies join within themselves; "
                "source salted per copy; embeddings rotated per copy; "
                "texts verbatim -> content-dedup ops also absorb "
                "10-sized exact-dup clusters, a dedup stress on top of "
                "the volume)"
            ),
            "generated_this_run": generated,
            "gen_seconds": gen_s,
            "timing": "single run per query (sf0.1 side is min-of-2)",
            "queries": scale_timings,
            "total_seconds": round(sum(scale_timings.values()), 3),
            "ratio_vs_sf0.1": ratios,
            "superlinear_flagged": sorted(
                n for n, r in ratios.items() if r > 15
            ),
            "errors": scale_errors,
        }

    # Output contract (round-8 verdict ask 2): the driver stores only the
    # LAST ~2,000 chars of stdout, and the r8 combined JSON overflowed
    # that (BENCH_r08.json parsed: null — the sf0.1 numbers survived in
    # no artifact). So: full detail first, then a compact summary line
    # LAST (<=1 KB) that alone carries both SF totals, the per-query
    # sf0.1 timings, and the superlinear flags.
    cpus = len(os.sched_getaffinity(0))
    noise = {
        "timing": "min_of_2_runs_per_query",
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "cpus": cpus,
        "probe_1e7_s": probe_s,
        # perfbench/run.py's rule: more runnable work than cpus, or a
        # single core 1.5x slower than the reference host
        "noise_suspect": load_start[0] > cpus or probe_s > 1.5 * PROBE_REF_S,
    }
    detail = {
        "record": "bench_detail",
        "queries_sf0.1": timings,
        "scale_block": scale_block,
        "noise": noise,
    }
    print(json.dumps(detail, separators=(",", ":")))

    if scale_block is not None:
        ratios = sorted(scale_block["ratio_vs_sf0.1"].values())
        scale_summary = {
            "sf1_total_sec": scale_block["total_seconds"],
            "ratio_p50": ratios[len(ratios) // 2] if ratios else None,
            "ratio_max": ratios[-1] if ratios else None,
            "superlinear_flagged": scale_block["superlinear_flagged"],
            "errors": sorted(scale_block["errors"]),
        }
    else:
        scale_summary = None
    summary = {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "sf": sf,
        "scale": scale_summary,
        "load": noise["loadavg_start"][0],
        "probe_1e7_s": probe_s,
        "noise_suspect": noise["noise_suspect"],
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1900:  # hard guard: never overflow the driver tail again
        summary.pop("queries", None)
        summary["note"] = "per-query timings on the bench_detail line"
        line = json.dumps(summary, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
