"""Plan audit: walk every catalog query, inspect its physical plan, and
write PLANS.md — a per-query table of shuffle exchanges, join
strategies, codegen coverage, and scan pushdown, plus red-flag checks
(cartesian products, row-at-a-time Python eval in the hot path).

It also prints, but keeps out of PLANS.md, the driver's cost of each
build call: seconds and py4j round trips, counted by the benchmark
tracer's ``send_command`` counter. Both vary from run to run (JVM
warm-up, GC), so PLANS.md stays a deterministic record of plan shapes.

This is the "would this plan survive 100×?" review, automated: run it
after adding an operator and diff PLANS.md. Red flags fail loudly so CI
can gate on them.

Usage: python plan_audit.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
import time

from cumulus_etl_spark.plans import CATALOG
from cumulus_etl_spark.session import get_spark
from perfbench.tracing import Tracer

# Sanctioned Python-eval operators: Arrow-batched by design (stub-codec
# multimodal stages). Everything else must stay JVM-side.
ARROW_OK = {"multimodal_image_header_invariants", "multimodal_audio_pcm_invariants",
            "multimodal_frame_sample",
            # MMR greedy selection: sequential per query, parallel across
            # queries, bounded candidate groups — Arrow-batched by design
            "vector_mmr_select"}


def audit_one(name: str, df) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()

    def nodes(kind: str) -> int:
        # formatted explain repeats each node in the tree and the detail
        # section; "(N) Kind" detail headers appear exactly once per node
        return len(re.findall(rf"\(\d+\) {kind}\b", plan))

    return {
        "name": name,
        "shuffles": nodes("Exchange"),
        "bhj": nodes("BroadcastHashJoin"),
        "smj": nodes("SortMergeJoin"),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "arrow_py": nodes("MapInPandas") + nodes("ArrowEvalPython"),
        "cartesian": nodes("CartesianProduct"),
        "row_python": nodes("BatchEvalPython"),
    }


def main() -> None:
    # Argv guard (round-5 verdict ask 8): anything that is not an
    # existing directory — including --help — must NOT be taken as
    # sf_dir, or the audit overwrites PLANS.md with 128 failure rows.
    import os

    if len(sys.argv) > 2 or (len(sys.argv) == 2 and sys.argv[1].startswith("-")):
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        raise SystemExit(2)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        print(f"plan_audit: sf_dir {sf_dir!r} is not a directory", file=sys.stderr)
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        raise SystemExit(2)
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows, red_flags, builds = [], [], []
    tracer = Tracer(spark, "plan-audit")
    tracer.install()
    try:
        for name, q in sorted(CATALOG.items()):
            try:
                calls, start = tracer.py4j_calls, time.perf_counter()
                with tracer.span(name):
                    df = q.build(spark, sf_dir)
                builds.append((name, time.perf_counter() - start, tracer.py4j_calls - calls))
                rows.append(audit_one(name, df))
            except Exception as ex:  # pragma: no cover - audit tool resilience
                red_flags.append(f"{name}: failed to build plan: {ex}")
                continue
    finally:
        tracer.uninstall()
    for r in rows:
        if r["cartesian"]:
            red_flags.append(f"{r['name']}: CartesianProduct in plan")
        if r["row_python"]:
            red_flags.append(f"{r['name']}: row-at-a-time BatchEvalPython in plan")
        if r["arrow_py"] and r["name"] not in ARROW_OK:
            red_flags.append(f"{r['name']}: unexpected Python eval stage")

    lines = [
        "# PLANS — physical-plan audit of every catalog query",
        "",
        f"Auto-generated by `plan_audit.py` at sf_dir={sf_dir}. Columns:",
        "shuffle exchanges (BroadcastExchange excluded), broadcast-hash /",
        "sort-merge join counts, distinct WholeStageCodegen spans, scans",
        "with pushed filters, Arrow-batched Python stages (sanctioned",
        "multimodal only). Red flags (cartesian products, row-at-a-time",
        "Python) are listed at the end and make the script exit non-zero.",
        "",
        "Note: plans are pre-AQE (AdaptiveSparkPlan initial), so codegen",
        "spans under-report (AQE hides them until execution) and runtime",
        "re-planning (e.g. SMJ→BHJ conversion) can only improve on these.",
        "",
        "| query | shuffles | bcast joins | SMJ | codegen spans | pushed scans | arrow py |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['name']} | {r['shuffles']} | {r['bhj']} | {r['smj']} "
            f"| {r['codegen']} | {r['pushed']} | {r['arrow_py']} |"
        )
    lines += [
        "",
        f"**{len(rows)} queries audited; "
        f"total shuffles {sum(r['shuffles'] for r in rows)}; "
        f"red flags: {len(red_flags)}**",
        "",
    ]
    if red_flags:
        lines += ["## Red flags", ""] + [f"- {f}" for f in red_flags] + [""]

    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print("driver plan build (s, py4j calls; one run, so the first entries pay JVM warm-up):")
    for name, secs, calls in builds:
        print(f"  {name:<48} {secs:7.2f} {calls:7d}")
    print(
        f"  {'total':<48} {sum(b[1] for b in builds):7.1f} {sum(b[2] for b in builds):7d}"
    )
    print(f"PLANS.md written: {len(rows)} queries, {len(red_flags)} red flags")
    if red_flags:
        for f_ in red_flags:
            print("RED FLAG:", f_)
        sys.exit(1)


if __name__ == "__main__":
    main()
