"""The repository benchmark: time the ``etl`` verb end to end.

Run from the root of a checkout::

    python3 perfbench/run.py --workload etl_bootstrap --seed 1 --seconds 20 --trace 0

One closed-loop client on ``local[<cpus>]`` in this single process runs
``run_etl`` back to back, each on fresh inputs, while the measuring window
allows another; outputs are checked after the window. The last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (see ``tracing.py``). The line before it is a
detail record with the noise probe and per-operation numbers. A failed
output check makes the run exit 1. All scratch files live under
``.perfbench_work/`` in the checkout and are removed on exit; traced runs
leave their spans in ``.perfbench_runs/``, and ``etl_incremental`` keeps
its bootstrapped lake in ``.perfbench_build/`` (built by ``base.py`` on
the first run in a checkout).

Workloads and metric definitions are documented in ``README.md`` here.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import gen

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = ("etl_bootstrap", "etl_incremental")
# The one table both workloads load, and the export size: one task keeps a
# run (session start + set-up + one operation + checks) inside the time
# budget; README.md explains the choice.
TASK, RESOURCE_TYPE, PATIENTS = "patient", "Patient", 500
# etl_incremental starts every operation from the lake bootstrapped from
# this seed's export; --seed picks the delta. That lake depends on the
# program alone, so it is built once per checkout under BUILD_DIR, in a
# JVM of its own: the timed run_etl stays the first one of a fresh JVM.
BASE_SEED = 0
BUILD_DIR = ".perfbench_build"
SETUP_REPEATS = 3
# probe_1e7_s on a 4-cpu host of the kind the reference numbers in
# README.md were taken on; a run 1.5x slower than this flags itself.
PROBE_REF_S = 0.3


def probe_1e7() -> float:
    """Single-core speed probe: a fixed 1e7-iteration Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i
    return time.perf_counter() - t0


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set (VmHWM) of a process, in kB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def log_failure(what: str, exc: Exception) -> None:
    """Where a failure happened, without the exception's message: Spark
    messages can quote input records, and input records carry PHI."""
    frames = "".join(traceback.format_tb(exc.__traceback__, limit=-3))
    print(f"{what} raised {type(exc).__name__} at\n{frames}", file=sys.stderr)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def scratch_env(work: str) -> None:
    """Point every scratch path of this process and the JVM it launches
    into ``work``, inside the checkout."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def start_session(work: str, trace: bool):
    """The engine's own session factory on local[<cpus>], with every
    scratch path inside ``work``."""
    from cumulus_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM the session launched and wait for it
    (the gateway JVM exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def write_codebook(phi_dir: str, seed: int) -> None:
    os.makedirs(phi_dir, exist_ok=True)
    with open(os.path.join(phi_dir, "codebook.json"), "w") as fh:
        json.dump(gen.codebook_for(seed), fh)


class Workload:
    """Inputs and per-operation state for one workload in ``work``."""

    def __init__(self, name: str, seed: int, work: str, patients: int | None = None):
        self.name, self.seed, self.work = name, seed, work
        self.spark = None
        self.task, self.rt = TASK, RESOURCE_TYPE
        self.patients = patients or PATIENTS
        self.incremental = name == "etl_incremental"
        self.salt = gen.codebook_for(BASE_SEED if self.incremental else seed)["salt"]
        self.base = self.base_lake = self.base_phi = None
        self.ingested_before = 0

    def generate(self) -> None:
        """Write this workload's seeded export."""
        if self.incremental:
            self.export = gen.delta(os.path.join(self.work, "delta"), self.seed, self.patients,
                                    self.base, BASE_SEED)
        else:
            self.export = gen.bootstrap(os.path.join(self.work, "export"), self.seed, self.patients)

    def fresh_dirs(self, i: int) -> tuple[str, str]:
        lake, phi = os.path.join(self.work, f"lake{i}"), os.path.join(self.work, f"phi{i}")
        if self.base_lake:
            shutil.copytree(self.base_lake, lake)
            shutil.copytree(self.base_phi, phi)
        else:
            write_codebook(phi, self.seed)
        return lake, phi


def build_base(spark, out: str, patients: int, task: str, run_etl) -> None:
    """Bootstrap ``out/lake`` (codebook in ``out/phi``) from BASE_SEED's
    export and record the state it holds in ``out/expected.json``."""
    export = gen.bootstrap(os.path.join(out, "export"), BASE_SEED, patients)
    write_codebook(os.path.join(out, "phi"), BASE_SEED)
    run_etl(spark, export.root, os.path.join(out, "lake"), os.path.join(out, "phi"), tasks=[task])
    shutil.rmtree(export.root)
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump({"bytes": export.bytes, "lines": export.lines, "expected": export.expected}, fh)


def load_base(wl: Workload, out: str) -> None:
    """Make the lake :func:`build_base` left in ``out`` the start of
    every operation of ``wl``."""
    with open(os.path.join(out, "expected.json")) as fh:
        d = json.load(fh)
    wl.base = gen.Export(None, d["bytes"], d["lines"], d["expected"], {})
    wl.base_lake, wl.base_phi = os.path.join(out, "lake"), os.path.join(out, "phi")
    wl.ingested_before = wl.base.bytes


def ensure_base() -> tuple[str, bool]:
    """The directory of etl_incremental's bootstrapped lake in BUILD_DIR,
    built with ``base.py`` first when this checkout has none for the
    current program; every workload's run calls it, so the first run in a
    checkout pays for the build. Returns the directory and whether it was
    built."""
    h = hashlib.sha256(f"{BASE_SEED}:{PATIENTS}:{TASK}".encode())
    for path in sorted(glob.glob("cumulus_etl_spark/**/*.py", recursive=True)) + [gen.__file__]:
        with open(path, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(os.getcwd(), BUILD_DIR, f"base-{h.hexdigest()[:16]}")
    built = not os.path.isdir(out)
    if built:
        tmp = f"{out}.tmp{os.getpid()}"
        subprocess.run([sys.executable, os.path.join(HERE, "base.py"), tmp], check=True)
        os.rename(tmp, out)
    return out, built


def setup(wl: Workload) -> float:
    """Generate the workload's export SETUP_REPEATS times; returns the
    median seconds."""
    gen_s = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(os.path.join(wl.work, "delta" if wl.incremental else "export"), ignore_errors=True)
        t0 = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t0)
    return statistics.median(gen_s)


def measure(wl: Workload, seconds: float, pipeline) -> list[dict]:
    """Closed loop, one client: operations back to back while the window
    has room for another one of the last one's length (always one)."""
    from tracing import file_inodes

    ops = []
    t_window = time.perf_counter()
    while True:
        lake, phi = wl.fresh_dirs(len(ops))
        before = set(file_inodes(lake)) if os.path.isdir(lake) else set()
        op = {"lake": lake, "phi": phi, "summary": None, "error": None}
        t0 = time.perf_counter()
        try:
            op["summary"] = pipeline.run_etl(wl.spark, wl.export.root, lake, phi, tasks=[wl.task])
        except Exception as exc:  # a failed operation is counted, not fatal
            op["error"] = type(exc).__name__
            log_failure("run_etl", exc)
        op["run_s"] = time.perf_counter() - t0
        op["written"] = sum(s for ino, (_p, s) in file_inodes(lake).items() if ino not in before)
        ops.append(op)
        elapsed = time.perf_counter() - t_window
        if elapsed + op["run_s"] > seconds:
            return ops


def check_ops(wl: Workload, ops: list[dict]) -> None:
    """Run the output checks on every operation's lake (sets ``problems``)."""
    import check

    for op in ops:
        if op["error"]:
            op["problems"] = [f"run_etl raised {op['error']}"]
            continue
        reported = op["summary"]["tables"].get(wl.task, {}).get("quarantined")
        try:
            op["problems"] = check.check_table(
                wl.spark, op["lake"], wl.task, wl.export.expected[wl.rt], wl.salt,
                wl.export.quarantined[wl.rt], reported,
            )
        except Exception as exc:  # an unreadable lake fails the operation
            op["problems"] = [f"reading the lake back raised {type(exc).__name__}"]
            log_failure("check", exc)
            continue
        op["space_amp"] = check.current_bytes(op["lake"]) / (wl.ingested_before + wl.export.bytes)
        op["write_amp"] = op["written"] / wl.export.bytes


def end_to_end(wl: Workload, ops: list[dict], setup_s: float, jvm_pid: int) -> dict:
    run_s = statistics.median(op["run_s"] for op in ops)
    good = [op for op in ops if "space_amp" in op] or [{"space_amp": 0.0, "write_amp": 0.0}]
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "resources_per_s": (wl.export.lines / run_s, "1/s"),
        "space_amp": (statistics.median(op["space_amp"] for op in good), "ratio"),
        "write_amp": (statistics.median(op["write_amp"] for op in good), "ratio"),
        "peak_rss_mb": ((vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024, "MB"),
    }


def report(metrics: dict, ops: list[dict], detail: dict) -> tuple[list[str], int]:
    """The detail line and the result line, and the exit code: 1 when any
    operation failed its checks. Refuses to print a PHI sentinel."""
    failed = sum(1 for op in ops if op["problems"])
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    lines = [json.dumps(detail, separators=(",", ":")), json.dumps(result, separators=(",", ":"))]
    for line in lines:
        if gen.SENTINEL in line or gen.SENTINEL_B64 in line:
            raise RuntimeError("refusing to print output that carries a PHI sentinel")
    return lines, 0 if failed == 0 else 1


def run(args, work: str) -> int:
    # The checkout root holds the program; import it before any work so a
    # tree without it fails fast, printing no result.
    sys.path.insert(0, os.getcwd())
    from cumulus_etl_spark.etl import pipeline

    noise = {"loadavg_start": os.getloadavg(), "probe_1e7_s": probe_1e7(), "cpus": cpus()}
    wl = Workload(args.workload, args.seed, work)
    t0 = time.perf_counter()
    base, base_built = ensure_base()
    if wl.incremental:
        load_base(wl, base)
    base_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    tracer = None
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        wl.spark = spark
        prep_s = setup(wl)
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            tracer.install()
        try:
            ops = measure(wl, args.seconds, pipeline)
        finally:
            if tracer:
                tracer.uninstall()
        t0 = time.perf_counter()
        check_ops(wl, ops)
        metrics = end_to_end(wl, ops, base_s + session_s + prep_s, jvm_pid)
        check_s = time.perf_counter() - t0
    finally:
        stop_session(spark)

    noise["loadavg_end"] = os.getloadavg()
    noise["noise_suspect"] = (
        noise["loadavg_start"][0] > noise["cpus"]
        or noise["probe_1e7_s"] > 1.5 * PROBE_REF_S
    )
    detail = {
        "record": "perfbench_detail", "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "noise": noise, "base_built": base_built, "base_s": base_s,
        "session_s": session_s, "generate_s": prep_s,
        "check_s": check_s, "process_s": time.perf_counter() - T_START,
        "input": {"lines": wl.export.lines, "bytes": wl.export.bytes},
        "ops": [{k: op.get(k) for k in ("run_s", "written", "space_amp", "write_amp", "problems")}
                for op in ops],
        "end_to_end": {k: v for k, (v, _u) in metrics.items()},
    }
    if tracer:
        from tracing import LAYER_METRICS, layer_metrics, read_event_log

        layers = layer_metrics(tracer, read_event_log(os.path.join(work, "events")))
        n = len(ops)
        metrics = {k: (v / n, LAYER_METRICS[k]) for k, v in layers.items()}
        metrics["trace.run_s"] = (detail["end_to_end"]["run_s"], "s")
        metrics["trace.wrapper_s"] = (tracer.wrapper_s / n, "s")
        tracer.dump(os.path.join(os.getcwd(), ".perfbench_runs", f"{args.workload}-seed{args.seed}-spans.json"))
    lines, code = report(metrics, ops, detail)
    for line in lines:
        print(line, flush=True)
    return code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.abspath(os.path.join(".perfbench_work", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    scratch_env(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


if __name__ == "__main__":
    sys.exit(main())
