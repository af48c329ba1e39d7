"""Per-layer tracing for the ETL benchmark, from the benchmark's own files.

:class:`Tracer` wraps the public functions of each layer at runtime (the
names ``etl/pipeline.py`` imported, and the layer classes' methods), so a
traced ``run_etl`` records one span per call:

- wall time (perf_counter) and epoch bounds, to line up with Spark's clock;
- py4j round trips made while the span is innermost (``send_command``);
- a Spark job group of its own, set on entry and restored to the caller's
  group on exit, so every job is charged to exactly the innermost span
  that ran it (without the restore, jobs a caller runs after a child span
  returns land in the child's group);
- for ``ManagedTable.merge``, the files and bytes the call added to the
  table and the buckets they fell in (new inodes: hard links of untouched
  buckets do not count).

Spans stay in memory. After the session stops, :func:`read_event_log`
parses the uncompressed, non-rolling Spark event log and
:func:`layer_metrics` joins jobs, stages and tasks to spans by job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

JOB_GROUP = "spark.jobGroup.id"
JOB_DESC = "spark.job.description"
JOB_INTERRUPT = "spark.job.interruptOnCancel"

# (module, attribute, span name). Functions are patched where
# etl/pipeline.py imported them; methods are patched on their class.
FUNCTION_SPANS = (
    ("cumulus_etl_spark.etl.pipeline", "run_etl", "etl.run_etl"),
    ("cumulus_etl_spark.etl.pipeline", "_run_task", "etl.task"),
    ("cumulus_etl_spark.etl.pipeline", "write_completion", "etl.completion"),
    ("cumulus_etl_spark.etl.pipeline", "write_completion_encounters", "etl.completion"),
    ("cumulus_etl_spark.etl.pipeline", "detect_resources", "sources.detect_resources"),
    ("cumulus_etl_spark.etl.pipeline", "read_deleted_ids", "sources.read_deleted_ids"),
    ("cumulus_etl_spark.etl.pipeline", "scan_with_quarantine", "sources.scan_with_quarantine"),
)
METHOD_SPANS = (
    ("cumulus_etl_spark.deid.codebook", "Codebook", "save_mappings", "deid.save_mappings"),
    ("cumulus_etl_spark.deid.scrubber", "Scrubber", "scrub", "deid.scrub"),
    ("cumulus_etl_spark.sinks.merge", "ManagedTable", "merge", "sinks.merge"),
    ("cumulus_etl_spark.sinks.merge", "ManagedTable", "delete_ids", "sinks.delete_ids"),
)
PY4J_CLASSES = (
    ("py4j.clientserver", "ClientServerConnection"),
    ("py4j.java_gateway", "GatewayConnection"),
)


def file_inodes(root: str) -> dict[int, tuple[str, int]]:
    """inode -> (path, size) for every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[st.st_ino] = (os.path.join(dirpath, f), st.st_size)
    return out


class Tracer:
    """Spans for one traced operation. ``install`` patches the layers;
    ``uninstall`` puts every original back."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.py4j_calls = 0
        self.wrapper_s = 0.0  # the tracer's own bookkeeping time
        self._internal = False
        self._patches: list[tuple[object, str, object]] = []

    # ---- spans ----

    def _local(self, key: str):
        self._internal = True
        try:
            return self.sc.getLocalProperty(key)
        finally:
            self._internal = False

    def _set_group(self, props: dict) -> None:
        self._internal = True
        try:
            for key, value in props.items():
                self.sc.setLocalProperty(key, value)
        finally:
            self._internal = False

    @contextlib.contextmanager
    def span(self, name: str):
        t_enter = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "group": f"perfbench-{self.run_id}-{len(self.spans)}",
            "py4j": 0,
        }
        self.spans.append(rec)
        saved = {k: self._local(k) for k in (JOB_GROUP, JOB_DESC, JOB_INTERRUPT)}
        self._set_group({JOB_GROUP: rec["group"], JOB_DESC: name, JOB_INTERRUPT: "false"})
        self.stack.append(rec)
        rec["start_epoch"] = time.time()
        rec["start"] = time.perf_counter()
        self.wrapper_s += rec["start"] - t_enter
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["end_epoch"] = time.time()
            self.stack.pop()
            self._set_group(saved)
            self.wrapper_s += time.perf_counter() - rec["end"]

    # ---- patching ----

    def _patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def _spanned(self, fn, name: str):
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    def _merge_spanned(self, fn):
        tracer = self

        def merge(table, *args, **kwargs):
            t0 = time.perf_counter()
            before = file_inodes(table.path)
            tracer.wrapper_s += time.perf_counter() - t0
            with tracer.span("sinks.merge") as rec:
                out = fn(table, *args, **kwargs)
            t0 = time.perf_counter()
            new = [(p, s) for ino, (p, s) in file_inodes(table.path).items() if ino not in before]
            rec["bytes_written"] = sum(s for _p, s in new)
            rec["files_written"] = sum(1 for p, _s in new if p.endswith(".parquet"))
            rec["buckets_rewritten"] = len(
                {os.path.dirname(p) for p, _s in new if "__bucket=" in os.path.basename(os.path.dirname(p))}
            )
            tracer.wrapper_s += time.perf_counter() - t0
            return out

        return merge

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in FUNCTION_SPANS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._spanned(getattr(mod, attr), name))
        for mod_name, cls_name, attr, name in METHOD_SPANS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            fn = getattr(cls, attr)
            self._patch(cls, attr, self._merge_spanned(fn) if name == "sinks.merge" else self._spanned(fn, name))
        tracer = self
        for mod_name, cls_name in PY4J_CLASSES:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            send = cls.send_command

            def counted(conn, *args, _send=send, **kwargs):
                if not tracer._internal and tracer.stack:
                    tracer.py4j_calls += 1
                    tracer.stack[-1]["py4j"] += 1
                return _send(conn, *args, **kwargs)

            self._patch(cls, "send_command", counted)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


# ---- event log ----


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from the (single) uncompressed event
    log under ``log_dir``, keyed for joining to spans by job group."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    stages_done: set[tuple[int, int]] = set()
    tasks: list[dict] = []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get(JOB_GROUP),
                        "start_ms": ev["Submission Time"],
                        "end_ms": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_group[info["Stage ID"]] = (ev.get("Properties") or {}).get(JOB_GROUP)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages_done.add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })
    return {"jobs": jobs, "stage_group": stage_group, "stages_done": stages_done, "tasks": tasks}


def _covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# Per-layer metric names and units, in report order.
LAYER_METRICS = {
    "sinks.merge.s": "s", "sinks.merge.jobs": "count", "sinks.merge.bytes_written": "bytes",
    "sinks.merge.files_written": "count", "sinks.merge.buckets_rewritten": "count",
    "sinks.delete_ids.s": "s", "sinks.delete_ids.jobs": "count",
    "deid.scrub.s": "s", "deid.scrub.py4j_calls": "count",
    "deid.save_mappings.s": "s", "deid.save_mappings.jobs": "count",
    "sources.scan_with_quarantine.s": "s", "sources.scan_with_quarantine.py4j_calls": "count",
    "sources.detect_resources.s": "s", "sources.detect_resources.jobs": "count",
    "sources.read_deleted_ids.s": "s",
    "etl.run_etl.s": "s", "etl.task.self_s": "s", "etl.task.jobs": "count",
    "etl.completion.s": "s", "etl.completion.jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "driver.py4j_calls": "count", "driver.no_job_s": "s",
}


def layer_metrics(tracer: Tracer, log: dict) -> dict[str, float]:
    """Join spans to the event log. ``<layer>.s``, ``.jobs`` and
    ``.py4j_calls`` are inclusive of nested spans (a completion's merge
    counts for both; no layer nests in itself); ``etl.task.*`` is the
    task's self part: its span minus child spans, and the jobs it ran
    itself."""
    spans = tracer.spans
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    own_groups = {s["group"]: s["id"] for s in spans}
    own_jobs = {s["id"]: 0 for s in spans}
    for job in log["jobs"].values():
        if job["group"] in own_groups:
            own_jobs[own_groups[job["group"]]] += 1

    def subtree(s: dict) -> list[dict]:
        out = [s]
        for c in children.get(s["id"], []):
            out.extend(subtree(c))
        return out

    out: dict[str, float] = {}
    for name in {s["name"] for s in spans}:
        mine = [s for s in spans if s["name"] == name]
        out[f"{name}.s"] = sum(s["end"] - s["start"] for s in mine)
        out[f"{name}.jobs"] = sum(own_jobs[t["id"]] for s in mine for t in subtree(s))
        out[f"{name}.py4j_calls"] = sum(t["py4j"] for s in mine for t in subtree(s))
    tasks = [s for s in spans if s["name"] == "etl.task"]
    out["etl.task.self_s"] = sum(
        (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in children.get(s["id"], []))
        for s in tasks
    )
    out["etl.task.jobs"] = sum(own_jobs[s["id"]] for s in tasks)
    merges = [s for s in spans if s["name"] == "sinks.merge"]
    for key in ("bytes_written", "files_written", "buckets_rewritten"):
        out[f"sinks.merge.{key}"] = sum(s.get(key, 0) for s in merges)

    op_jobs = [j for j in log["jobs"].values() if j["group"] in own_groups]
    op_stages = {
        (sid, att) for sid, att in log["stages_done"] if log["stage_group"].get(sid) in own_groups
    }
    op_stage_ids = {sid for sid, _att in op_stages}
    op_tasks = [t for t in log["tasks"] if t["stage"] in op_stage_ids]
    out["spark.jobs"] = len(op_jobs)
    out["spark.stages"] = len(op_stages)
    out["spark.tasks"] = len(op_tasks)
    out["spark.executor_run_s"] = sum(t["run_ms"] for t in op_tasks) / 1000
    out["spark.gc_s"] = sum(t["gc_ms"] for t in op_tasks) / 1000
    out["spark.shuffle_write_bytes"] = sum(t["shuffle_write"] for t in op_tasks)
    out["spark.spill_bytes"] = sum(t["spill"] for t in op_tasks)
    out["driver.py4j_calls"] = tracer.py4j_calls
    roots = [s for s in spans if s["parent"] is None]
    wall = sum(s["end_epoch"] - s["start_epoch"] for s in roots)
    busy = sum(
        _covered_s(
            [(j["start_ms"] / 1000, (j["end_ms"] or j["start_ms"]) / 1000) for j in op_jobs],
            s["start_epoch"], s["end_epoch"],
        )
        for s in roots
    )
    out["driver.no_job_s"] = wall - busy
    return {k: out.get(k, 0) for k in LAYER_METRICS}

