"""Self-test of the benchmark's output checks at a tiny size (20 patients).

Runs one operation of each workload, requires the clean lake to pass, then
tampers with a copy of the lake three ways and requires each copy to be
reported as a failed operation with a non-zero exit code:

- a missing row (etl_bootstrap),
- a raw, un-pseudonymized id left in place (etl_bootstrap),
- a stale version that won over the newest one (etl_incremental).

Run from the root of a checkout::

    python3 perfbench/selftest.py

Exits 0 when every case behaves as described.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import run

PATIENTS = 20
SEED = 7


def parquet_files(lake: str, table: str) -> list[str]:
    with open(os.path.join(lake, table, "_CURRENT")) as fh:
        cur = json.load(fh)["version"]
    out = []
    for dirpath, _dirs, files in os.walk(os.path.join(lake, table, f"v{cur}")):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def rewrite(path: str, table: pa.Table) -> None:
    """Replace one data file (a new inode: hard-linked twins keep theirs)
    and drop its now-stale Hadoop checksum sidecar."""
    os.remove(path)
    pq.write_table(table, path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def first_nonempty(lake: str, table: str) -> tuple[str, pa.Table]:
    for path in parquet_files(lake, table):
        t = pq.read_table(path)
        if t.num_rows:
            return path, t
    raise RuntimeError("no rows to tamper with")


def drop_row(wl: run.Workload, lake: str) -> None:
    path, t = first_nonempty(lake, wl.task)
    rewrite(path, t.slice(1))


def raw_id(wl: run.Workload, lake: str) -> None:
    real = {gen.anon_id(wl.salt, rid): rid for rid in wl.export.expected[wl.rt]}
    path, t = first_nonempty(lake, wl.task)
    ids = t.column("id").to_pylist()
    ids[0] = real[ids[0]]
    i = t.schema.get_field_index("id")
    rewrite(path, t.set_column(i, t.schema.field(i), pa.array(ids, pa.string())))


def stale_won(wl: run.Workload, lake: str) -> None:
    stale = {gen.anon_id(wl.salt, rid): ts for rid, ts in wl.export.stale[wl.rt].items()}
    for path in parquet_files(lake, wl.task):
        t = pq.read_table(path)
        ids = t.column("id").to_pylist()
        hit = next((n for n, x in enumerate(ids) if x in stale), None)
        if hit is None:
            continue
        meta = t.column("meta").combine_chunks()
        fields = [meta.field(j) for j in range(meta.type.num_fields)]
        k = meta.type.get_field_index("lastUpdated")
        updated = fields[k].to_pylist()
        updated[hit] = stale[ids[hit]]
        fields[k] = pa.array(updated, pa.string())
        new = pa.StructArray.from_arrays(fields, fields=list(meta.type), mask=meta.is_null())
        i = t.schema.get_field_index("meta")
        rewrite(path, t.set_column(i, t.schema.field(i), new))
        return
    raise RuntimeError("no stale-version row found to tamper with")


CASES = {
    "etl_bootstrap": [("missing row", drop_row), ("raw id left in place", raw_id)],
    "etl_incremental": [("stale row won", stale_won)],
}


def main() -> int:
    work = os.path.abspath(os.path.join(".perfbench_work", f"selftest-{os.getpid()}"))
    run.scratch_env(work)
    sys.path.insert(0, os.getcwd())
    from cumulus_etl_spark.etl import pipeline

    ok = True
    spark = run.start_session(work, trace=False)
    try:
        for name, cases in CASES.items():
            wl = run.Workload(name, SEED, os.path.join(work, name), patients=PATIENTS)
            wl.spark = spark
            if wl.incremental:
                base = os.path.join(wl.work, "base")
                run.build_base(spark, base, PATIENTS, wl.task, pipeline.run_etl)
                run.load_base(wl, base)
            run.setup(wl)
            ops = run.measure(wl, 0, pipeline)
            run.check_ops(wl, ops)
            _lines, code = run.report({}, ops, {})
            print(f"{name}: clean lake -> exit {code}, problems {ops[0]['problems']}")
            ok &= code == 0
            for label, tamper in cases:
                op = dict(ops[0], lake=os.path.join(wl.work, label.replace(" ", "_")))
                shutil.copytree(ops[0]["lake"], op["lake"])
                tamper(wl, op["lake"])
                run.check_ops(wl, [op])
                _lines, code = run.report({}, [op], {})
                print(f"{name}: {label} -> exit {code}, problems {op['problems']}")
                ok &= code != 0 and len(op["problems"]) > 0
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
