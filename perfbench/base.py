"""Build ``etl_incremental``'s bootstrapped lake in a JVM of its own.

    python3 perfbench/base.py OUT_DIR

Run from the root of a checkout; ``run.py`` calls it when the checkout
has no lake for the current program yet. Writes ``OUT_DIR/lake``,
``OUT_DIR/phi`` and ``OUT_DIR/expected.json`` (see ``run.build_base``);
its scratch files go to ``OUT_DIR/work`` and are removed on exit.
"""

from __future__ import annotations

import os
import shutil
import sys

import run


def main(out: str) -> int:
    work = os.path.join(out, "work")
    run.scratch_env(work)
    sys.path.insert(0, os.getcwd())
    from cumulus_etl_spark.etl import pipeline

    spark = run.start_session(work, trace=False)
    try:
        run.build_base(spark, out, run.PATIENTS, run.TASK, pipeline.run_etl)
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
