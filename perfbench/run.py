"""Benchmark entry point.

    python3 perfbench/run.py --workload find_live --seed 1 --seconds 50 --trace 0

Run from the root of a checkout. Each run builds its inputs in a fresh
scratch directory inside the checkout, runs one workload in this
process against a fresh Spark session, and removes the directory at
exit. The last line of standard output is the result object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the run's sample counts, tail percentiles, CPU steal, load
average and versions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "4g"


def _environment(work: str) -> None:
    """Pin what the engine reads from the environment; every path it
    writes lands in the run's scratch directory."""
    from perfbench.workloads import CACHE_BUDGET

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        NUCLIADB_SPARK_CACHE_MAX_BYTES=str(CACHE_BUDGET),
        TMPDIR=tmp,
        # Python workers import nucliadb_spark for the pandas_udf sidecars
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(
            (
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                "--conf spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            )
        ),
    )
    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nucliadb_spark")):
        print(f"no engine source at {ROOT}/nucliadb_spark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK_ROOT)
    run = None
    try:
        _environment(work)
        from perfbench.harness import Run

        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        result = run.execute()
    finally:
        if run is not None:
            run.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
