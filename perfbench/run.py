"""Run one benchmark workload once and print its result.

    python3 perfbench/run.py --workload bulk_encode --seed 1 --seconds 10 --trace 0

Run from anywhere; the checkout is the parent of this file's directory.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes the run's spans under ``.perfbench/``).  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.  Exits non-zero without a result when the checkout holds no
program to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_sql_duckdb_parquet__spark"


def _environment(work: str) -> None:
    """Worker processes import the program from the checkout; scratch files
    stay inside the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        print(f"perfbench: no {PACKAGE}/ or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _environment(work)
    from perfbench.harness import Bench

    bench = Bench(WORKLOADS[args.workload](), args.seed, args.seconds,
                  bool(args.trace), ROOT, work, spec)
    try:
        result = bench.run()
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
