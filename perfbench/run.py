#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cube_build --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a checkout of this repository and prints,
as its last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). Lines before it give the workload's own
latencies, the correctness verdicts and the environment record. Generated
inputs are cached in ``.perfbench/cache``; each run works in a fresh
directory under ``.perfbench/work`` and leaves its records in
``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("cube_build", "cube_append")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "xcube_stac_spark")):
        print(f"perfbench: no engine package beside {os.path.dirname(__file__)}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    # the engine comes from this checkout, in this process and in Spark's
    # Python workers; every temporary file goes to this run's work dir
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "planes", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "XSS_PLANE_CACHE_DIR": os.path.join(work, "planes"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })

    import workloads

    try:
        run = workloads.Run(args, ROOT, STATE)
        # inputs are generated (or found in the cache) before set-up is timed
        wl = workloads.WORKLOADS[args.workload](run)
        run.t_ready = time.perf_counter()
        result = workloads.execute(run, wl, results)
    finally:
        workloads.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
