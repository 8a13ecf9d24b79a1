"""Probe the fixed per-task cost of a Python worker, with and without the
zip guard that ``pyworker.python_kernel`` installs.

For each mode (``helper``: the kernel goes through ``python_kernel``;
``plain``: it is submitted bare) a fresh driver process on ``local[4]`` runs
``--jobs`` trivial 4-task ``mapInPandas`` jobs and reports two medians over
the jobs after ``--warmup``:

- job latency (driver wall time of submit + collect);
- worker CPU before the kernel starts: the CPU a reused worker spent between
  the end of its previous kernel and the start of this one (reading the
  task, ``setup_spark_files`` and its ``importlib.invalidate_caches()``,
  unpickling). A worker's first task has no previous kernel and is skipped.

Run from a checkout, to recheck the gain on another Python or Spark:

    python scripts/worker_tax_probe.py --jobs 20
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = "_worker_tax_probe_state"  # per-worker-process scratch module


def kernel(batches):
    """Emit the worker CPU spent since this worker's previous kernel ended."""
    import sys
    import time
    import types

    import pandas as pd
    start = time.process_time()
    state = sys.modules.setdefault(STATE, types.ModuleType(STATE))
    last = getattr(state, "kernel_end", None)
    pre = start - last if last is not None else float("nan")
    for b in batches:
        yield pd.DataFrame({"pre_cpu_s": [pre] * len(b)})
    state.kernel_end = time.process_time()


def run_mode(mode: str, jobs: int, warmup: int) -> dict:
    from haskellpagerank_spark.pyworker import python_kernel
    from haskellpagerank_spark.session import get_spark

    spark = get_spark(app_name=f"worker-tax-probe-{mode}", cores=4,
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    fn = python_kernel(kernel) if mode == "helper" else kernel
    df = spark.range(0, 4, numPartitions=4)
    latencies, pre_cpu = [], []
    for i in range(warmup + jobs):
        t0 = time.perf_counter()
        rows = df.mapInPandas(fn, schema="pre_cpu_s double").collect()
        dt = time.perf_counter() - t0
        if i >= warmup:
            latencies.append(dt)
            pre_cpu += [r.pre_cpu_s for r in rows if r.pre_cpu_s == r.pre_cpu_s]
    spark.stop()
    return {
        "mode": mode,
        "jobs": jobs,
        "python": sys.version.split()[0],
        "job_latency_median_s": round(statistics.median(latencies), 4),
        "pre_kernel_worker_cpu_median_s": (
            round(statistics.median(pre_cpu), 4) if pre_cpu else None),
    }


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--jobs", type=int, default=20)
    ap.add_argument("--warmup", type=int, default=3)
    ap.add_argument("--mode", choices=("helper", "plain"),
                    help="run one mode in this process (used internally)")
    args = ap.parse_args(argv)
    if args.mode:
        print(json.dumps(run_mode(args.mode, args.jobs, args.warmup)))
        return
    # one driver (and so one set of Python workers) per mode: a guard
    # installed by the helper run would otherwise serve the plain run too
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p]))
    for mode in ("plain", "helper"):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--mode", mode,
             "--jobs", str(args.jobs), "--warmup", str(args.warmup)],
            env=env, cwd=ROOT, check=True, capture_output=True, text=True)
        print(out.stdout.strip().splitlines()[-1])


if __name__ == "__main__":
    main()
