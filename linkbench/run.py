#!/usr/bin/env python3
"""Link-graph analytics benchmark: one workload, one closed-loop run.

    python3 linkbench/run.py --workload crawl_ingest --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. Builds the workload's
seeded inputs (the timed set-up), runs the workload's untimed warm-up
passes, then passes back to back until ``--seconds`` have passed, checks every pass's
outputs against the NumPy oracles, and prints one JSON object as the last
line of standard output: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``. The line before it
holds the details: tail percentiles, warm-up passes, workload properties,
host context and any failures. See linkbench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "haskellpagerank_spark"

SETUP_REPS = 3          # set-up runs per run; setup_s uses their median
MAX_CORES = 4
MAX_DRIVER_MEM_MB = 6144
MAX_CONSECUTIVE_FAILURES = 3

# per-pass timings summarized in the detail line; refresh_s is also gated
STAGE_TIMES = ("refresh_s", "graph_build_s", "pagerank_s", "components_s",
               "label_propagation_s", "triangles_s")
UNITS = {"_s": "s", "_mb": "MB", "bytes": "bytes", "_per_s": "1/s"}


def unit_of(name: str) -> str:
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------- environment

def _meminfo_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(workdir: str) -> dict:
    """Environment for the session and its Python workers, sized to this
    machine. Must run before the session starts."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    mem_mb = _meminfo_mb()
    driver_mb = max(1024, min(MAX_DRIVER_MEM_MB, int(mem_mb * 0.3)))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    return {"cores": cores, "mem_total_mb": mem_mb, "driver_mem_mb": driver_mb,
            "tmp": tmp}


def spark_conf(workdir: str, tmp: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


_CPU_FILES = ("/sys/fs/cgroup/cpuacct/cpuacct.usage", "/sys/fs/cgroup/cpu.stat")


def cpu_seconds() -> float:
    """CPU-seconds used so far by the container (cgroup v1 or v2): counts
    the JVM and every Python worker, including ones already exited."""
    try:
        with open(_CPU_FILES[0]) as fh:
            return int(fh.read()) / 1e9
    except OSError:
        with open(_CPU_FILES[1]) as fh:
            for line in fh:
                if line.startswith("usage_usec"):
                    return int(line.split()[1]) / 1e6
    raise RuntimeError("no cgroup CPU counter")


def reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def host_load_probe() -> float:
    """Pure-NumPy SpMV edges per second over a fixed random graph: context
    for the Spark numbers around it, not a gate."""
    import numpy as np
    rng = np.random.default_rng(0)
    n, m = 100_000, 1_000_000
    src, dst = rng.integers(0, n, m), rng.integers(0, n, m)
    deg = np.maximum(np.bincount(src, minlength=n), 1).astype(np.float64)
    r = np.full(n, 1.0 / n)
    t0 = time.perf_counter()
    for _ in range(10):
        r = 0.15 / n + 0.85 * np.bincount(dst, weights=(r / deg)[src], minlength=n)
    return m * 10 / (time.perf_counter() - t0)


# ------------------------------------------------------------------ the run

def run_workload(args, workdir: str, env: dict) -> tuple[dict, dict]:
    import pyspark

    from haskellpagerank_spark.plans.checkpoint import CheckpointManager
    from haskellpagerank_spark.session import get_spark
    from linkbench.stats import Ledger, summarize
    from linkbench.trace import Tracer, layer_metrics
    from linkbench.workloads import WORKLOADS, Run

    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "nproc": os.cpu_count(),
                    "cores": env["cores"], "mem_total_mb": env["mem_total_mb"],
                    "driver_mem_mb": env["driver_mem_mb"],
                    "pyspark": pyspark.__version__,
                    "host_load_edges_per_s": host_load_probe()}
    tracer, ledger = Tracer(), Ledger()
    tracer.enabled = bool(args.trace)

    t0 = time.perf_counter()
    with tracer.span("session.start", "setup"):
        spark = get_spark(app_name=f"linkbench-{args.workload}",
                          extra_conf=spark_conf(workdir, env["tmp"]))
    session_s = time.perf_counter() - t0
    tracer.sc = spark.sparkContext
    try:
        run = Run(spark, workdir, args.seed, tracer, ledger)
        wl = WORKLOADS[args.workload](run)
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t0)
        detail["session_start_s"] = session_s
        detail["setup_reps_s"] = reps
        wl.prepare()

        outputs: dict[str, dict] = {}
        cpu: dict[str, float] = {}
        failures_in_row = 0
        undo = (tracer.wrap(CheckpointManager, "write", "checkpoint.write")
                if args.trace else None)

        def one_pass(p: str, trace_it: bool) -> bool:
            nonlocal failures_in_row
            tracer.enabled = trace_it
            c0 = cpu_seconds()
            try:
                outputs[p] = wl.run_pass(p)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failures_in_row += 1
                return False
            finally:
                tracer.enabled = False
            cpu[p] = cpu_seconds() - c0
            failures_in_row = 0
            return True

        warmups = [f"w{i}" for i in range(wl.WARMUP_PASSES)]
        for p in warmups:
            one_pass(p, False)
        reset_peak_rss()
        # closed loop: a pass starts only after the previous one ended, and
        # none starts once --seconds have passed
        timed: list[str] = []
        pass_ids = itertools.count()
        t_start = time.perf_counter()
        while (time.perf_counter() - t_start < args.seconds
               and failures_in_row < MAX_CONSECUTIVE_FAILURES):
            p = f"p{next(pass_ids)}"
            if one_pass(p, bool(args.trace)):
                timed.append(p)
        detail["driver_py_peak_rss_mb"] = peak_rss_mb()
        detail["timed_loop_s"] = time.perf_counter() - t_start
        if undo is not None:
            undo()
            tracer.collect_spark_work()
        t_check = time.perf_counter()
        wl.check(outputs)
        detail["check_s"] = time.perf_counter() - t_check
    finally:
        spark.stop()
        gateway = pyspark.SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            pyspark.SparkContext._gateway = None
            pyspark.SparkContext._jvm = None

    if not timed:
        raise RuntimeError("no timed pass completed")
    detail.update({
        "warmup_passes": warmups, "timed_passes": timed,
        "pass_times": run.times, "pass_stats": run.stats, "pass_cpu_s": cpu,
        "properties": run.props,
        "failures": {"/".join(k): v for k, v in ledger.failures.items()},
        "attempted": ledger.attempted, "failed": ledger.failed,
        "ops_failed_ratio": ledger.failed / max(1, ledger.attempted)})
    summary = {name: summarize([run.times[p][name] for p in timed])
               for name in STAGE_TIMES if name in run.times[timed[0]]}
    summary["cpu_s"] = summarize([cpu[p] for p in timed])
    detail["summary"] = summary

    if args.trace:
        os.makedirs(os.path.join(ROOT, ".linkbench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".linkbench_out",
                                 f"spans-{args.workload}-{args.seed}.json"))
        metrics = layer_metrics(tracer.spans, run.stats, timed)
        metrics["trace.refresh_s"] = summary["refresh_s"]["median"]
        return metrics, detail
    return {
        "setup_s": session_s + statistics.median(reps),
        "refresh_s": summary["refresh_s"]["median"],
        "driver_py_peak_rss_mb": detail["driver_py_peak_rss_mb"],
    }, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"linkbench: the {PACKAGE} package is not next to {HERE}; "
              "run from the root of a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from linkbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"linkbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".linkbench_work",
                           f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        env = configure_env(workdir)
        metrics, detail = run_workload(args, workdir, env)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
