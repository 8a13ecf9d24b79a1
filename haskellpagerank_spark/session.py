"""SparkSession factory with scale-aware defaults.

Local sandbox runs on ``local[N]`` (single JVM); production runs via
``spark-submit --py-files`` on a multi-executor cluster. The knobs below are
the ones that matter at both scales:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  web link graphs have 1e6-degree hubs, AQE's skew handling is load-bearing.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  pass ``shuffle_partitions ~ 2-3x total cores``.
- Arrow enabled: every Python-side kernel in this engine is Arrow-batched
  (``mapInArrow`` / ``applyInPandas``), never per-row Python.
- Driver heap: $SPARK_GRAFT_DRIVER_MEM when set, else 30% of physical
  memory, at most 48g (an uncapped 48g default let a long local test run
  grow the JVM past a 15 GB host's memory until it was OOM-killed).

Per-task Python-worker cost. PySpark 4.1 starts every Python task with
``importlib.invalidate_caches()``; on CPython <= 3.12 that re-reads the
central directory of every zip archive the worker has imported from
(``pyspark.zip`` once per imported subpackage, the py4j zip, the
spark-core jar): 0.17-0.23 s of worker CPU per task, measured on a 4-core
host with CPython 3.11.7 and PySpark 4.1.2, before the kernel starts.
CPython 3.13 defers that re-read to the next import, so it is not
affected. For an iterative kernel that cost is most of a sweep: a CSR SpMV
PageRank sweep over ~420k edges in 4 blocks took 0.32-0.36 s (median
0.33 s), about what a 4-task ``mapInPandas`` job that does nothing costs.
Every kernel must therefore be submitted through ``pyworker.python_kernel``,
which installs a guard in each worker so a reused worker re-reads only
archives that changed; that brought the same sweep to 0.11-0.14 s (median
0.13 s). tests/test_pyworker.py fails on a kernel call that bypasses it;
scripts/worker_tax_probe.py measures the cost with and without the guard.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else 30% of physical memory capped at 48g."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{min(48 * 1024, int(phys * 0.3) >> 20)}m"


def get_spark(
    app_name: str = "haskellpagerank_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` honours $SPARK_GRAFT_CPUS (driver contract), falling back
    to all machine cores. An existing active session is reused as-is.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    n = cores or default_parallelism()
    sp = shuffle_partitions or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
