"""SparkSession factory tuned for the dedup workload.

Local-mode defaults mirror what we'd set on a 1000-executor cluster:
AQE on (skew-join splitting + post-shuffle coalescing), shuffle
partitions sized to cores (not the 200 default), Arrow enabled for the
pandas-UDF signature stage. On a real cluster only master/memory change;
all spark.sql.* settings below carry over via spark-submit --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """SPARK_DRIVER_MEM, else half of physical RAM clamped to [4g, 48g].

    The upper clamp matters: measured at 1M docs/local[8], a 24g heap
    loses ~23% throughput to GC pressure vs 48g (BENCH.md round-2
    notes); the lower clamp keeps small hosts out of OOM-killer range.
    """
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        total_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) / (1 << 30)
    except (ValueError, OSError):  # pragma: no cover - non-posix
        total_gb = 16.0
    return f"{min(48, max(4, int(total_gb / 2)))}g"


def build_session(
    app_name: str = "hsearch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Make the package importable in Python workers regardless of cwd.
    # Local mode: workers inherit PYTHONPATH from the driver process.
    # On a real cluster this is `spark-submit --py-files hsearch_spark.zip`.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # local mode: one JVM holds scan buffers, shuffle state AND every
        # localCheckpoint'd stage — size the heap like driver+executor
        # combined, not like a driver. Default is environment-aware
        # (half of physical RAM, clamped to [4g, 48g]) so hosts smaller
        # than the 128 GiB dev box don't hand the JVM a heap the
        # OOM-killer will reclaim; SPARK_DRIVER_MEM overrides.
        .config("spark.driver.memory", _default_driver_mem())
        # Arrow batches pin buffers in JNI critical sections; at high task
        # concurrency large allocations can spin on the GCLocker (observed
        # as 32-core runs stalling behind 8-core ones). More retries +
        # larger G1 regions (fewer humongous allocations) defuse it.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=64 -XX:G1HeapRegionSize=32m",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
