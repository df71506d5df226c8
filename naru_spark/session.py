"""SparkSession factory with scale-oriented defaults.

Local mode sized to the host: ``local[N]`` over the CPUs this process may
run on and a driver heap of half the physical memory, unless
``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY`` say otherwise. The rest is
expressed the way a 1000-executor cluster job would set it: AQE on (runtime
re-plan, skew-join splitting, partition coalescing), Arrow for any pandas
exchange, one shuffle partition per core, and a broadcast threshold high
enough that dimension tables and per-column dictionaries broadcast instead of
shuffling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_defaults() -> tuple[int, str]:
    """The CPUs this process may run on, and half the physical memory as a
    heap size in whole GiB (at least 1g)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return len(os.sched_getaffinity(0)), f"{max(1, phys // 2**31)}g"


def get_spark(app_name: str = "naru_spark", shuffle_partitions: int | None = None) -> SparkSession:
    host_cpus, host_heap = _host_defaults()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else host_cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM hosts all executor threads, so this IS
        # the executor memory; the other half is left to Python workers
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or host_heap)
        .config("spark.ui.enabled", "false")
        # Timestamps in the testdata are naive; keep session in UTC so Spark
        # and DuckDB agree on literal values.
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
