"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the config below is chosen so the
same plans hold on a multi-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), broadcast threshold
sized for dimension tables, UTC session time (the reference works in
UTC throughout — /root/reference/postgres_to_es/utils.py:6-16), and
Arrow for any pandas-UDF exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "etl_sprint_2_5_spark"


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` when set, else a quarter of the host's
    physical memory, between 1g and 16g. A fixed 16g let one session's
    JVM grow past what a small host could spare beside its other
    processes."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(max(host_mb // 4, 1024), 16 * 1024)}m"


def get_spark(app_name: str = APP_NAME, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Shuffle partitions default to the core count: at local test scale a
    partition is a few MB; on a real cluster this is overridden (or left
    to AQE coalescing, which is enabled).
    """
    cores = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata events.parquet carries TIMESTAMP(NANOS) which the
        # parquet reader rejects; read as long and convert in the source layer
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
    )
    return builder.getOrCreate()
