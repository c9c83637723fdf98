"""SparkSession factory.

Local testing runs a single JVM (local[N]); the configs below are chosen so
the same logical plans survive a 1000-executor cluster at 100 TB:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting) so the
  sf0.01 plan and the 100 TB plan differ only in runtime stats, not code.
* shuffle.partitions sized to cores locally; at cluster scale AQE re-derives
  partitioning from the 64 MB advisory target instead of a fixed number.
* Arrow enabled: every Pandas-UDF boundary is vectorized, never per-row.
* Session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
* Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set, else min(24g, half of
  physical memory), so two local sessions side by side fit the host.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    except (AttributeError, OSError, ValueError):
        return "24g"
    return "24g" if half_mb >= 24 * 1024 else f"{half_mb}m"


def get_spark(
    app_name: str = "gmail_bigquery_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
