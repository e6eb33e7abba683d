"""SparkSession factory with scale-appropriate defaults.

Local testing runs single-JVM (local[N]); the same config block is what we'd
hand to spark-submit on a real cluster — AQE on (runtime coalesce + skew-join
split), Arrow on (all our UDFs are pandas/Arrow-vectorized), runtime bloom
pruning on (replaces the reference's hand-rolled bloom prefilter,
/root/reference/src/hashdb.c:507,558).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem() -> str:
    """60% of MemAvailable: a fixed 16g heap got a bench leg OOM-killed on a
    host with 15 GB of RAM and no swap (local mode runs everything in the
    driver).  8g when /proc/meminfo is unreadable."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    except (OSError, StopIteration):
        return "8g"
    return f"{max(kb * 6 // 10 // 1024, 1024)}m"


def get_spark(
    app_name: str = "deduputil-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = _master_cores(master)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _master_cores(master: str) -> int:
    if master.startswith("local["):
        inner = master[6:-1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 8
