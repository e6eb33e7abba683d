"""The benchmark's Spark session: started through the package's own
`get_spark`, so session defaults a change makes are measured, with the few
settings a small shared host needs on top."""

from __future__ import annotations

import os
import shutil
import subprocess

#: the driver heap is this share of MemAvailable, in whole GiB, capped: the
#: heap must leave room for Python workers and the JVM's off-heap use on a
#: host shared with others (bench.py's 16g default got one of its two runs
#: OOM-killed at 13.7 GB RSS on a 15 GB host)
HEAP_SHARE = 0.4
HEAP_CAP_GIB = 2
#: local[k] with k <= nproc
MAX_CORES = 4


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_heap_gib() -> int:
    gib = int(mem_available_bytes() * HEAP_SHARE) >> 30
    if gib < 1:
        raise RuntimeError(f"MemAvailable {mem_available_bytes() >> 20} MiB is too small for a 1 GiB heap")
    return min(gib, HEAP_CAP_GIB)


def cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def start_session(work: str, heap_gib: int, event_log_dir: str | None = None):
    from deduputil_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    # every scratch file stays under `work`: the JVM and the Python workers
    # inherit this environment, and SPARK_LOCAL_DIRS wins over spark.local.dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": f"{heap_gib}g",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a stalled JVM on a contended host must not be declared dead mid-job
        "spark.network.timeout": "800s",
        "spark.executor.heartbeatInterval": "30s",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session AND its JVM, so the next start pays a fresh JVM's
    cost, as a new process would, and no process outlives the benchmark."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
