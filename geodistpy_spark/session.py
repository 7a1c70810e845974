"""SparkSession factory tuned for this engine.

Local-mode defaults come from the host: one task slot per core this
process may run on (``SPARK_GRAFT_CPUS`` overrides) and a quarter of
physical memory for the driver heap (``SPARK_DRIVER_MEMORY`` overrides).
At production scale the same configs apply per-executor and the entry
point is ``spark-submit --py-files geodistpy_spark.zip job.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _task_slots() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus is not None else len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return os.environ["SPARK_DRIVER_MEMORY"]
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return f"{max(total_kb // 4 // 1024, 1024)}m"


def get_spark(app_name: str = "geodistpy_spark", master: str | None = None,
              shuffle_partitions: int | None = None, extra: dict | None = None) -> SparkSession:
    slots = _task_slots()
    master = master or f"local[{slots}]"
    if shuffle_partitions is None:
        # cores x 4: memory-heavy aggregations (collect_list, wide minhash
        # groupBys) need partitions smaller than cores x 1 would give, and
        # AQE coalesces the excess away on small stages
        shuffle_partitions = slots * 4
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        # PySpark 4 wraps every DataFrame API call to capture the Python
        # call site for error messages: a stack walk plus THREE extra
        # py4j round trips (conf.get + origin.set + clear) per call.
        # Measured on the dedup builder: 0.65 -> 0.44 s of driver-side
        # plan construction per call. Scale-independent (pure driver
        # overhead); re-enable when debugging plan provenance.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
