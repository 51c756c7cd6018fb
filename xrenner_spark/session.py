"""SparkSession construction with scale-appropriate defaults.

Local runs use ``local[N]``, N = $SPARK_GRAFT_CPUS or else the CPUs this
process may run on (default_cores); on a real cluster the same settings
ship through spark-submit --conf.  Documents are fat rows
(html + embedded parse), so Arrow batches are kept small
(maxRecordsPerBatch) to bound executor memory per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """min(48g, half of physical memory): the local driver JVM must leave
    the host room for its Python workers and the OS."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    return "%dm" % min(48 * 1024, half_mb)


def default_cores() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on: a local
    session with more task slots than cores only oversubscribes them."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "xrenner-spark", cores: int = None,
              shuffle_partitions: int = None, extra_conf: dict = None) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cores)
    builder = (
        SparkSession.builder
        .appName(app_name)
        .master("local[%d]" % cores)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE can only COALESCE shuffle partitions, never split them
        # (measured: the 24-table 1M-vector LSH run took 179-257 s at 32
        # shuffle partitions vs 80.7 s at 128 — pure reducer pressure).
        # Start big-shuffle exchanges at 8x cores and let parallelismFirst
        # coalesce small ones back down to ~core count.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(8 * cores))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 32 concurrent tasks buffering Arrow batches + nested parquet
        # writes thrash a 16g heap (measured: the same 20k-doc pipeline
        # runs 19.0s at 16g vs 8.4s at 48g, all GC) — on a real cluster
        # this is per-executor memory sizing, here the one local JVM
        # carries all task slots
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    return builder.getOrCreate()
