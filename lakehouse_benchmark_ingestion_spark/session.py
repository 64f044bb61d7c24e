"""SparkSession factory with scale-oriented defaults.

The reference pins stage parallelism by hand (source.parallelism=4,
sink parallelism=4 — config/BaseConfigOptions.java:55-56,
config/IcebergConfigOptions.java:50-51). We instead let AQE right-size
shuffles at runtime and only pin the *initial* shuffle partition count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "icelite",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the maintenance engine.

    Defaults chosen for the 100 TB story, harmless at local scale:
      - AQE on (runtime coalescing + skew-join splitting),
      - Arrow on (every pandas UDF boundary is Arrow-batched),
      - shuffle partitions sized to cores locally (a real cluster would
        set this to 2-3x total cores via spark-submit conf).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # SPARK_GRAFT_MASTER overrides the master verbatim — e.g.
    # "local-cluster[4,4,8192]" spins up 4 REAL executor JVM processes
    # (the N-vs-4N EXECUTORS shape of a true cluster, not threads in one
    # JVM); SPARK_GRAFT_CPUS still sizes shuffle width
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # concurrent maintenance-group jobs interleave instead of queueing
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # timestamps in fixtures are TIMESTAMP(6) (MysqlCDCCatalog.java:244-245)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # reads name leaf files the manifests already list; above this many
        # paths Spark lists them in a job with one task per path
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # real-executor masters (local-cluster / standalone) size executor JVMs
    # from spark.executor.memory, NOT from the worker's memory budget — the
    # 1g default OOMs on bench-scale shuffles (measured: local-cluster with
    # a 16g worker still launched -Xmx1024M executors)
    exec_mem = os.environ.get("SPARK_GRAFT_EXECUTOR_MEM")
    if exec_mem:
        builder = builder.config("spark.executor.memory", exec_mem)
    # SPARK_GRAFT_LOCAL_DIR relocates Spark scratch (shuffle files, spill,
    # block-manager disk store) — e.g. to /dev/shm for executor-mode scaling
    # runs where N JVMs sharing the sandbox's one virtual disk would measure
    # the disk, not the engine (a real N-node cluster has N local disks).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
