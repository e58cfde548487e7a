"""SparkSession factory with the engine's tuned configuration profile.

Scale posture (SURVEY.md §4): everything here is sized so the same code runs
on a multi-executor cluster — local[] is only the test harness. AQE handles
runtime re-planning (skew joins, partition coalescing); Arrow is the
transport for every Python kernel; the RocksDB state store provider backs
streaming state so watermark-retained state spills off-heap at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rtfproc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    streaming_rocksdb: bool = False,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # one shuffle task per core locally, so a stateful stage runs one
        # wave of tasks per micro-batch; on a real cluster this is overridden
        # to ~2-3x total executor cores (AQE coalesces down). A streaming
        # query keeps the count its checkpoint was started with.
        shuffle_partitions = cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # parquet scans: pushdown + pruning are free if plans stay declarative
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if streaming_rocksdb:
        b = b.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, str(v))
    return b.getOrCreate()
