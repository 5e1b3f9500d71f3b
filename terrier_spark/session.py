"""SparkSession helper with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "terrier-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        # SPARK_GRAFT_CPUS, else every core this process may run on
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
                   or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
