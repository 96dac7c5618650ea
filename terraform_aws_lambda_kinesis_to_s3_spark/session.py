"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench harness; on a real cluster the
same settings (AQE on, UTC session tz, Arrow on) are the ones you want
at 100 TB — AQE handles skew-join splitting and partition coalescing at
runtime, Arrow keeps the few pandas_udf kernels batch-transferred.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kinesis_to_s3_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # local mode: shuffle partitions ~= cores; on a cluster AQE coalesces.
    # SPARK_GRAFT_SHUFFLE_PARTITIONS overrides for scale runs: partitions
    # must grow with the input so per-partition state keeps fitting in
    # executor memory — the sizing lever tools/plan_cost.py validates
    shuffle = str(
        shuffle_partitions
        or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        or cpus
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r11 optimization round: let AQE size CACHED plan output
        # partitions by bytes instead of freezing the pre-AQE
        # partition count at materialization.  Every persisted stage
        # (@shared_stage helpers + in-query persists) otherwise pins
        # its cache at spark.sql.shuffle.partitions and every consumer
        # stage pays that task count regardless of data size — the
        # triangle family read 568 tasks/query with the flag off vs
        # 224 with it on, shuffle 248 -> 223 MB, at identical results
        # (the partition-invariance audit pins layout-blindness).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
