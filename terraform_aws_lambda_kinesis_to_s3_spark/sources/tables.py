"""Test-table loader for the driver parquet datasets (TESTDATA.md).

The driver-generated ``events.parquet`` stores ``ts`` as parquet
TIMESTAMP(NANOS), which Spark refuses by default; we flip the
session-settable ``spark.sql.legacy.parquet.nanosAsLong`` and convert
nanos -> microseconds ourselves (floor division — identical to how
DuckDB truncates nanos to its native microsecond timestamps, so the
oracle comparison stays exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: The ten test tables (TESTDATA.md).
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: (applicationId, sf_dir, name) -> observed scan partition count.  A
#: metadata-only probe (physical-plan partitioning, no job runs),
#: memoized per session/table so repeated loads don't re-plan the scan.
_SCAN_PARTS: dict[tuple[str, str, str], int] = {}


def _scan_partitions(
    spark: SparkSession, sf_dir: str, name: str, df: DataFrame
) -> int:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    n = _SCAN_PARTS.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SCAN_PARTS[key] = n
    return n


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = False
) -> DataFrame:
    """Load a test table; ``parallelize=True`` REQUESTS a rebalance of
    an under-parallel scan across cores before CPU-heavy downstream
    stages.  The rebalance only fires when the OBSERVED scan
    parallelism is below the session's core count (r11 verdict item 2):
    the synthetic test tables are one parquet file with one row group —
    unsplittable, so their scan is one task and the round-robin shuffle
    is the difference between 1-core and all-core execution of a heavy
    per-row chain — while a splittable production input (100 TB of
    128 MB parquet splits) already saturates the cores at scan time and
    must NOT pay a gratuitous full-table shuffle.  The gate is observed
    parallelism, not a config: the same query text does the right thing
    on both input shapes.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # oracle comparisons assume UTC rendering of timestamps; pin it even
    # when the caller's session was built with a different default
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if parallelize:
        cores = spark.sparkContext.defaultParallelism
        if _scan_partitions(spark, sf_dir, name, df) < cores:
            df = df.repartition(cores)
    for field in df.schema.fields:
        # nanosAsLong surfaces TIMESTAMP(NANOS) as LongType nanos
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # integer division — `/` would round-trip through double and
            # lose sub-microsecond precision on 1e18-scale nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and isinstance(field.dataType, T.TimestampNTZType):
            # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as
            # TIMESTAMP_NTZ; with the session pinned to UTC the cast is a
            # pure type-tag change (same instant, same rendering) and
            # keeps unix_micros()/long-cast arithmetic working downstream
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
