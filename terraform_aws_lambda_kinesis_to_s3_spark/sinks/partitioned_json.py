"""Partitioned gzip JSON sink (reference A10, lambda/main.py:67-73).

The reference writes one gzipped JSON-lines object per (log_type,
YYYY-MM, DD) group under ``%prefix%/%log_type%/YYYY-MM/DD/`` with
collision-free names (``README.md:13-14``). This module is the one
place that layout is spelled out, for every writer of routed records:
the batch job, the stream's file sink and compaction. The layout's
root is the dataset path plus ``cfg.log_path_prefix`` (reference
LOG_S3_PREFIX, lambda/main.py:23). Spark equivalents:

- **hive layout (default, idiomatic)**: ``log_type=T/ym=M/dd=D/``
  under the root, a dynamic-partition write ``partitionBy("log_type",
  "ym","dd")``. Rows are first hash-repartitioned onto those columns
  into ``defaultParallelism`` tasks, so each directory receives files
  from one task instead of every task (without it, T tasks x P
  partitions make T*P tiny gzip objects). Task-attempt file naming
  already guarantees unique names (the reference needed ``log_id`` in
  the object name for that). A stream writes it through Spark's file
  sink, whose ``_spark_metadata`` log under the root makes it
  exactly-once with the checkpoint.
- **exact layout (compat)**: the reference's two-segment
  ``%log_type%/YYYY-MM/DD/`` path. Implemented as the same hive write
  into a staging dir, then renames through the Hadoop FileSystem
  API — metadata-only on file:// and HDFS, one COPY per object on
  S3A (functional, but prefer the hive layout there).

Payloads are written verbatim (``text`` writer, gzip codec), so output
content round-trips the input JSON byte-for-byte — the reference never
re-serializes either (schema-free model, README.md:9).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig

_PARTITION_COLS = ("log_type", "ym", "dd")


def _jpath(spark: SparkSession, p: str):
    return spark._jvm.org.apache.hadoop.fs.Path(p)


def _fs(spark: SparkSession, path: str, what: str):
    """Resolve the Hadoop FileSystem for ``path`` — local, HDFS, or any
    object-store connector on the classpath. Unknown schemes (e.g.
    ``s3://`` without hadoop-aws deployed) fail here, before any data
    is written."""
    try:
        return _jpath(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())
    except Exception as exc:  # py4j wraps the Java IOException
        raise ValueError(
            f"{what}: no Hadoop FileSystem available for {path!r} "
            f"(is the connector on the classpath?): {exc}"
        ) from None


def _root(path: str, cfg: PipelineConfig) -> str:
    return os.path.join(path, cfg.log_path_prefix) if cfg.log_path_prefix else path


def _rows(routed: DataFrame) -> DataFrame:
    """Routed records (from ``route_records``) as the layout's columns."""
    return routed.select(
        F.col("payload").alias("value"), F.col("route").alias("log_type"), "ym", "dd"
    )


def _hive(rows: DataFrame, root: str, *salt: Column):
    """The hive layout's writer for ``rows`` (value, log_type, ym, dd)
    at ``root``: clustered onto the partition columns (plus ``salt``),
    gzip ``text`` files under ``partitionBy``. A ``DataFrameWriter``
    in append mode for a batch ``rows``, a ``DataStreamWriter`` for a
    streaming one."""
    n = rows.sparkSession.sparkContext.defaultParallelism
    rows = rows.repartition(n, *_PARTITION_COLS, *salt)
    writer = rows.writeStream if rows.isStreaming else rows.write.mode("append")
    return (
        writer.partitionBy(*_PARTITION_COLS)
        .option("compression", "gzip")
        .format("text")
        .option("path", root)
    )


def _read(spark: SparkSession, root: str) -> DataFrame:
    """A hive-layout dataset at ``root`` as (value, log_type, ym, dd),
    all strings: partition type inference would read ``dd=02`` as the
    integer 2, which a rewrite then writes back as ``dd=2``. A stream
    sink's root is read through its ``_spark_metadata`` log, so only
    files a committed batch lists are returned."""
    return (
        spark.read.format("text")
        .schema("value string, log_type string, ym string, dd string")
        .load(root)
    )


def write_routed(
    df: DataFrame,
    path: str,
    cfg: PipelineConfig | None = None,
    exact_layout: bool = False,
) -> None:
    """Append a routed DataFrame (from ``route_records``) under
    ``path`` plus ``cfg.log_path_prefix``, in the hive layout or, with
    ``exact_layout``, the reference's ``%log_type%/YYYY-MM/DD/``."""
    cfg = cfg or PipelineConfig()
    root = _root(path, cfg)
    if exact_layout:
        _fs(df.sparkSession, root, "exact_layout restage")  # fail before writing
    target = root if not exact_layout else root + "__stage"
    _hive(_rows(df), target).save()
    if exact_layout:
        _restage_exact(df.sparkSession, target, root)


def stream_routed(
    df: DataFrame, path: str, cfg: PipelineConfig, exact_layout: bool = False
) -> DataStreamWriter:
    """The unstarted sink of a routed stream, laid out as
    :func:`write_routed` lays out a batch.

    The hive layout is Spark's file sink: exactly-once. ``exact_layout``
    sends each micro-batch through :func:`write_routed` by
    ``foreachBatch``, which is at-least-once on retry (the reference's
    own guarantee, main.tf:56-62).
    """
    if exact_layout:
        return df.writeStream.foreachBatch(
            lambda batch, _: write_routed(batch, path, cfg, exact_layout=True)
        )
    return _hive(_rows(df), _root(path, cfg))


#: Schemes where a Hadoop FS rename is a true metadata-only move.  On
#: anything else (s3a://, gs://, abfs://, ...) rename is a client-side
#: copy that several connectors also refuse (return False) for
#: cross-directory moves — those go straight to the explicit
#: copy-then-delete below, the portable object-store move.
_RENAME_SCHEMES = frozenset({"", "file", "hdfs", "viewfs"})


def _move_file(spark: SparkSession, fs, src, dst) -> None:
    """Move one object: metadata rename where the filesystem supports
    it, copy-then-delete everywhere else (and as the fallback when a
    rename is refused)."""
    scheme = src.toUri().getScheme() or ""
    if scheme in _RENAME_SCHEMES and fs.rename(src, dst):
        return
    ok = spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
        fs, src, fs, dst, True, True, spark._jsc.hadoopConfiguration()
    )
    if not ok:
        raise OSError(f"exact_layout restage: could not move {src} -> {dst}")


def _restage_exact(spark: SparkSession, stage: str, root: str) -> None:
    """hive ``log_type=T/ym=M/dd=D`` -> exact ``T/M/D`` via
    :func:`_move_file` — metadata-only renames on file://+HDFS, explicit
    copy-then-delete on object stores (S3A et al., whose "rename" is a
    copy anyway and may return False outright). Driver-side loop over
    *directories* (one per partition), never over data rows."""
    fs = _fs(spark, stage, "exact_layout restage")
    for lt in _hive_children(spark, fs, stage, "log_type="):
        for ym in _hive_children(spark, fs, str(lt), "ym="):
            for dd in _hive_children(spark, fs, str(ym), "dd="):
                parts = [
                    seg.split("=", 1)[1]
                    for seg in (p.getName() for p in (lt, ym, dd))
                ]
                dst = _jpath(spark, "/".join([root, *parts]))
                fs.mkdirs(dst)
                for st in fs.listStatus(dd):
                    name = st.getPath().getName()
                    if not name.startswith(("_", ".")):
                        _move_file(
                            spark,
                            fs,
                            st.getPath(),
                            spark._jvm.org.apache.hadoop.fs.Path(dst, name),
                        )
    fs.delete(_jpath(spark, stage), True)


def _hive_children(spark: SparkSession, fs, d: str, prefix: str):
    p = _jpath(spark, str(d))
    if not fs.exists(p):
        return []
    return [
        st.getPath()
        for st in fs.listStatus(p)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]


def read_routed(
    spark: SparkSession, path: str, cfg: PipelineConfig | None = None
) -> DataFrame:
    """Read back a hive-layout routed dataset (payload + partition cols)."""
    return _read(spark, _root(path, cfg or PipelineConfig())).withColumnRenamed(
        "value", "payload"
    )


def compact_partitions(
    spark: SparkSession,
    root: str,
    files_per_partition: int = 1,
) -> int:
    """Compact the small files of a hive-layout routed dataset at
    ``root`` (the dataset path plus its prefix).

    Repeated appends accumulate one file per task per append; at
    100 TB that is the classic small-files problem
    (S3 listing + open overhead dominates reads). This rewrites each
    (log_type, ym, dd) partition into ``files_per_partition`` files
    through the layout's own clustered write into a staging dir, then
    swaps directories. Returns the number of data files after
    compaction.

    The rewrite is one parallel Spark job: hash-repartitioning on the
    partition columns routes each output directory's rows to exactly
    one task (so one file per directory) while different directories
    still spread across all cores. ``files_per_partition > 1`` salts
    the hash to split hot partitions.

    The staging-dir swap goes through the Hadoop FileSystem API —
    atomic directory renames on file://+HDFS; on S3A the swap is a
    copy and readers can observe a partial listing mid-swap (prefer a
    table format's commit protocol there).

    A root that holds ``_spark_metadata`` (a stream's file sink) is
    refused with ``ValueError`` before anything is written: the swap
    would drop that log, the stream's next batch would start a new one
    at its own batch id, and a plain ``spark.read.text(root)`` would
    then fail on the missing earlier log entries.
    """
    fs = _fs(spark, root, "compact_partitions")
    if fs.exists(_jpath(spark, root + "/_spark_metadata")):
        raise ValueError(
            f"compact_partitions: {root!r} holds a stream's _spark_metadata "
            "log, which compaction would drop; compact a batch root"
        )
    stage = root + "__compact"
    salt = [F.crc32(F.col("value")) % files_per_partition] if files_per_partition > 1 else []
    _hive(_read(spark, root), stage, *salt).mode("overwrite").save()
    old = root + "__old"
    root_p, stage_p, old_p = (_jpath(spark, p) for p in (root, stage, old))
    fs.delete(old_p, True)
    fs.rename(root_p, old_p)
    fs.rename(stage_p, root_p)
    fs.delete(old_p, True)
    n_files = 0
    it = fs.listFiles(root_p, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            n_files += 1
    return n_files
