"""Structured Streaming job: the reference's Lambda loop as a stream.

Reference lifecycle (SURVEY.md §3.1): Kinesis shards -> micro-batch of
<= batch_size records -> decode/parse/validate/route -> S3 partitioned
write, at-least-once with whole-batch retry. Spark mapping:

- source: ``readStream`` — Kinesis connector in production (EMR/Glue
  built-in or spark-sql-kinesis; kept behind :func:`stream_source`),
  file source for tests/replay. ``maxFilesPerTrigger`` plays the role
  of ``batch_size`` (``main.tf:57``).
- transform: the *same* batch transforms (``route_records``) — the
  pipeline is identical in batch and streaming, which is the point of
  building it as pure column expressions.
- dedup: ``dropDuplicatesWithinWatermark`` on ``log_id`` bounds the
  at-least-once replay window with finite state (SURVEY.md §7 hard
  part d — unbounded dropDuplicates state would not survive 100 TB).
- sink: partitioned gzip JSON files + checkpoint = exactly-once (an
  upgrade over the reference's at-least-once, SURVEY.md §4).
- trigger: a live stream polls its source once a second, like the
  reference's shard poll, and runs a micro-batch only when data arrived
  (see :func:`_query_conf` for the per-batch costs this avoids).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import decode_records
from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import route_records


def stream_source(
    spark: SparkSession,
    cfg: PipelineConfig,
    format: str = "file",
    path: str | None = None,
    schema: str = "payload string",
) -> DataFrame:
    """Source factory — the engine's one production-boundary seam.
    Every format yields the same shape: a ``payload`` string column of
    fully-decoded logical records.

    ``file``: newline-delimited payload files (tests, replay, and the
    S3-landing pattern where an agent drops raw batches). Payloads are
    already text — no decode chain.
    ``binary-file``: one raw Kinesis ``Data`` blob per file, run
    through the full A2 decode chain (KPL deaggregation, gunzip,
    CloudWatch unwrap) — the connector-free stand-in that exercises the
    exact decode path the kinesis format uses.
    ``kinesis``: requires a Kinesis connector on the cluster (EMR/Glue
    provide one). The connector surfaces ``data`` as raw bytes; the
    reference always runs those through ``kinesis.parse_records``
    (lambda/main.py:47), so this path routes through the same
    ``decode_records`` chain as the batch path — gzipped, KPL-
    aggregated and CloudWatch records land correctly instead of being
    UTF-8-mangled (ADVICE r1, streaming/job.py:59).
    """
    files_per_trigger = max(1, cfg.batch_size // 100)
    if format == "file":
        return (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", files_per_trigger)
            .load(path)
            .withColumnRenamed("value", "payload")
        )
    if format == "binary-file":
        raw = (
            spark.readStream.format("binaryFile")
            # streaming sources need an explicit schema; binaryFile's is fixed
            .schema(
                "path string, modificationTime timestamp, length long, content binary"
            )
            .option("maxFilesPerTrigger", files_per_trigger)
            .load(path)
            .select(F.col("content").alias("data"))
        )
        return decode_records(raw, base64_encoded=False).select("payload")
    if format == "kinesis":
        if not cfg.kinesis_stream_arn:
            raise ValueError("kinesis source requires cfg.kinesis_stream_arn")
        raw = (
            spark.readStream.format("kinesis")
            .option("streamName", cfg.kinesis_stream_arn.rsplit("/", 1)[-1])
            .option("startingPosition", cfg.starting_position)
            .load()
            .select(F.col("data"))
        )
        return decode_records(raw, base64_encoded=False).select("payload")
    raise ValueError(f"unknown stream source format: {format}")


#: Spark's checkpoint file manager over the Hadoop ``FileSystem`` API
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _query_conf(spark: SparkSession, checkpoint: str) -> dict[str, str]:
    """Session settings a :func:`run_stream` query starts under.

    - No no-data micro-batches: the arrival-time watermark moves on
      every data batch, so Spark would follow each one with an empty
      batch (offsets, commit and state deltas) that evicts nothing
      under an hour-long watermark. Expired dedup keys are evicted by
      the next data batch instead; output is unchanged, because the
      dedup emits a key's first copy at once.
    - On ``file:``, the ``FileSystem`` checkpoint manager. Spark's
      default, ``FileContext``, renames there by checking the target
      first. In local mode ``session.get_spark``'s ``NioLocalFileSystem``
      answers that check without a fork; with a non-local master and
      no libhadoop, Hadoop's stock local FS forks a ``readlink`` process
      per checkpoint file for it, and this switch avoids that. HDFS and
      object stores keep the default. The file source's
      own log (``sources/``) is opened by the query's thread after
      ``start()`` returns, so it takes whichever manager the session
      has by then; either one reads the other's files.
    """
    conf = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}
    hadoop_fs = spark._jvm.org.apache.hadoop.fs
    scheme = hadoop_fs.Path(checkpoint).toUri().getScheme()
    if scheme is None:
        # a path without a scheme is on the default file system, as
        # Spark resolves the checkpoint
        hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
        scheme = hadoop_fs.FileSystem.getDefaultUri(hadoop_conf).getScheme()
    if scheme == "file":
        conf["spark.sql.streaming.checkpointFileManagerClass"] = _FS_CHECKPOINT_MANAGER
    return conf


@contextmanager
def _session_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on the session, then restore it. A streaming query
    runs on a copy of its session taken at ``start()``, so the settings
    reach queries started inside the block and nothing else."""
    before = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_stream(
    source: DataFrame,
    out_path: str,
    checkpoint: str,
    cfg: PipelineConfig | None = None,
    dedup_watermark: str | None = "1 hour",
    available_now: bool = True,
    exact_layout: bool = False,
    observe: bool = True,
):
    """Route a payload stream into the partitioned gzip JSON sink.

    Returns the StreamingQuery (caller awaits termination).
    ``available_now=True`` drains everything currently available and
    stops — the batch-replay trigger used in tests and backfills;
    otherwise the query polls its source once a second.

    ``exact_layout=True`` writes the reference's two-segment
    ``%log_type%/YYYY-MM/DD/`` layout via ``foreachBatch`` (each
    micro-batch goes through the batch sink). Note: foreachBatch is
    at-least-once on retry (the reference's own guarantee,
    main.tf:56-62); the default hive-layout file sink stays
    exactly-once.
    """
    cfg = cfg or PipelineConfig()
    routed = route_records(source, cfg)
    if observe:
        # A12 parity: per-batch in/valid/unknown counters computed
        # inside the batch's own execution (observe = zero extra pass);
        # surfaced via streaming.metrics.RouteMetricsListener
        from terraform_aws_lambda_kinesis_to_s3_spark.streaming.metrics import (
            observe_routes,
        )

        routed = observe_routes(routed, cfg)
    if dedup_watermark:
        # Replay dedup is a *processing-time* concern (the reference's
        # at-least-once retries arrive minutes apart, regardless of the
        # record's own event time — README.md:14), so watermark on
        # arrival time. An event-time watermark here would mark all
        # historical records late during a backfill and silently drop
        # them; state stays bounded either way.
        # invalid records have no log_id — key them by payload hash so
        # distinct dead-letter records survive while replayed ones dedup
        routed = routed.withColumn(
            "__dedup_key",
            F.coalesce(
                F.col("log_id"), F.concat(F.lit("__raw:"), F.md5(F.col("payload")))
            ),
        )
        routed = routed.withColumn("__arrival_ts", F.current_timestamp())
        routed = routed.withWatermark("__arrival_ts", dedup_watermark)
        routed = routed.dropDuplicatesWithinWatermark(["__dedup_key"])
    if exact_layout:
        from terraform_aws_lambda_kinesis_to_s3_spark.sinks import write_routed

        def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
            write_routed(batch_df, out_path, cfg, exact_layout=True)

        writer = (
            routed.writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
        )
    else:
        out = routed.select(
            F.col("payload").alias("value"),
            F.col("route").alias("log_type"),
            "ym",
            "dd",
        )
        # cluster rows onto their partition dirs per micro-batch — else
        # every task writes a file into every partition (small-files)
        out = out.repartition(F.col("log_type"), F.col("ym"), F.col("dd"))
        writer = (
            out.writeStream.format("text")
            .partitionBy("log_type", "ym", "dd")
            .option("compression", "gzip")
            .option("checkpointLocation", checkpoint)
            .option("path", out_path)
            .outputMode("append")
        )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    spark = source.sparkSession
    with _session_conf(spark, _query_conf(spark, checkpoint)):
        return writer.start()
