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
- sink: the batch job's partitioned gzip JSON layout
  (``sinks.stream_routed``) + checkpoint = exactly-once (an upgrade
  over the reference's at-least-once, SURVEY.md §4).
- trigger: a live stream polls its source once a second, like the
  reference's shard poll, and runs a micro-batch only when data arrived
  (see :data:`_QUERY_CONF` for the per-batch costs this avoids).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql import functions as F

from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import decode_records
from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import route_records
from terraform_aws_lambda_kinesis_to_s3_spark.sinks import stream_routed
from terraform_aws_lambda_kinesis_to_s3_spark.streaming.metrics import observe_routes


def stream_source(
    spark: SparkSession,
    cfg: PipelineConfig,
    format: str = "file",
    path: str | None = None,
) -> DataFrame:
    """Source factory — the engine's one production-boundary seam.
    Every format yields the same shape: a ``payload`` string column of
    fully-decoded logical records.

    ``file``: newline-delimited payload files (tests, replay, and the
    S3-landing pattern where an agent drops raw batches). Payloads are
    already text — no decode chain.
    ``kinesis``: requires a Kinesis connector on the cluster (EMR/Glue
    provide one). The connector surfaces ``data`` as raw bytes; the
    reference always runs those through ``kinesis.parse_records``
    (lambda/main.py:47), so this path routes through the same
    ``decode_records`` chain as the batch path — gzipped, KPL-
    aggregated and CloudWatch records land correctly instead of being
    UTF-8-mangled (ADVICE r1, streaming/job.py:59).
    """
    if format == "file":
        return (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", max(1, cfg.batch_size // 100))
            .load(path)
            .withColumnRenamed("value", "payload")
        )
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


#: Session settings every query :func:`start_query` starts runs under:
#: no no-data micro-batches. In :func:`run_stream` the arrival-time
#: watermark moves on every data batch, so Spark would follow each one
#: with an empty batch (offsets, commit and state deltas) that evicts
#: nothing under an hour-long watermark. Expired dedup keys are evicted
#: by the next data batch instead; output is unchanged, because the
#: dedup emits a key's first copy at once. The ``foreachBatch`` monitors
#: and the corpus ingest hold no stateful operator in their streaming
#: plans, and Spark runs a no-data batch only for a stateful operator,
#: so the setting changes nothing there.
_QUERY_CONF = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}


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


def start_query(
    writer: DataStreamWriter, checkpoint: str, available_now: bool
) -> StreamingQuery:
    """Start ``writer`` at ``checkpoint``: the one place the package
    sets a query's checkpoint, trigger and session settings.

    ``available_now=True`` drains everything currently available and
    stops; otherwise the query polls its source once a second. Spark's
    default trigger polls every 10 ms: an idle live monitor used about
    0.3 of a core at ``local[4]`` with it, 0.02 with the 1 s poll."""
    trigger = (
        {"availableNow": True} if available_now else {"processingTime": "1 second"}
    )
    writer = writer.option("checkpointLocation", checkpoint).trigger(**trigger)
    with _session_conf(writer._spark, _QUERY_CONF):
        return writer.start()


def run_stream(
    source: DataFrame,
    out_path: str,
    checkpoint: str,
    cfg: PipelineConfig | None = None,
    dedup_watermark: str | None = "1 hour",
    available_now: bool = True,
    exact_layout: bool = False,
):
    """Route a payload stream into the partitioned gzip JSON sink
    (``sinks.stream_routed``), under ``out_path`` plus the configured
    prefix, where ``job.run_batch`` writes the same records.

    Returns the StreamingQuery (caller awaits termination).
    ``available_now=True`` drains everything currently available and
    stops — the batch-replay trigger used in tests and backfills;
    otherwise the query polls its source once a second.
    ``exact_layout=True`` writes the reference's two-segment
    ``%log_type%/YYYY-MM/DD/`` layout, at-least-once; the default
    hive layout is exactly-once.
    """
    cfg = cfg or PipelineConfig()
    # A12 parity: per-batch in/valid/unknown counters computed inside
    # the batch's own execution (observe = zero extra pass); surfaced
    # via streaming.metrics.RouteMetricsListener
    routed = observe_routes(route_records(source, cfg), cfg)
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
    writer = stream_routed(routed, out_path, cfg, exact_layout)
    return start_query(writer, checkpoint, available_now)
