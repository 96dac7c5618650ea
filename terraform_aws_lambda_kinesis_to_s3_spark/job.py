"""High-level job API: batch backfill and streaming run.

The reference deploys one Lambda wired by env vars (``main.tf:41-52``);
the equivalent here is one function call (or the ``__main__`` CLI)
wired by the same names via ``PipelineConfig.from_env()``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import decode_records
from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import route_records
from terraform_aws_lambda_kinesis_to_s3_spark.sinks import write_routed
from terraform_aws_lambda_kinesis_to_s3_spark.sources.records import kinesis_event_to_df


def run_batch(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    cfg: PipelineConfig | None = None,
    input_format: str = "payload",
    exact_layout: bool = False,
) -> None:
    """Batch replay/backfill: a directory of records -> routed sink.

    ``input_format``:
      - ``payload``: newline-delimited payload text (post-transport)
      - ``kinesis-event``: Lambda-event JSON (``{"Records":[...]}``),
        base64 ``Data`` blobs decoded through the full A2 chain
    """
    cfg = cfg or PipelineConfig()
    raw = spark.read.format("text").load(input_path)
    # the decode and dateutil passes carry every column through Python:
    # hand them only the one the sink needs
    if input_format == "kinesis-event":
        df = decode_records(kinesis_event_to_df(raw, "value").select("data"))
    elif input_format == "payload":
        df = raw.withColumnRenamed("value", "payload")
    else:
        raise ValueError(f"unknown input_format: {input_format}")
    routed = route_records(df.select("payload"), cfg)
    write_routed(routed, output_path, cfg, exact_layout=exact_layout)
