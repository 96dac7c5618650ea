"""Sinks: the (log_type, date)-partitioned gzip JSON layout (hive or
exact), written by batch and stream alike and read back from one place."""

from terraform_aws_lambda_kinesis_to_s3_spark.sinks.partitioned_json import (
    write_routed,
    stream_routed,
    read_routed,
)

__all__ = ["write_routed", "stream_routed", "read_routed"]
