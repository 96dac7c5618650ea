"""PySpark-native log-routing + analytics engine.

A brand-new engine with the query and data-processing capabilities of
``baikonur-oss/terraform-aws-lambda-kinesis-to-s3`` (reference at
``/root/reference/``), rebuilt Spark-first:

- Tier A (reference parity): decode (base64 / gzip / CloudWatch Logs
  envelope / KPL aggregation) -> JSON parse -> 3-field envelope
  validation -> whitelist filter -> dead-letter routing -> (log_type,
  date)-partitioned gzip JSON sink, batch + Structured Streaming.
  See ``operators.envelope``, ``functions.decoders``, ``sinks``.
- Tier B (scale extensions): exact/near dedup, embedding similarity
  search, text analysis, multimodal column plumbing, and the
  relational core used by the correctness oracle.

Everything is DataFrame/Catalyst; Python appears only as ``mapInArrow``
passes for gunzip plus KPL deaggregation and for permissive
(dateutil-style) timestamp parsing.
"""

from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig

__all__ = ["PipelineConfig"]
__version__ = "0.1.0"
