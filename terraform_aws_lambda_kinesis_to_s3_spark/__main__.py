"""CLI: run the log-routing pipeline with the reference's env-var config.

Usage:
  python -m terraform_aws_lambda_kinesis_to_s3_spark batch \
      --input /data/raw --output /data/routed [--kinesis-event] [--exact-layout]
  python -m terraform_aws_lambda_kinesis_to_s3_spark stream \
      --input /data/landing --output /data/routed --checkpoint /data/ckpt

Envelope/routing config comes from the same env vars the reference's
Terraform wires into the Lambda (LOG_TYPE_FIELD, LOG_ID_FIELD,
LOG_TIMESTAMP_FIELD, LOG_TYPE_UNKNOWN_PREFIX, LOG_TYPE_WHITELIST,
LOG_S3_PREFIX, TZ — /root/reference/main.tf:41-52). Without
``--output`` the sink is ``s3a://<LOG_S3_BUCKET>`` (LOG_BUCKET is an
alias); with neither set the CLI exits with a usage error.
"""

from __future__ import annotations

import argparse
import sys

from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
from terraform_aws_lambda_kinesis_to_s3_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="terraform_aws_lambda_kinesis_to_s3_spark")
    sub = ap.add_subparsers(dest="mode", required=True)

    b = sub.add_parser("batch", help="batch backfill of a record directory")
    b.add_argument("--input", required=True)
    b.add_argument("--output")
    b.add_argument("--kinesis-event", action="store_true",
                   help="input is Lambda-event JSON with base64 Data blobs")
    b.add_argument("--exact-layout", action="store_true",
                   help="reference %%type%%/YYYY-MM/DD/ layout instead of hive")

    s = sub.add_parser("stream", help="streaming run over a landing directory")
    s.add_argument("--input", required=True)
    s.add_argument("--output")
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--dedup-watermark", default="1 hour",
                   help="replay-dedup window; 'off' disables")
    s.add_argument("--continuous", action="store_true",
                   help="keep running (default: drain available data and stop)")

    args = ap.parse_args(argv)
    cfg = PipelineConfig.from_env()
    if args.output is None:
        if not cfg.log_bucket:
            ap.error("--output is required when LOG_S3_BUCKET is not set")
        args.output = f"s3a://{cfg.log_bucket}"
    spark = get_spark(app_name=f"kinesis_to_s3_{args.mode}")

    if args.mode == "batch":
        from terraform_aws_lambda_kinesis_to_s3_spark.job import run_batch

        run_batch(
            spark,
            args.input,
            args.output,
            cfg,
            input_format="kinesis-event" if args.kinesis_event else "payload",
            exact_layout=args.exact_layout,
        )
        return 0

    from terraform_aws_lambda_kinesis_to_s3_spark.streaming import (
        run_stream,
        stream_source,
    )

    q = run_stream(
        stream_source(spark, cfg, "file", args.input),
        args.output,
        args.checkpoint,
        cfg,
        dedup_watermark=None if args.dedup_watermark == "off" else args.dedup_watermark,
        available_now=not args.continuous,
    )
    q.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
