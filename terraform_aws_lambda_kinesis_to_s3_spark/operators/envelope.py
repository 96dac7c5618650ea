"""Envelope extraction, validation, whitelist and dead-letter routing.

Reference semantics (``/root/reference/lambda/main.py:39-64`` plus the
README contract ``README.md:9-15``), re-expressed as pure Catalyst
column expressions — no Python in this module except the dateutil
timestamp pass (see ``functions.timestamps``):

- A3 JSON parse + invalid-row detection  (lambda/main.py:48-52)
- A4 configurable-key field extraction   (lambda/main.py:27-29,58-60)
- A5 required-field validation           (lambda/main.py:54-64)
- A6 whitelist semi-filter               (lambda/main.py:32-36)
- A7 permissive timestamp parse          (README.md:15)
- A8/A9 (log_type, YYYY-MM, DD) routing  (lambda/main.py:43-44; README.md:13)
- A11 dead-letter 'unknown' routing      (README.md:9-11)

Intended-vs-literal decisions per SURVEY.md §2.4: valid records ARE
written (reference bug 1 writes none), empty whitelist allows all
(bug 2), non-JSON goes to the unknown prefix (bug 3, configurable).

Scale notes: everything here is a narrow projection/filter — no
shuffle. Catalyst pushes the whitelist ``isin`` into the scan when the
source is columnar; validation is a single ``when`` chain inside one
whole-stage-codegen span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
from terraform_aws_lambda_kinesis_to_s3_spark.functions.timestamps import (
    partition_date_cols,
    with_timestamp,
)

#: output columns added by :func:`route_records`
ROUTE_COLUMNS = ("log_type", "log_id", "ts", "valid", "route", "ym", "dd")


#: corrupt-record marker column inside the envelope struct
_CORRUPT = "__corrupt_record__"


def extract_envelope(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Parse the ``payload`` column and extract the 3-field envelope.

    Adds: ``log_type``, ``log_id`` (strings; NULL when missing or when
    the payload is not a JSON object), ``ts`` (timestamp; NULL when
    missing/unparseable), ``is_json`` boolean.

    One ``from_json`` in PERMISSIVE mode does everything: the corrupt-
    record column doubles as the reference's ``json.loads`` failure
    signal (lambda/main.py:48-52), and the three envelope fields come
    out of the same parse — the payload is scanned once, JVM-side.
    Non-string field values (nested/number) surface as their JSON text
    and then fail timestamp/routing validation, mirroring the
    reference's dict.get + dateutil behavior. Every column of ``df``
    passes through the dateutil ``mapInArrow`` pass
    (:func:`with_timestamp`).
    """
    p = F.col("payload")
    schema = T.StructType(
        [
            T.StructField(cfg.log_type_field, T.StringType()),
            T.StructField(cfg.log_id_field, T.StringType()),
            T.StructField(cfg.log_timestamp_field, T.StringType()),
            T.StructField(_CORRUPT, T.StringType()),
        ]
    )
    env = F.from_json(
        p, schema, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT}
    )
    df = df.withColumn("__env", env)
    e = F.col("__env")
    is_json = e.isNotNull() & e[_CORRUPT].isNull()
    df = (
        df.withColumn("is_json", is_json)
        .withColumn("log_type", F.when(is_json, e[cfg.log_type_field]))
        .withColumn("log_id", F.when(is_json, e[cfg.log_id_field]))
        .withColumn("__time", F.when(is_json, e[cfg.log_timestamp_field]))
        .drop("__env")
    )
    return with_timestamp(df, "__time")


def validate(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Add ``valid``: JSON object + required envelope fields present,
    the timestamp included.

    Reference: parse_payload_to_log_dict(..., timestamp_required=True)
    (lambda/main.py:54-64); failures are routed, never dropped.
    """
    return df.withColumn(
        "valid",
        F.col("is_json")
        & F.col("log_type").isNotNull()
        & F.col("log_id").isNotNull()
        & F.col("ts").isNotNull(),
    )


def apply_whitelist(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """A6: when enabled, keep only whitelisted *valid* records; invalid
    records always pass through (they route to unknown).

    Intended semantics: empty whitelist = allow all (README.md:70).
    """
    if not cfg.whitelist_enabled:
        return df
    wl = [w for w in cfg.log_type_whitelist if w]
    return df.filter(~F.col("valid") | F.col("log_type").isin(wl))


def add_route(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """A8/A9/A11: routing key + (ym, dd) partition date columns.

    Valid -> its log_type; invalid -> the unknown prefix. Partition
    date comes from the record timestamp in the configured timezone;
    records without a parseable timestamp take ``cfg.unknown_date``
    (or the processing date), mirroring the reference's behavior of
    filing failed records under the date it processed them.
    """
    route = F.when(F.col("valid"), F.col("log_type")).otherwise(
        F.lit(cfg.log_type_unknown_prefix)
    )
    fallback = (
        F.to_timestamp(F.lit(cfg.unknown_date))
        if cfg.unknown_date
        else F.current_timestamp()
    )
    ts_for_date = F.coalesce(F.col("ts"), fallback)
    ym, dd = partition_date_cols(ts_for_date, cfg.timezone)
    return df.withColumn("route", route).withColumn("ym", ym).withColumn("dd", dd)


def route_records_on_envelope(
    env: DataFrame,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """A6-A11 on an already-extracted+validated envelope: whitelist,
    route, partition dates, optional non-JSON drop.

    The parse->validate prefix (``validate(extract_envelope(...))``)
    depends only on the envelope field names, NOT
    on the whitelist or timezone — so callers that route the same
    payloads under several post-stage configs can share one (possibly
    persisted) envelope and pay only this narrow projection per config.
    ``route_records`` delegates here; the split is a pure refactor.
    """
    cfg = cfg or PipelineConfig()
    out = add_route(apply_whitelist(env, cfg), cfg)
    if not cfg.non_json_to_unknown:
        out = out.filter(F.col("is_json"))
    return out


def route_records(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """The full A3-A11 pipeline: ``payload`` strings in, routed records
    out.

    ``cfg.non_json_to_unknown=False`` drops non-JSON payloads (as-built
    reference behavior silently skips them, lambda/main.py:50-52).
    """
    cfg = cfg or PipelineConfig()
    return route_records_on_envelope(
        validate(extract_envelope(df, cfg), cfg), cfg
    )


def payload_schema_profile(
    df: DataFrame, payload_col: str = "payload", type_col: str | None = "route"
) -> DataFrame:
    """Schema-drift monitor: distinct inferred payload schemas per log
    type with counts and an example payload.

    The reference's schema-free model (README.md:9) means producers can
    drift silently; at 100 TB you want the drift surfaced as data.
    ``schema_of_variant`` infers per-row schema JVM-side (one parse, no
    sampling), so the profile is exact, not estimated.
    """
    keys = [F.col(type_col)] if type_col else []
    schema = F.schema_of_variant(F.try_parse_json(F.col(payload_col)))
    return (
        df.withColumn("payload_schema", schema)
        .groupBy(*keys, "payload_schema")
        .agg(
            F.count("*").alias("n_records"),
            F.min(payload_col).alias("example_payload"),
        )
    )
