"""Permissive timestamp parsing (reference parity: dateutil.parser.parse).

The reference accepts "anything dateutil accepts" for the envelope
``time`` field (``/root/reference/README.md:15``, dep
``python-dateutil==2.8.1`` at ``lambda/requirements.txt:6``).

Strategy (scale-first): a chain of JVM-side ``try_to_timestamp``
patterns covers ISO8601 and the common log formats with whole-stage
codegen; only rows that *fail* every JVM pattern reach dateutil, in a
``mapInArrow`` pass (:func:`with_timestamp`). The pass gets the text
NULL-masked, so it does no Python work for the fast-path rows. It is a
``mapInArrow`` pass and not an Arrow ``pandas_udf`` because the latter's
``ArrowEvalPython`` node parks every input row in a JVM row queue whose
Tungsten page Spark's Python monitor thread keeps reachable for two
seconds after the task ends.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# JVM-side formats tried in order (Spark datetime patterns).
_JVM_FORMATS = (
    None,  # Spark's default ISO-ish parser: yyyy-MM-dd HH:mm:ss[.f][XXX] etc.
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
    "dd/MMM/yyyy:HH:mm:ss Z",  # CLF access-log style
    "yyyyMMdd'T'HHmmssX",
    "yyyy-MM-dd",
)


def parse_timestamp(col: Column) -> Column:
    """The JVM format chain: a string column parsed into a timestamp,
    NULL when no format matches. :func:`with_timestamp` adds the
    dateutil fallback."""
    branches = [
        F.try_to_timestamp(col) if fmt is None else F.try_to_timestamp(col, F.lit(fmt))
        for fmt in _JVM_FORMATS
    ]
    return F.coalesce(*branches)


def _require_dateutil() -> None:
    """Fail fast at plan-build time when the permissive fallback can't
    work: without this, records the reference would parse
    (``README.md:15``) silently come back NaT and route to ``unknown``
    with no signal."""
    import importlib.util

    if importlib.util.find_spec("dateutil") is None:
        raise RuntimeError(
            "permissive timestamp parsing requires python-dateutil on the "
            "driver and executors (reference parity: README.md:15, "
            "python-dateutil==2.8.1); install it"
        )


_EPOCH = datetime(1970, 1, 1)
_US = timedelta(microseconds=1)
#: pandas ``datetime64[ns]``'s range (``pd.Timestamp.min``/``max``) in ns
_NS_MIN, _NS_MAX = -(2**63) + 1, 2**63 - 1


def dateutil_epoch_us(text: str | None) -> int | None:
    """``dateutil.parser.parse(text)`` as UTC epoch microseconds; None
    when it fails or when the instant or its wall-clock time falls
    outside pandas' ``datetime64[ns]`` range (years 1677-2262).

    Never raises for a failed parse. The value is the one the former
    Arrow ``pandas_udf`` kernel gave (``pd.to_datetime(utc=True,
    errors="coerce")`` then UTC-naive) in a UTC session, which
    ``session.get_spark`` always sets: a naive time is UTC, an aware one
    is converted to UTC.
    """
    if text is None:
        return None
    try:
        from dateutil import parser as duparser
    except ImportError:
        # executors missing the dep is a deploy bug: fail the job
        # loudly instead of silently NaT-ing rows into 'unknown'
        raise RuntimeError(
            "python-dateutil is missing on this executor but "
            "permissive timestamp rows need it (deploy it with the "
            "job, e.g. --py-files / a conda env)"
        ) from None
    try:
        dt = duparser.parse(text)
        # pandas bounds the wall-clock time as well as the UTC instant
        wall = (dt.replace(tzinfo=None) - _EPOCH) // _US
        if dt.tzinfo is not None:
            dt = dt.astimezone(timezone.utc)
    except (ValueError, OverflowError, TypeError):
        return None
    us = (dt.replace(tzinfo=None) - _EPOCH) // _US
    return us if _NS_MIN <= min(us, wall) * 1000 and max(us, wall) * 1000 <= _NS_MAX else None


def _dateutil_batches(text_col: str):
    """The ``mapInArrow`` body of :func:`with_timestamp`: fill ``ts``
    from :func:`dateutil_epoch_us` where ``text_col`` is set, then drop
    ``text_col``."""

    def parse_dateutil(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column(text_col)
            if text.null_count < len(text):
                ts = batch.column("ts")
                parsed = [dateutil_epoch_us(v) for v in text.to_pylist()]
                ts = pc.coalesce(ts, pa.array(parsed, pa.int64()).cast(ts.type))
                batch = batch.set_column(batch.schema.get_field_index("ts"), "ts", ts)
            yield batch.drop_columns([text_col])

    return parse_dateutil


def with_timestamp(df: DataFrame, text_col: str) -> DataFrame:
    """Replace the string column ``text_col`` with the timestamp column
    ``ts``: NULL when unparseable.

    :func:`parse_timestamp`'s JVM chain first; rows failing every JVM
    format are retried through dateutil in one ``mapInArrow`` pass that
    sees the text only on those rows. Spark cannot prune columns through
    that pass, so every column of ``df`` travels through Python: pass
    only what the caller needs downstream.
    """
    _require_dateutil()
    jvm = parse_timestamp(F.col(text_col))
    df = df.withColumn("ts", jvm).withColumn(text_col, F.when(jvm.isNull(), F.col(text_col)))
    schema = T.StructType([f for f in df.schema.fields if f.name != text_col])
    return df.mapInArrow(_dateutil_batches(text_col), schema)


def partition_date_cols(ts: Column, tz: str) -> tuple[Column, Column]:
    """(ym 'yyyy-MM', dd 'dd') partition keys in the configured timezone.

    Reference: S3 key layout ``%log_type%/YYYY-MM/DD/`` with TZ-shifted
    dates (``README.md:13``, ``main.tf:43``).
    """
    local = F.from_utc_timestamp(ts, tz) if tz and tz != "UTC" else ts
    return F.date_format(local, "yyyy-MM"), F.date_format(local, "dd")
