"""Record decoding: base64, gzip, CloudWatch Logs envelope, KPL deagg.

Reference behavior (``kinesis.parse_records`` call-site at
``/root/reference/lambda/main.py:47``; accepted formats
``/root/reference/README.md:9-10``; KPL dep ``aws_kinesis_agg==1.1.3``
at ``lambda/requirements.txt:4``):

1. base64-decode the Kinesis ``Data`` blob,
2. deaggregate KPL-aggregated records (N logical records per Kinesis
   record),
3. gunzip gzipped payloads,
4. unwrap CloudWatch Logs subscription envelopes (each
   ``logEvents[].message`` becomes an independent record).

Spark mapping: base64 and the CloudWatch unwrap are pure JVM column
expressions (``unbase64``, ``from_json`` + ``transform`` + one
``explode``); gzip and KPL have no Spark builtin, so they are
Arrow-batched ``pandas_udf`` kernels. The KPL wire format (magic
``0xF3899AC2`` + protobuf ``AggregatedRecord`` + MD5 trailer) is parsed
with a ~40-line vendored varint reader so executors need no AWS
dependency (SURVEY.md §7 hard-part e).
"""

from __future__ import annotations

import gzip as _gzip
import io
import struct

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

KPL_MAGIC = b"\xf3\x89\x9a\xc2"
GZIP_MAGIC = b"\x1f\x8b"

# ---------------------------------------------------------------------------
# KPL (Kinesis Producer Library) aggregated-record format
# Public spec: awslabs/amazon-kinesis-producer aggregation-format.md.
# AggregatedRecord: field 1 repeated partition_key_table (string),
#   field 2 repeated explicit_hash_key_table (string),
#   field 3 repeated Record { 1: varint partition_key_index,
#                             2: varint explicit_hash_key_index,
#                             3: bytes data, 4: repeated Tag }
# Layout: MAGIC + protobuf + 16-byte MD5 of the protobuf section.
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _iter_fields(buf: bytes):
    """Yield (field_number, wire_type, value) over a protobuf buffer."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 0x7
        if wire == 0:  # varint
            val, pos = _read_varint(buf, pos)
        elif wire == 2:  # length-delimited
            ln, pos = _read_varint(buf, pos)
            # a declared length past the buffer end must RAISE (the
            # caller classifies to passthrough), not clamp: a Python
            # slice silently shortens, which would emit a truncated
            # Record.data as if it were the whole payload
            if pos + ln > n:
                raise ValueError("length-delimited field past buffer end")
            val = buf[pos : pos + ln]
            pos += ln
        elif wire == 5:  # 32-bit
            if pos + 4 > n:
                raise ValueError("fixed32 past buffer end")
            val = buf[pos : pos + 4]
            pos += 4
        elif wire == 1:  # 64-bit
            if pos + 8 > n:
                raise ValueError("fixed64 past buffer end")
            val = buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, val


def kpl_deaggregate_bytes(blob: bytes) -> list[bytes]:
    """Split one KPL-aggregated blob into user-record payloads.

    Non-KPL input comes back as a single-element list (passthrough), so
    the kernel composes with plain records in the same column.
    """
    if blob is None:
        return []
    if not blob.startswith(KPL_MAGIC) or len(blob) < len(KPL_MAGIC) + 16:
        return [blob]
    body = blob[len(KPL_MAGIC) : -16]
    # the trailing MD5 exists to catch truncation/corruption — without
    # this check a truncated blob parses into silently-short payloads
    import hashlib

    if hashlib.md5(body).digest() != blob[-16:]:
        return [blob]
    try:
        out = []
        for field, wire, val in _iter_fields(body):
            if field == 3 and wire == 2:  # Record
                for f2, w2, v2 in _iter_fields(val):
                    if f2 == 3 and w2 == 2:  # Record.data
                        out.append(v2)
        return out if out else [blob]
    except (ValueError, IndexError):
        return [blob]


def kpl_aggregate_bytes(payloads: list[bytes], partition_key: str = "pk") -> bytes:
    """Build a KPL-aggregated blob (test fixture helper, inverse of
    :func:`kpl_deaggregate_bytes`)."""
    import hashlib

    def varint(v: int) -> bytes:
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            out.append(b | (0x80 if v else 0))
            if not v:
                return bytes(out)

    def field(num: int, wire: int, payload: bytes | int) -> bytes:
        key = varint((num << 3) | wire)
        if wire == 0:
            return key + varint(payload)
        return key + varint(len(payload)) + payload

    pk = partition_key.encode()
    body = field(1, 2, pk)
    for p in payloads:
        rec = field(1, 0, 0) + field(3, 2, p)
        body += field(3, 2, rec)
    return KPL_MAGIC + body + hashlib.md5(body).digest()


# ---------------------------------------------------------------------------
# Column kernels
# ---------------------------------------------------------------------------


@pandas_udf(T.ArrayType(T.BinaryType()))
def kpl_deaggregate(blobs: pd.Series) -> pd.Series:
    return blobs.map(kpl_deaggregate_bytes)


@pandas_udf(T.StringType())
def gunzip_to_text(blobs: pd.Series) -> pd.Series:
    """gunzip + UTF-8 decode in one Arrow pass.

    Invalid UTF-8 (e.g. a corrupt gzip blob passed through) decodes
    with replacement characters instead of failing the job — such
    records fall out as non-JSON and route to the unknown prefix, the
    dead-letter semantics the reference documents for undecodable
    input (README.md:9).
    """

    def one(b):
        if b is None:
            return None
        b = bytes(b)
        if b.startswith(GZIP_MAGIC):
            try:
                b = _gzip.GzipFile(fileobj=io.BytesIO(b)).read()
            except (OSError, EOFError, struct.error):
                pass  # corrupt gzip -> decode raw bytes permissively
        return b.decode("utf-8", errors="replace")

    return blobs.map(one)


_CW_SCHEMA = T.StructType(
    [
        T.StructField("messageType", T.StringType()),
        T.StructField("owner", T.StringType()),
        T.StructField("logGroup", T.StringType()),
        T.StructField("logStream", T.StringType()),
        T.StructField(
            "logEvents",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("timestamp", T.LongType()),
                        T.StructField("message", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def cloudwatch_unwrap(text: Column) -> Column:
    """ARRAY of payload strings: logEvents[].message for a CloudWatch
    Logs subscription envelope (``README.md:10``), else [text] itself.

    CONTROL_MESSAGE envelopes (the probe CloudWatch sends when a
    subscription starts) yield an empty array — the subsequent explode
    drops them, matching the deaggregation library's behavior of
    skipping control records. Pure JVM (`from_json` + `transform`);
    caller explodes once.
    """
    parsed = F.from_json(text, _CW_SCHEMA)
    is_data = (parsed["messageType"] == F.lit("DATA_MESSAGE")) & parsed[
        "logEvents"
    ].isNotNull()
    is_control = parsed["messageType"] == F.lit("CONTROL_MESSAGE")
    return (
        F.when(is_data, F.transform(parsed["logEvents"], lambda e: e["message"]))
        .when(is_control, F.array().cast("array<string>"))
        .otherwise(F.array(text))
    )


def decode_records(df: DataFrame, data_col: str = "data", base64_encoded: bool = True) -> DataFrame:
    """Full reference decode chain A2 -> one row per logical payload.

    Input: a column of Kinesis ``Data`` blobs (base64 string or raw
    binary). Output: the input rows exploded into a ``payload`` string
    column, other columns preserved.

    Order (matches the reference pipeline semantics): base64 -> KPL
    deaggregate -> gunzip -> UTF-8 -> CloudWatch unwrap.
    """
    raw = F.unbase64(F.col(data_col)) if base64_encoded else F.col(data_col)
    df = df.withColumn("__units", kpl_deaggregate(raw))
    df = df.withColumn("__unit", F.explode("__units")).drop("__units")
    df = df.withColumn("__text", gunzip_to_text(F.col("__unit"))).drop("__unit")
    df = df.withColumn("payload", F.explode(cloudwatch_unwrap(F.col("__text")))).drop("__text")
    return df
