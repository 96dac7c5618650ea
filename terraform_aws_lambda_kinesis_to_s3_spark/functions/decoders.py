"""Record decoding: base64, KPL deagg, gzip, CloudWatch Logs envelope.

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
expressions (``try_to_binary``, ``from_json`` + ``transform`` + one
``explode``). The unwrap parses only a text that contains
``messageType`` literally or a ``\\u`` escape: Spark matches JSON field
names case-sensitively, and a ``\\uXXXX`` escape is the only way to
spell that key without its bytes, so any other text cannot be an
envelope and skips a JSON parse that ``extract_envelope`` would repeat
(Sparser's "filter before you parse", Palkar et al., VLDB 2018). KPL
and gzip have no Spark builtin, so steps 2-3 plus UTF-8 run in one
``mapInArrow`` pass: each blob crosses the Python boundary once, as
:func:`decode_blob`. A ``mapInArrow`` pass keeps no
row queue on the JVM side, where an Arrow ``pandas_udf``
(``ArrowEvalPython``) parks every input row with its Tungsten page and
Spark's Python monitor thread keeps that page reachable for two seconds
after the task ends. The KPL wire format (magic ``0xF3899AC2`` +
protobuf ``AggregatedRecord`` + MD5 trailer) is parsed with a ~40-line
vendored varint reader so executors need no AWS dependency (SURVEY.md
§7 hard-part e).
"""

from __future__ import annotations

import gzip as _gzip
import zlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def decode_blob(blob: bytes | None) -> list[str]:
    """One Kinesis ``Data`` blob -> its payload texts: KPL deaggregate,
    then gunzip and UTF-8 decode each unit.

    Never raises. A corrupt gzip unit (bad header, truncated or
    corrupt deflate body) and invalid UTF-8 decode permissively with
    replacement characters; such records fall out as non-JSON and
    route to the unknown prefix, the dead-letter semantics the
    reference documents for undecodable input (README.md:9).
    """
    out = []
    for unit in kpl_deaggregate_bytes(blob):
        if unit.startswith(GZIP_MAGIC):
            try:
                unit = _gzip.decompress(unit)
            except (OSError, EOFError, zlib.error):
                pass
        out.append(unit.decode("utf-8", errors="replace"))
    return out


def _decode_batches(data_col: str):
    """The ``mapInArrow`` body of :func:`decode_records`: each batch's
    ``data_col`` blobs through :func:`decode_blob`, one output row per
    unit. The other columns repeat per unit (Arrow ``take``); the
    consumed ``data_col`` gives way to ``__text``."""

    def decode_blobs(batches):
        import pyarrow as pa

        for batch in batches:
            take, texts = [], []
            for i, blob in enumerate(batch.column(data_col).to_pylist()):
                units = decode_blob(blob)
                take.extend([i] * len(units))
                texts.extend(units)
            rest = batch.drop_columns([data_col]).take(pa.array(take, pa.int64()))
            yield rest.append_column("__text", pa.array(texts, pa.string()))

    return decode_blobs


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
    return _cw_units(_cw_parse(text), text)


def _cw_parse(text: Column) -> Column:
    """``text`` parsed as a CloudWatch envelope struct.

    Only a text that contains ``messageType`` or a ``\\u`` escape is
    parsed; every other text is NULL to ``from_json`` and comes back as
    [text]. This is exact, not a heuristic: Spark matches JSON field
    names case-sensitively (a ``MessageType`` key is no envelope), and
    a key can spell ``messageType`` without its literal bytes only
    through ``\\uXXXX`` escapes (``"message\\u0054ype"``). Single-quoted
    keys still hold the bytes.
    """
    maybe_envelope = text.contains("messageType") | text.contains("\\u")
    return F.from_json(F.when(maybe_envelope, text), _CW_SCHEMA)


def _cw_units(parsed: Column, text: Column) -> Column:
    """:func:`cloudwatch_unwrap`'s array from the parsed envelope."""
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
    binary). Output: one row per logical payload in a ``payload`` string
    column; the other columns repeat per payload, and ``data_col`` is
    dropped. A NULL blob yields no row, as under ``explode``.

    Order (matches the reference pipeline semantics): base64 -> KPL
    deaggregate -> gunzip -> UTF-8 -> CloudWatch unwrap. A string that
    is not valid base64 is kept as its own UTF-8 bytes, so it routes to
    the unknown prefix instead of failing the batch.

    Steps 2-4 are one ``mapInArrow`` pass. Spark cannot prune columns
    through it, so every column of ``df`` travels through Python: pass
    only the columns the caller needs downstream.
    """
    raw = F.col(data_col)
    if base64_encoded:
        raw = F.coalesce(F.try_to_binary(raw, F.lit("base64")), raw.cast("binary"))
    df = df.withColumn(data_col, raw)
    schema = T.StructType(
        [f for f in df.schema.fields if f.name != data_col]
        + [T.StructField("__text", T.StringType())]
    )
    # The envelope is parsed in a Project, which evaluates it once per
    # unit; inside the explode's Generate (no subexpression
    # elimination) each field reference would parse the text again.
    df = df.mapInArrow(_decode_batches(data_col), schema)
    df = df.withColumn("__cw", _cw_parse(F.col("__text")))
    units = _cw_units(F.col("__cw"), F.col("__text"))
    return df.withColumn("payload", F.explode(units)).drop("__text", "__cw")
