"""Property-based tests (SURVEY.md §5.3): route totality and dedup
idempotence over hypothesis-generated payload batches."""

from __future__ import annotations

import gzip
import io
import json
import os
import subprocess
import sys
import zlib
from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import (
    GZIP_MAGIC,
    decode_blob,
    kpl_aggregate_bytes,
    kpl_deaggregate_bytes,
)
from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import route_records

CFG = PipelineConfig(unknown_date="2024-06-01")

field_val = st.one_of(
    st.none(),
    st.text(max_size=12),
    st.integers(-(10**6), 10**6),
    st.booleans(),
)

payloads = st.lists(
    st.one_of(
        # structured-ish records with arbitrary presence/typing of envelope keys
        st.fixed_dictionaries(
            {},
            optional={
                "log_type": field_val,
                "log_id": field_val,
                "time": st.one_of(
                    st.none(),
                    st.just("2024-01-05T10:00:00Z"),
                    st.text(max_size=16),
                ),
                "extra": field_val,
            },
        ).map(json.dumps),
        # raw garbage
        st.text(max_size=30),
    ),
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=payloads)
def test_route_totality(spark, batch):
    """Conservation law (README.md:9-11): with no whitelist, every input
    record lands in exactly one output route, none dropped, and every
    row has non-null route/ym/dd."""
    df = spark.createDataFrame([(p,) for p in batch], "payload string")
    out = route_records(df, CFG)
    rows = out.collect()
    assert len(rows) == len(batch)
    assert all(r.route is not None and r.ym is not None and r.dd is not None for r in rows)
    # valid <=> routed to own log_type; invalid <=> unknown
    for r in rows:
        if r.valid:
            assert r.route == r.log_type
        else:
            assert r.route == CFG.log_type_unknown_prefix


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=payloads)
def test_route_on_envelope_equals_route_records_property(spark, batch):
    """The _routed_envelope seam's contract over ARBITRARY payloads
    (non-JSON garbage, missing/mistyped envelope keys — everything the
    generator produces): for every post-stage config the riding
    queries ship (default, whitelist, TZ-shifted), routing over a
    once-extracted envelope is row-multiset-identical to the monolithic
    route_records path.  The fixture-based pin
    (test_envelope_cache_equivalence) checks the three shipped
    queries; this one pins the seam itself under fuzz."""
    from collections import Counter

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import (
        extract_envelope,
        route_records_on_envelope,
        validate,
    )

    df = spark.createDataFrame([(p,) for p in batch], "payload string")
    env = validate(extract_envelope(df, CFG), CFG)
    for cfg in (
        CFG,
        PipelineConfig(
            unknown_date="2024-06-01", log_type_whitelist=("a", "b")
        ),
        PipelineConfig(unknown_date="2024-06-01", timezone="Asia/Tokyo"),
    ):
        key = lambda r: (r.route, r.ym, r.dd, r.log_id, r.payload)
        a = Counter(map(key, route_records(df, cfg).collect()))
        b = Counter(map(key, route_records_on_envelope(env, cfg).collect()))
        assert a == b


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=payloads)
def test_dedup_idempotent(spark, batch):
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame([(p,) for p in batch], "payload string")
    once = exact_dedup(df, ["payload"])
    twice = exact_dedup(once, ["payload"])
    assert once.count() == twice.count() == df.select("payload").distinct().count()


def test_partition_date_purity(spark):
    """Same record, different TZ config -> partition date shifts exactly
    by the TZ offset rule, payload untouched."""
    p = json.dumps(
        {"log_type": "a", "log_id": "1", "time": "2024-06-30T20:00:00Z"}
    )
    df = spark.createDataFrame([(p,)], "payload string")
    utc = route_records(df, CFG).first()
    tokyo = route_records(df, CFG.with_(timezone="Asia/Tokyo")).first()
    assert (utc.ym, utc.dd) == ("2024-06", "30")
    assert (tokyo.ym, tokyo.dd) == ("2024-07", "01")
    assert utc.payload == tokyo.payload == p


@settings(max_examples=25, deadline=None)
@given(
    payloads=st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=8),
    pk=st.text(min_size=1, max_size=10),
)
def test_kpl_roundtrip_property(payloads, pk):
    """Vendored KPL aggregation wire format: aggregate -> deaggregate is
    the identity for arbitrary binary payloads."""
    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import (
        kpl_aggregate_bytes,
        kpl_deaggregate_bytes,
    )

    blob = kpl_aggregate_bytes(payloads, partition_key=pk)
    assert kpl_deaggregate_bytes(blob) == payloads


def test_kpl_non_kpl_passthrough():
    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import (
        KPL_MAGIC,
        kpl_deaggregate_bytes,
    )

    assert kpl_deaggregate_bytes(b"plain bytes") == [b"plain bytes"]
    # magic prefix but garbage body -> passthrough, not crash
    assert kpl_deaggregate_bytes(KPL_MAGIC + b"\xff" * 20) == [KPL_MAGIC + b"\xff" * 20]


def test_kpl_lying_inner_length_passthrough():
    """A length-delimited field whose declared length runs past the
    buffer must classify to passthrough, not clamp: with a VALID MD5
    trailer recomputed over the tampered body, the old slice-clamping
    walk emitted a silently-truncated Record.data as if it were the
    whole payload — the one corruption shape the transport checksum
    cannot catch because the checksum is over the lying bytes."""
    import hashlib

    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import (
        KPL_MAGIC,
        kpl_aggregate_bytes,
        kpl_deaggregate_bytes,
    )

    blob = kpl_aggregate_bytes([b"A" * 40])
    body = bytearray(blob[len(KPL_MAGIC) : -16])
    # find the payload and inflate its declared varint length: the
    # Record.data field is the last 40-byte run of 'A'
    i = bytes(body).rindex(b"A" * 40)
    # the byte before the run is the single-byte varint length (40)
    assert body[i - 1] == 40
    body[i - 1] = 120  # claims 120 bytes; only 40 remain
    tampered = (
        KPL_MAGIC + bytes(body) + hashlib.md5(bytes(body)).digest()
    )
    assert kpl_deaggregate_bytes(tampered) == [tampered]


def test_special_char_log_type_roundtrips_sink(spark, tmp_path):
    """Partition values with slashes/spaces survive the hive sink via
    URL-escaping (log_type=a%2Fb c on disk, 'a/b c' on read-back)."""
    from terraform_aws_lambda_kinesis_to_s3_spark.sinks import read_routed, write_routed

    p = json.dumps({"log_type": "a/b c", "log_id": "1", "time": "2024-01-02T03:00:00Z"})
    df = spark.createDataFrame([(p,)], "payload string")
    out = str(tmp_path / "sink")
    write_routed(route_records(df, CFG), out)
    back = read_routed(spark, out).collect()
    assert back[0].log_type == "a/b c" and back[0].payload == p


def _two_udf_chain(blob):
    """The decode this kernel replaced: ``kpl_deaggregate_bytes``, then
    the old ``gunzip_to_text`` body once per unit. That body let
    ``zlib.error`` (corrupt deflate data) escape and abort the job; it
    is the one allowed difference, and there the unit must decode
    permissively like any other corrupt gzip."""
    out = []
    for b in kpl_deaggregate_bytes(blob):
        if b.startswith(GZIP_MAGIC):
            try:
                b = gzip.GzipFile(fileobj=io.BytesIO(b)).read()
            except (OSError, EOFError):
                pass
            except zlib.error:
                pass  # the old chain raised here
        out.append(b.decode("utf-8", errors="replace"))
    return out


@st.composite
def _damaged(draw, blobs):
    """A blob kept whole, truncated, or with 1-8 bits flipped."""
    blob = draw(blobs)
    how = draw(st.sampled_from(["whole", "truncate", "flip"]))
    if how == "truncate":
        return blob[: draw(st.integers(0, len(blob)))]
    if how == "flip" and blob:
        b = bytearray(blob)
        for _ in range(draw(st.integers(1, 8))):
            b[draw(st.integers(0, len(b) - 1))] ^= 1 << draw(st.integers(0, 7))
        return bytes(b)
    return blob


_json_bytes = st.dictionaries(st.text(max_size=6), field_val, max_size=4).map(
    lambda d: json.dumps(d).encode()
)
_units = _damaged(
    st.one_of(
        _json_bytes,
        _json_bytes.map(lambda b: gzip.compress(b, mtime=0)),
        st.binary(max_size=64),
    )
)
_blobs = st.one_of(
    st.none(),
    _units,
    _damaged(st.lists(_units, min_size=1, max_size=5).map(kpl_aggregate_bytes)),
)


@settings(max_examples=500, deadline=None)
@given(blob=_blobs)
def test_decode_blob_matches_two_udf_chain(blob):
    """Differential: the one-crossing kernel returns exactly what the
    old KPL-deagg then gunzip+UTF-8 chain returned, for plain JSON,
    gzip, KPL aggregates of mixed units, truncations, bit-flips and
    None."""
    out = decode_blob(blob)
    assert out == _two_udf_chain(blob)
    assert all(isinstance(t, str) for t in out)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(blobs=st.lists(_blobs, max_size=6))
def test_decode_records_matches_explode(spark, blobs):
    """Differential: the ``mapInArrow`` decode pass gives the rows the
    former ``explode(udf(decode_blob))`` plan gave: a NULL blob yields no
    row, every other column repeats per unit, and ``data`` is dropped."""
    from pyspark.sql import types as T

    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import (
        cloudwatch_unwrap,
        decode_records,
    )

    df = spark.createDataFrame(
        [(i, f"tag-{i}", b) for i, b in enumerate(blobs)],
        "id int, tag string, data binary",
    )
    out = decode_records(df, base64_encoded=False)
    assert out.columns == ["id", "tag", "payload"]
    explode_udf = F.udf(decode_blob, T.ArrayType(T.StringType()))
    ref = (
        df.withColumn("__text", F.explode(explode_udf("data")))
        .withColumn("payload", F.explode(cloudwatch_unwrap(F.col("__text"))))
        .select("id", "tag", "payload")
    )
    assert sorted(out.collect()) == sorted(ref.collect())


def _old_cloudwatch_unwrap(text):
    """The CloudWatch unwrap before its parse gate, verbatim: every
    text through ``from_json``."""
    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import _CW_SCHEMA

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


# the key as Spark reads it, escaped spellings of it, and near misses
_CW_KEYS = st.sampled_from(
    [
        '"messageType"',
        '"message\\u0054ype"',
        '"messag\\u0065Type"',
        '"\\u006d\\u0065ssageType"',
        "'messageType'",
        '"MessageType"',
        '"messagetype"',
        '"message\\u0074ype"',
    ]
)


@st.composite
def _cw_texts(draw):
    """Decoded units around the CloudWatch envelope: DATA and CONTROL
    envelopes under the key's spellings, envelopes nested below the top
    level or inside a top-level array, ``\\u`` escapes elsewhere, plain
    records, non-JSON and empty text."""
    kind = draw(st.sampled_from(["envelope", "nested", "array", "record", "escaped", "text"]))
    if kind == "text":
        return draw(st.one_of(st.just(""), st.text(max_size=30)))
    if kind == "record":
        return draw(_json_bytes).decode()
    if kind == "escaped":  # a \u escape in a value, no envelope key
        return json.dumps({"log_type": draw(st.text(max_size=4)), "msg": "café"}, ensure_ascii=True)
    messages = st.one_of(st.text(max_size=8), _json_bytes.map(bytes.decode))
    events = draw(
        st.one_of(
            st.none(),
            st.lists(st.fixed_dictionaries({"id": st.just("1"), "message": messages}), max_size=3),
        )
    )
    envelope = {"messageType": draw(st.sampled_from(["DATA_MESSAGE", "CONTROL_MESSAGE", "OTHER", None])),
                "owner": "1", "logGroup": "g"}
    if events is not None:
        envelope["logEvents"] = events
    text = json.dumps(envelope).replace('"messageType"', draw(_CW_KEYS), 1)
    if kind == "nested":
        return '{"outer": ' + text + "}"
    if kind == "array":
        return "[" + text + "]"
    return text


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(texts=st.lists(st.one_of(st.none(), _cw_texts()), max_size=10))
def test_cloudwatch_unwrap_gate_matches_full_parse(spark, texts):
    """Differential: parsing only the texts that contain
    ``messageType`` or a ``\\u`` escape unwraps exactly what parsing
    every text did."""
    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import (
        cloudwatch_unwrap,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "id int, t string")
    got = df.select("id", cloudwatch_unwrap(F.col("t")).alias("new"),
                    _old_cloudwatch_unwrap(F.col("t")).alias("old"))
    for r in got.collect():
        assert r.new == r.old, texts[r.id]


def _old_dateutil_kernel(s):
    """The Arrow ``pandas_udf`` body the dateutil ``mapInArrow`` pass
    replaced, verbatim: a batch of strings in, UTC-naive
    ``datetime64[ns]`` out, NaT where dateutil fails or pandas' range
    ends."""
    import pandas as pd
    from dateutil import parser as duparser

    out = pd.Series(pd.NaT, index=s.index, dtype="datetime64[ns]")
    mask = s.notna()
    if not mask.any():
        return out

    def one(v):
        try:
            return duparser.parse(v)
        except (ValueError, OverflowError, TypeError):
            return pd.NaT

    parsed = s[mask].map(one)
    out[mask] = pd.to_datetime(parsed, utc=True, errors="coerce").dt.tz_localize(None)
    return out


_ZONES = st.sampled_from(
    [
        timezone.utc,
        timezone(timedelta(hours=9)),
        timezone(-timedelta(hours=5, minutes=30)),
        timezone(timedelta(hours=14)),
    ]
)
_FORMATS = st.sampled_from(
    [
        "%Y-%m-%dT%H:%M:%S.%f%z",
        "%Y-%m-%d %H:%M:%S%z",
        "%a, %d %b %Y %H:%M:%S %z",
        "%b %d %Y %I:%M%p %z",
        "%d/%m/%Y %H:%M",
        "%Y%m%dT%H%M%S",
    ]
)


@st.composite
def _time_texts(draw):
    """Naive and aware times across and beyond pandas' 1677-2262 range,
    in several spellings, plus garbage and NULL."""
    kind = draw(st.sampled_from(["naive", "aware", "edge", "garbage", "null"]))
    if kind == "null":
        return None
    if kind == "garbage":
        return draw(st.one_of(st.text(max_size=20), st.sampled_from(["", "now", "32/13/2024", "2024-02-30"])))
    if kind == "edge":  # the first and last instants pandas can hold
        dt = draw(
            st.sampled_from(
                [datetime(1677, 9, 21, 0, 12, 43, 145224), datetime(1677, 9, 21, 0, 12, 43, 145225),
                 datetime(2262, 4, 11, 23, 47, 16, 854775), datetime(2262, 4, 11, 23, 47, 16, 854776)]
            )
        )
        return dt.isoformat() + draw(st.sampled_from(["", "Z", "+00:00", "+01:00", "-01:00"]))
    years = draw(st.sampled_from([(1600, 2400), (1, 9999)]))
    dt = draw(st.datetimes(datetime(years[0], 1, 1), datetime(years[1], 12, 31)))
    if kind == "aware":
        dt = dt.replace(tzinfo=draw(_ZONES))
    text = dt.strftime(draw(_FORMATS))
    return text.strip()


@settings(max_examples=400, deadline=None)
@given(texts=st.lists(_time_texts(), max_size=8))
def test_dateutil_epoch_us_matches_pandas_kernel(texts):
    """Differential: the per-string helper of the dateutil pass returns
    what the old pandas kernel returned for the same batch, as UTC
    microseconds (None for NaT). The one allowed difference: an aware
    time whose wall clock pandas can hold but whose UTC instant falls
    before 1677-09-21 made ``pd.to_datetime`` raise ``OverflowError``
    despite ``errors="coerce"`` and failed the job; it is None now."""
    import pandas as pd

    from terraform_aws_lambda_kinesis_to_s3_spark.functions.timestamps import (
        dateutil_epoch_us,
    )

    def old_us(batch):
        try:
            old = _old_dateutil_kernel(pd.Series(batch, dtype=object))
        except OverflowError:
            if len(batch) == 1:  # the old kernel failed the job on it
                return [None]
            return [v for t in batch for v in old_us([t])]
        return [None if pd.isna(v) else v.value // 1000 for v in old]

    assert [dateutil_epoch_us(t) for t in texts] == old_us(texts)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(texts=st.lists(st.one_of(_time_texts(), st.just("2024-01-05T10:00:00Z")), max_size=8))
def test_with_timestamp_pass_matches_chain(spark, texts):
    """The ``mapInArrow`` pass: the JVM chain where it parses, the
    dateutil helper on exactly the other rows; columns in order."""
    from terraform_aws_lambda_kinesis_to_s3_spark.functions.timestamps import (
        dateutil_epoch_us,
        parse_timestamp,
        with_timestamp,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "id int, t string")
    strict = df.withColumn("ts", parse_timestamp(F.col("t"))).drop("t")
    loose = with_timestamp(df, "t")
    assert loose.columns == strict.columns == ["id", "ts"]
    us = F.unix_micros("ts").alias("us")
    jvm = dict(strict.select("id", us).collect())
    got = dict(loose.select("id", us).collect())
    for i, t in enumerate(texts):
        assert got[i] == (jvm[i] if jvm[i] is not None else dateutil_epoch_us(t)), t


def test_kpl_truncated_blob_passthrough():
    """MD5 trailer catches truncation: a KPL blob cut mid-record must
    come back verbatim, never as silently-short payloads."""
    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import (
        kpl_aggregate_bytes,
        kpl_deaggregate_bytes,
    )

    blob = kpl_aggregate_bytes([b"x" * 50, b"y" * 50])
    truncated = blob[: len(blob) - 40] + blob[-16:]  # keep magic + a trailer
    out = kpl_deaggregate_bytes(truncated)
    assert out == [truncated]  # passthrough, not partial payloads


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["hot", "k1", "k2", "k3"]),
            st.integers(0, 10**6),
        ),
        min_size=1,
        max_size=60,
    ),
    buckets=st.sampled_from([1, 2, 8]),
)
def test_salted_join_equivalence_property(spark, rows, buckets):
    """salted_join(fact, dim) == plain inner join for ANY fact
    multiset and salt-bucket count (including duplicates and keys
    absent from the dim)."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.skew import salted_join

    fact = spark.createDataFrame(rows, "k string, v long")
    dim = spark.createDataFrame(
        [("hot", 1), ("k1", 2), ("absent", 9)], "dk string, attr long"
    )
    got = sorted(
        (r.k, r.v, r.attr)
        for r in salted_join(fact, dim, "k", "dk", salt_buckets=buckets).collect()
    )
    want = sorted(
        (r.k, r.v, r.attr) for r in fact.join(dim, fact.k == dim.dk).collect()
    )
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_distinct=st.integers(1, 60),
    dup_factor=st.integers(1, 3),
)
def test_kmv_exact_below_k_property(spark, n_distinct, dup_factor):
    """With fewer than k distinct values the KMV sketch must report the
    EXACT distinct count regardless of duplication."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.sketches import (
        kmv_distinct,
    )

    vals = [(f"v{i}",) for i in range(n_distinct)] * dup_factor
    df = spark.createDataFrame(vals, "v string").withColumn("g", F.lit("all"))
    [row] = kmv_distinct(df, ["g"], "v", k=128).collect()
    assert row.n_distinct_est == float(n_distinct)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
)
def test_winnowing_guarantee_property(spark, data):
    """The winnowing guarantee (Schleimer et al., SIGMOD'03 thm.): any
    two documents sharing a token run of length >= w + k - 1 share at
    least one fingerprint. Plant a common run into two otherwise
    random docs at random offsets and assert a shared fingerprint."""
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        WINNOW_K,
        WINNOW_W,
        winnow_windows_df,
    )

    vocab = [f"w{i}" for i in range(12)]
    word = st.sampled_from(vocab)
    run_len = WINNOW_W + WINNOW_K - 1
    # the planted run uses tokens outside the vocab so random context
    # cannot accidentally shorten or extend it
    planted = [f"run{i}" for i in range(run_len)]
    pads = [
        data.draw(st.lists(word, min_size=0, max_size=15)) for _ in range(4)
    ]
    doc_a = " ".join(pads[0] + planted + pads[1])
    doc_b = " ".join(pads[2] + planted + pads[3])
    d = spark.createDataFrame(
        [(0, doc_a), (1, doc_b)], "doc_id long, text string"
    )
    w = winnow_windows_df(d)
    fps = (
        w.filter(F.col("i") <= F.col("n") - (WINNOW_W - 1))
        .select("doc_id", "fp")
        .distinct()
        .collect()
    )
    a = {r.fp for r in fps if r.doc_id == 0}
    b = {r.fp for r in fps if r.doc_id == 1}
    assert a & b, "planted w+k-1 run must produce a shared fingerprint"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    text=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
        max_size=120,
    ),
)
def test_bpe_pretokenizer_lossless_property(spark, text):
    """The BPE-style pre-tokenizer is a partition of the input: every
    character lands in exactly one token, so concatenating the tokens
    reconstructs the text byte-for-byte (no silent drops — the
    property that makes token counts a valid data budget)."""
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        BPE_PRETOKEN_PATTERN,
    )

    d = spark.createDataFrame([(text,)], "text string")
    row = d.select(
        F.array_join(
            F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_PATTERN), 0), ""
        ).alias("rejoined")
    ).collect()[0]
    assert row.rejoined == text


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),        # group (hot: few groups)
            st.integers(0, 50),       # value (ties likely)
        ),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(1, 4),
)
def test_salted_topk_equals_plain_window_property(spark, rows, k):
    """Two-phase salted top-k == single-window top-k on arbitrary data
    with heavy ties and hot groups (top-k is merge-composable: the
    global top-k is contained in the union of per-salt top-ks)."""
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [(i, g, float(v)) for i, (g, v) in enumerate(rows)],
        "event_id long, grp int, value double",
    )
    w_plain = Window.partitionBy("grp").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    plain = (
        df.withColumn("rank", F.row_number().over(w_plain))
        .filter(F.col("rank") <= k)
        .select("grp", "rank", "event_id")
    )
    salted = df.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(4)))
    w1 = Window.partitionBy("grp", "salt").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    partial = salted.withColumn("prn", F.row_number().over(w1)).filter(
        F.col("prn") <= k
    )
    two_phase = (
        partial.withColumn("rank", F.row_number().over(w_plain))
        .filter(F.col("rank") <= k)
        .select("grp", "rank", "event_id")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, two_phase.collect())
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),      # user
            st.integers(0, 1200),   # ts seconds
        ),
        min_size=1,
        max_size=50,
    ),
)
def test_throttle_keeps_exactly_first_per_window_property(spark, events):
    """Keep-first throttling: every (user, 5-min window) with >= 1
    event keeps exactly one — its earliest by (ts, event_id)."""
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(events)],
        "event_id long, user_id int, secs long",
    )
    wnd = F.floor(F.col("secs") / 300).alias("wnd")
    w = Window.partitionBy("user_id", "wnd").orderBy("secs", "event_id")
    kept = (
        df.select("event_id", "user_id", "secs", wnd)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    )
    import collections

    expect = {}
    for i, (u, t) in enumerate(events):
        key = (u, t // 300)
        if key not in expect or (t, i) < expect[key]:
            expect[key] = (t, i)
    got = {(r.user_id, r.wnd): (r.secs, r.event_id) for r in kept}
    assert got == {k: v for k, v in expect.items()}


def test_transition_counts_conservation(spark):
    """Transition conservation: total transitions == sum over users of
    (n_events - 1) — nothing dropped, nothing double-counted."""
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        q_user_transition_matrix,
    )

    sf = "/root/testdata/sf0.001"
    got = (
        q_user_transition_matrix(spark, sf)
        .agg(F.sum("n_trans"))
        .collect()[0][0]
    )
    ev = spark.read.parquet(f"{sf}/events.parquet")
    per_user = ev.groupBy("user_id").count()
    want = per_user.agg(F.sum(F.col("count") - 1)).collect()[0][0]
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_dup_ngram_coverage_invariants_property(spark, data):
    """Duplicated-span coverage invariants on random corpora: covered
    is within [0, n_tokens] for every doc; a doc duplicated verbatim
    is fully covered (if it has >= n tokens); and a doc whose tokens
    are disjoint from every other doc has coverage 0."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        DUP_SPAN_N,
        q_dup_ngram_coverage,
    )

    vocab = [f"w{i}" for i in range(6)]
    word = st.sampled_from(vocab)
    texts = data.draw(
        st.lists(
            st.lists(word, min_size=1, max_size=20).map(" ".join),
            min_size=1,
            max_size=5,
        )
    )
    dup = data.draw(st.lists(word, min_size=DUP_SPAN_N, max_size=12).map(" ".join))
    unique = " ".join(f"u{i}" for i in range(DUP_SPAN_N + 2))
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    base = len(rows)
    rows += [(base, dup, "en", "s", len(dup)), (base + 1, dup, "en", "s", len(dup))]
    rows += [(base + 2, unique, "en", "s", len(unique))]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **kw: docs
    try:
        got = {r.doc_id: r for r in q_dup_ngram_coverage(spark, "x").collect()}
    finally:
        Q._t = orig
    assert len(got) == len(rows)  # LEFT join keeps zero-coverage docs
    for r in got.values():
        assert 0 <= r.covered <= r.n_tokens
    assert got[base].covered == got[base].n_tokens  # verbatim dup pair
    assert got[base + 1].covered == got[base + 1].n_tokens
    assert got[base + 2].covered == 0  # disjoint-vocab doc


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_ngram_pair_stats_matches_python_reimpl_property(spark, data):
    """The shingle-space construction under 7 registry queries
    (`ngram_pair_stats`: DF-cap -> sizes -> pairwise intersections ->
    6-dp jaccard), pinned against an INDEPENDENT pure-Python
    reimplementation on random corpora — n_common, n_a, n_b and
    jaccard must agree exactly, pair-for-pair, with and without the
    DF cap.  (The same second-implementation discipline as the HLL
    python-reimpl test.)"""
    from collections import Counter

    import terraform_aws_lambda_kinesis_to_s3_spark.operators.dedup as D

    vocab = [f"w{i}" for i in range(5)]
    word = st.sampled_from(vocab)
    texts = data.draw(
        st.lists(
            st.lists(word, min_size=1, max_size=12).map(" ".join),
            min_size=2,
            max_size=6,
        )
    )
    max_df = data.draw(st.sampled_from([None, 2, 3]))
    n = 3

    def shingles(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    if max_df is not None:
        df = Counter(s for sh in sets.values() for s in sh)
        sets = {
            i: {s for s in sh if df[s] <= max_df} for i, sh in sets.items()
        }
    expected = {}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j and sets[i] & sets[j]:
                c = len(sets[i] & sets[j])
                na, nb = len(sets[i]), len(sets[j])
                expected[(i, j)] = (
                    c, na, nb, round(c / (na + nb - c), 6)
                )

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
        for r in D.ngram_pair_stats(d, n=n, max_df=max_df).collect()
    }
    assert got == expected


@given(blob=st.binary(min_size=0, max_size=64))
@settings(max_examples=200, deadline=None)
def test_image_header_parse_never_crashes(blob):
    """The zero-dependency image codec must be total over arbitrary
    bytes: any input yields None or a well-formed (mime, w, h) with
    positive dims — no exceptions on truncated/corrupt headers."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_image_header,
    )

    out = parse_image_header(blob)
    assert out is None or (
        out[0] in ("image/png", "image/gif") and out[1] > 0 and out[2] > 0
    )


@given(blob=st.binary(min_size=0, max_size=40))
@settings(max_examples=100, deadline=None)
def test_image_header_parse_prefix_fuzz(blob):
    """Valid magic + random tail: PNG/GIF prefixes followed by
    arbitrary bytes must still never raise (truncated IHDR / screen
    descriptor paths)."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_image_header,
    )

    for magic in (b"\x89PNG\r\n\x1a\n", b"GIF89a", b"GIF87a"):
        out = parse_image_header(magic + blob)
        assert out is None or (out[1] > 0 and out[2] > 0)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_bpe_encode_bounds_property(spark, data):
    """BPE encode invariants on random word-soup corpora: per source,
    n_words <= total_tokens <= total word chars (each merge only ever
    shrinks a word's token count, and a word never exceeds char-level);
    fertility >= 1; chars_per_token >= 1."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    # include merge-heavy material ('the', 'and', 'rest') and arbitrary
    # lowercase words
    word = st.one_of(
        st.sampled_from(["the", "and", "rest", "at", "in", "xyz"]),
        st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8),
    )
    texts = data.draw(
        st.lists(
            st.lists(word, min_size=1, max_size=15).map(" ".join),
            min_size=1,
            max_size=6,
        )
    )
    rows = [(i, t, "en", f"s{i % 2}", len(t)) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **kw: docs
    try:
        out = Q.q_bpe_encode_tokens(spark, "x").collect()
    finally:
        Q._t = orig
    by_src = {}
    for i, t in enumerate(texts):
        s = f"s{i % 2}"
        w = t.split(" ")
        a = by_src.setdefault(s, [0, 0])
        a[0] += len(w)
        a[1] += sum(len(x) for x in w)
    for r in out:
        n_words, n_chars = by_src[r.source]
        assert n_words <= r.total_tokens <= n_chars
        assert r.fertility >= 1.0
        assert r.chars_per_token >= 1.0


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_corpus_kl_nonnegative_property(spark, data):
    """Gibbs' inequality on random corpora: KL(p_source || p_corpus)
    >= 0 for every source, and == 0 when only one source exists."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    word = st.sampled_from([f"w{i}" for i in range(5)])
    n_sources = data.draw(st.integers(min_value=1, max_value=3))
    texts = data.draw(
        st.lists(
            st.lists(word, min_size=1, max_size=12).map(" ".join),
            min_size=n_sources,
            max_size=8,
        )
    )
    rows = [
        (i, t, "en", f"s{i % n_sources}", len(t)) for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **kw: docs
    try:
        out = Q.q_corpus_kl_divergence(spark, "x").collect()
    finally:
        Q._t = orig
    for r in out:
        assert r.kl_vs_corpus >= 0.0
    if n_sources == 1:
        assert all(r.kl_vs_corpus == 0.0 for r in out)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_winsorize_bounds_property(spark, data):
    """Winsorized mean is always within [p01, p99] and clipping never
    increases the spread: mean_winsorized lies between min and max of
    the raw values."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    vals = data.draw(
        st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
            min_size=2,
            max_size=40,
        )
    )
    rows = [
        (i, datetime(2024, 1, 1), 1, "t", float(v), "{}")
        for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **kw: ev
    try:
        r = Q.q_events_winsorize(spark, "x").collect()[0]
    finally:
        Q._t = orig
    # the query ROUNDs outputs to 6dp, so bounds need rounding slack
    # (hypothesis found vals=[2.2e-16, 1.1e-308]: the true mean rounds
    # to 0.0, which sits BELOW the unrounded min)
    eps = 5e-7
    assert r.p01 - eps <= r.mean_winsorized <= r.p99 + eps
    assert min(vals) - eps <= r.mean_winsorized <= max(vals) + eps
    assert 0 <= r.n_clipped <= r.n_events


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_bpe_fold_equals_reference_bpe(spark, data):
    """The wrapped-token replace-fold must agree with a literal
    token-list BPE (apply each merge rank left-to-right,
    non-overlapping) on arbitrary words — including the boundary-bleed
    cases a naive single-separator encoding gets wrong ('other',
    'math', 'rather': a merged token's tail must not feed a later
    merge)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    def reference_bpe_count(word):
        toks = list(word)
        for a, b in Q.BPE_MERGES:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return len(toks)

    adversarial = ["other", "math", "rather", "bathe", "ere", "aaaa", "anthem"]
    random_words = data.draw(
        st.lists(
            st.text(alphabet="theranodsi", min_size=1, max_size=10),
            min_size=1,
            max_size=10,
        )
    )
    words = adversarial + random_words
    rows = [(i, w, "en", f"w{i}", len(w)) for i, w in enumerate(words)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **kw: docs
    try:
        got = {r.source: r.total_tokens for r in
               Q.q_bpe_encode_tokens(spark, "x").collect()}
    finally:
        Q._t = orig
    for i, w in enumerate(words):
        assert got[f"w{i}"] == reference_bpe_count(w), w


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_quantile_histogram_merge_law(spark, data):
    """Mergeability of the dyadic-histogram quantile sketch: building
    the histogram on two disjoint halves and SUMMING the bins yields
    exactly the whole-data histogram (the property that makes the
    sketch distributable), so quantile reads agree bin-exactly."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q
    from pyspark.sql import functions as F

    vals = data.draw(
        st.lists(
            st.floats(min_value=0, max_value=50,
                      allow_nan=False, allow_infinity=False),
            min_size=4, max_size=60,
        )
    )
    rows = [(i, datetime(2024, 1, 1), 1, "t", float(v), "{}")
            for i, v in enumerate(vals)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")

    def hist(df):
        # the REAL sketch bin function from the registry query — a
        # regression to non-row-pure binning (e.g. ntile) breaks here
        return {
            (r.event_type, r.bin): r.cnt
            for r in Q.quantile_sketch_hist(df).collect()
        }

    whole = hist(ev)
    h_even = hist(ev.filter(F.col("event_id") % 2 == 0))
    h_odd = hist(ev.filter(F.col("event_id") % 2 == 1))
    merged = dict(h_even)
    for k, v in h_odd.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == whole


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    )
)
def test_midranks_equal_scipy_free_reference_property(spark, vals):
    """_midranks == the textbook average-rank formula on arbitrary
    integer multisets (ties included): for each distinct v,
    midrank(v) = #{x < v} + (#{x == v} + 1) / 2."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.v: r.midrank for r in Q._midranks(df, "v").collect()}
    for v in set(vals):
        below = sum(1 for x in vals if x < v)
        ties = vals.count(v)
        assert got[v] == below + (ties + 1) / 2, (v, vals)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=-500, max_value=500),
            st.floats(
                min_value=0.1, max_value=100.0,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_blocked_cumsum_equals_naive_prefix_property(spark, pairs):
    """_blocked_cumsum == the naive sorted prefix sum on arbitrary
    distinct-key weighted tables (the decomposition must be invisible
    in the result)."""
    import math

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    df = spark.createDataFrame(pairs, "k long, w double")
    got = {r.k: r.below for r in Q._blocked_cumsum(df, "k", "w").collect()}
    for k, _ in pairs:
        expect = sum(w for kk, w in pairs if kk < k)
        assert math.isclose(got[k], expect, rel_tol=1e-9, abs_tol=1e-9)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(
            min_value=-50, max_value=50, allow_nan=False, allow_infinity=False
        ),
        min_size=4,
        max_size=50,
    ),
    n_bins=st.integers(min_value=2, max_value=6),
)
def test_equal_count_bins_approx_path_properties(spark, monkeypatch, vals, n_bins):
    """Forced-approx _equal_count_bins on arbitrary float data:
    bin ids stay in [1, n_bins], assignment is monotone in the key,
    and equal keys always share a bin."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    monkeypatch.setattr(Q, "NTILE_EXACT_MAX", 0)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "tie long, v double"
    )
    rows = Q._equal_count_bins(df, "v", "tie", n_bins, "bin").collect()
    assert all(1 <= r.bin <= n_bins for r in rows)
    by_v = sorted(rows, key=lambda r: r.v)
    bins = [r.bin for r in by_v]
    assert bins == sorted(bins)
    seen = {}
    for r in rows:
        assert seen.setdefault(r.v, r.bin) == r.bin


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    triples=st.lists(
        st.tuples(
            st.integers(min_value=-500, max_value=500),
            st.floats(
                min_value=0.1, max_value=100.0,
                allow_nan=False, allow_infinity=False,
            ),
            st.floats(
                min_value=-100.0, max_value=100.0,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_blocked_cumsum_multi_equals_per_weight_naive_property(spark, triples):
    """_blocked_cumsum_multi == independent naive sorted prefix sums
    for EVERY weight column (one blocked pass must be indistinguishable
    from N separate ones; negative weights — the sweep-line's -1 deltas
    — included)."""
    import math

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    df = spark.createDataFrame(triples, "k long, w1 double, w2 double")
    got = {
        r.k: (r.below_w1, r.below_w2)
        for r in Q._blocked_cumsum_multi(df, "k", ["w1", "w2"]).collect()
    }
    for k, _, _ in triples:
        e1 = sum(w1 for kk, w1, _ in triples if kk < k)
        e2 = sum(w2 for kk, _, w2 in triples if kk < k)
        assert math.isclose(got[k][0], e1, rel_tol=1e-9, abs_tol=1e-9)
        assert math.isclose(got[k][1], e2, rel_tol=1e-9, abs_tol=1e-9)


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 4095),
    h=st.integers(1, 4095),
    # full UNSIGNED u32 range: timescale >= 2^31 must survive (it
    # overflowed the old Int32 output column — ADVICE r8)
    ts=st.integers(1, (1 << 32) - 1),
    nf=st.integers(1, 10000),
    delta=st.integers(1, 90000),
    filler=st.integers(0, 64),
    ssz=st.integers(0, 32),
)
def test_mp4_synth_parse_roundtrip_property(w, h, ts, nf, delta, filler, ssz):
    """synth_mp4 -> parse_mp4_header round-trips over the whole
    parameter space (not just the registry fixture shapes): brand,
    timescale (full u32), duration = nf * delta, dimensions, frame
    count and — when sample tables are written — the uniform sample
    size, single-chunk count and REAL mdat payload offset all
    survive; every strict PREFIX of the container classifies as
    corrupt or parses without raising."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_mp4_header,
        synth_mp4,
    )

    # a distinct media (mdhd) timebase when it still fits in u32
    mt = 3 * ts if 3 * ts < (1 << 32) else 0
    blob = synth_mp4(w, h, ts, nf, delta, n_filler=filler, sample_size=ssz,
                     media_timescale=mt)
    got = parse_mp4_header(blob)
    assert got is not None and got["container"] == "progressive"
    assert (got["brand"], got["timescale"], got["duration"]) == (
        "isom", ts, nf * delta,
    )
    # the mdhd media timebase round-trips independently of the movie's
    assert got["media_timescale"] == (mt or ts)
    assert got["media_duration"] == nf * delta * (mt or ts) // ts
    assert (got["width"], got["height"], got["n_frames"]) == (w, h, nf)
    if ssz > 0:
        assert got["sample_size"] == ssz and got["n_chunks"] == 1
        # the chunk offset is the real mdat payload position (the 4
        # bytes before it are the mdat fourcc) and the declared media
        # bytes end inside the container
        assert blob[got["chunk_offset"] - 4 : got["chunk_offset"]] == b"mdat"
        assert got["chunk_offset"] + nf * ssz <= len(blob)
    else:
        assert got["sample_size"] is None and got["n_chunks"] == 0
    cut = blob[: len(blob) // 2]
    out = parse_mp4_header(cut)
    assert out is None or isinstance(out, dict)


@settings(max_examples=60, deadline=None)
@given(
    sizes=st.lists(st.integers(0, 500), min_size=1, max_size=120),
    chunks_of=st.integers(0, 15),
    k=st.integers(1, 8),
)
def test_mp4_byte_index_chunk_walk_property(sizes, chunks_of, k):
    """The stsc/stco chunk walk equals the contiguity ground truth
    (header + prefix sum of sizes) for EVERY frame of a synth
    container over random size tables and chunkings — the two
    computations share no code path (the walk expands run tables and
    bisects chunk starts; the truth is a plain cumulative sum)."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        _sample_locations,
        parse_mp4_sample_tables,
        synth_mp4,
    )

    blob = synth_mp4(64, 48, 1000, len(sizes), 40, sample_sizes=sizes,
                     chunks_of=chunks_of)
    t = parse_mp4_sample_tables(blob)
    assert t is not None and t["n_frames"] == len(sizes)
    h = t["chunk_offsets"][0]
    pre = [0]
    for s in sizes:
        pre.append(pre[-1] + s)
    assert h + pre[-1] <= len(blob)
    nf = len(sizes)
    frames = sorted({(j * nf) // k for j in range(k)} | {0, nf - 1})
    locs = _sample_locations(t, frames)
    for fi, loc in zip(frames, locs):
        assert loc == (h + pre[fi], sizes[fi])


@settings(max_examples=60, deadline=None)
@given(
    sizes=st.lists(st.integers(0, 300), min_size=1, max_size=100),
    chunks_of=st.integers(0, 11),
    k=st.integers(1, 8),
    filler=st.integers(0, 32),
)
def test_mp4_fetch_frame_bytes_content_property(sizes, chunks_of, k, filler):
    """Plan -> ranged read -> CONTENT over random size tables, random
    chunkings and random k: slicing the blob at every planned
    (byte_offset, byte_len) must return EXACTLY the bytes the
    synthesizer wrote for that frame (the position-dependent i % 251
    pattern at the frame's payload prefix) — the fetch-verify loop's
    ground truth, frame content recomputed with no shared code path
    (prefix sums vs the stsc/stco run walk + slice)."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        _sample_locations,
        parse_mp4_sample_tables,
        synth_mp4,
    )

    blob = synth_mp4(64, 48, 1000, len(sizes), 40, n_filler=filler,
                     sample_sizes=sizes, chunks_of=chunks_of,
                     payload_pattern=True)
    t = parse_mp4_sample_tables(blob)
    assert t is not None and t["n_frames"] == len(sizes)
    pre = [0]
    for s in sizes:
        pre.append(pre[-1] + s)
    nf = len(sizes)
    frames = sorted({(j * nf) // k for j in range(k)} | {0, nf - 1})
    for fi, (off, ln) in zip(frames, _sample_locations(t, frames)):
        assert ln == sizes[fi]
        fetched = blob[off : off + ln]
        expected = bytes((pre[fi] + b) % 251 for b in range(sizes[fi]))
        assert fetched == expected


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 4095),
    h=st.integers(1, 4095),
    ts=st.integers(1, (1 << 32) - 1),
    counts=st.lists(st.integers(1, 5000), min_size=1, max_size=6),
    delta=st.integers(1, 90000),
    filler=st.integers(0, 64),
)
def test_fmp4_synth_parse_roundtrip_property(w, h, ts, counts, delta, filler):
    """synth_fmp4 -> parse_mp4_header: fragmented containers classify
    as fragmented with n_fragments == len(counts), total frames from
    the trun sample counts, and duration recovered via the mvex/mehd
    fallback (the mvhd duration is authored 0, as encoders do).
    Prefixes classify-don't-crash."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_mp4_header,
        synth_fmp4,
    )

    blob = synth_fmp4(w, h, ts, counts, delta, n_filler=filler)
    got = parse_mp4_header(blob)
    assert got is not None and got["container"] == "fragmented"
    assert got["brand"] == "iso5"
    assert got["n_fragments"] == len(counts)
    assert got["n_frames"] == sum(counts)
    assert got["duration"] == sum(counts) * delta
    assert got["timescale"] == ts
    assert (got["width"], got["height"]) == (w, h)
    assert got["sample_size"] is None and got["chunk_offset"] is None
    out = parse_mp4_header(blob[: len(blob) // 2])
    assert out is None or isinstance(out, dict)


@pytest.mark.parametrize("seed", [1, 42])
def test_fuzz_parsers_smoke(seed):
    """tools/fuzz_parsers.py at a sub-second budget exits clean on the
    current parsers.  Seed 1 is the mutation stream that found the
    mvhd/mdhd v1-guard crash; seed 42 is a second fixed stream."""
    tool = os.path.join(os.path.dirname(__file__), "..", "tools", "fuzz_parsers.py")
    r = subprocess.run(
        [sys.executable, tool, "0.5", str(seed)], capture_output=True, text=True
    )
    assert r.returncode == 0, r.stdout + r.stderr
