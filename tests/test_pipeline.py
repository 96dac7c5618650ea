"""Tier-A pipeline golden tests — FIXTURES.md §A variants P1-P14.

Each fixture exercises a reference edge case with its citation; both
intended and as-built semantics from SURVEY.md §2.4 are pinned.
"""

from __future__ import annotations

import base64
import gzip
import json
import re

import pytest
from pyspark.sql import functions as F

from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import (
    decode_records,
    kpl_aggregate_bytes,
    kpl_deaggregate_bytes,
)
from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import route_records
from terraform_aws_lambda_kinesis_to_s3_spark.sources.records import (
    kinesis_event_to_df,
    payloads_to_df,
)

CFG = PipelineConfig(unknown_date="2024-06-01")


def rec(**kw) -> bytes:
    base = {
        "log_type": "purchase",
        "log_id": "e-000042",
        "time": "2024-01-01T00:16:57.102229+00:00",
        "user_id": 12,
        "value": 9.64,
        "props": {"k": 12},
    }
    base.update(kw)
    return json.dumps({k: v for k, v in base.items() if v is not None}).encode()


def run(spark, payloads, cfg=CFG, **kw):
    df = payloads_to_df(spark, payloads)
    return route_records(decode_records(df), cfg, **kw).collect()


def by_id(rows):
    return {r.log_id: r for r in rows}


def test_p1_plain_json(spark):
    rows = run(spark, [rec()])
    assert len(rows) == 1
    r = rows[0]
    assert (r.route, r.ym, r.dd, r.valid) == ("purchase", "2024-01", "01", True)
    # round-trip: payload content preserved byte-exact (README.md:9)
    assert json.loads(r.payload)["props"] == {"k": 12}


def test_p2_gzip(spark):
    rows = run(spark, [gzip.compress(rec())])
    assert rows[0].route == "purchase"


def test_p3_cloudwatch_envelope(spark):
    cw = {
        "messageType": "DATA_MESSAGE",
        "owner": "1",
        "logGroup": "g",
        "logStream": "s",
        "subscriptionFilters": ["f"],
        "logEvents": [
            {"id": "1", "timestamp": 1, "message": rec(log_id="cw-1").decode()},
            {"id": "2", "timestamp": 2, "message": rec(log_id="cw-2").decode()},
        ],
    }
    rows = run(spark, [gzip.compress(json.dumps(cw).encode())])
    assert sorted(r.log_id for r in rows) == ["cw-1", "cw-2"]
    assert all(r.route == "purchase" for r in rows)


def test_cloudwatch_envelope_parsed_once(spark):
    """The CloudWatch unwrap parses a unit in a ``Project`` before the
    explode: the decode ``Generate`` (no subexpression elimination)
    holds no ``from_json``, and the executed plan parses each envelope
    field at most once."""
    cw = {"messageType": "DATA_MESSAGE", "logEvents": [{"id": "1", "message": rec().decode()}]}
    routed = route_records(decode_records(payloads_to_df(spark, [json.dumps(cw).encode(), rec()])), CFG)
    assert len(routed.collect()) == 2
    plan = routed._jdf.queryExecution().executedPlan().toString()
    generates = [line for line in plan.splitlines() if "Generate " in line]
    assert len(generates) == 1 and "from_json" not in generates[0], plan
    for field in ("messageType", "logEvents"):
        assert plan.count(f"StructField({field},") <= 1, plan


def _kinesis_event_batch(spark, tmp_path, datas):
    """``run_batch`` over one Kinesis event whose records carry
    ``datas`` as their ``data`` fields; the routed (log_type, payload)
    pairs it wrote, sorted."""
    from terraform_aws_lambda_kinesis_to_s3_spark.job import run_batch
    from terraform_aws_lambda_kinesis_to_s3_spark.sinks import read_routed

    event = {
        "Records": [
            {"kinesis": {"data": d, "partitionKey": "pk", "sequenceNumber": "1"}}
            for d in datas
        ]
    }
    src = tmp_path / "in"
    src.mkdir()
    (src / "events.json").write_text(json.dumps(event) + "\n")
    out = str(tmp_path / "out")
    run_batch(spark, str(src), out, CFG, input_format="kinesis-event")
    return sorted((r.log_type, r.payload) for r in read_routed(spark, out).collect())


def _b64(blob: bytes) -> str:
    return base64.b64encode(blob).decode()


def _cw_envelope_text(key: str) -> str:
    cw = {
        "messageType": "DATA_MESSAGE",
        "logGroup": "g",
        "logEvents": [
            {"id": "1", "timestamp": 1, "message": rec(log_id="cw-1").decode()},
            {"id": "2", "timestamp": 2, "message": rec(log_id="cw-2").decode()},
        ],
    }
    return json.dumps(cw).replace('"messageType"', key)


def test_p3_escaped_key_envelope_unwraps(spark, tmp_path):
    """A gzip envelope whose key is spelled with a ``\\u`` escape holds
    no ``messageType`` bytes, yet Spark's JSON reader sees the key: it
    unwraps into its messages."""
    text = _cw_envelope_text('"message\\u0054ype"')
    assert "messageType" not in text
    back = _kinesis_event_batch(spark, tmp_path, [_b64(gzip.compress(text.encode()))])
    assert back == [
        ("purchase", rec(log_id="cw-1").decode()),
        ("purchase", rec(log_id="cw-2").decode()),
    ]


def test_p3_wrong_case_key_stays_one_record(spark, tmp_path):
    """Spark matches field names case-sensitively: a ``MessageType``
    envelope is no envelope, and routes as one record (to ``unknown``,
    as it has no ``log_type``)."""
    text = _cw_envelope_text('"MessageType"')
    back = _kinesis_event_batch(spark, tmp_path, [_b64(gzip.compress(text.encode()))])
    assert back == [("unknown", text)]


def test_p4_kpl_aggregated(spark):
    blob = kpl_aggregate_bytes([rec(log_id="k-1"), rec(log_id="k-2")])
    # unit-level roundtrip
    assert kpl_deaggregate_bytes(blob) == [rec(log_id="k-1"), rec(log_id="k-2")]
    rows = run(spark, [blob])
    assert sorted(r.log_id for r in rows) == ["k-1", "k-2"]


def test_p5_non_json_intended_vs_asbuilt(spark):
    # intended (README.md:9): unknown prefix
    rows = run(spark, [b"plaintext, not json"])
    assert len(rows) == 1 and rows[0].route == "unknown"
    assert rows[0].payload == "plaintext, not json"
    # as-built (lambda/main.py:50-52): silently skipped
    rows = run(spark, [b"plaintext, not json"], CFG.with_(non_json_to_unknown=False))
    assert rows == []


@pytest.mark.parametrize("missing", ["log_type", "log_id", "time"])
def test_p6_p7_p8_missing_required_fields(spark, missing):
    rows = run(spark, [rec(**{missing: None})])
    assert rows[0].route == "unknown" and not rows[0].valid


def test_p9_unparseable_time(spark):
    rows = run(spark, [rec(time="not-a-date")])
    r = rows[0]
    assert r.route == "unknown" and r.ts is None
    assert (r.ym, r.dd) == ("2024-06", "01")  # pinned unknown_date


def test_p10_whitelist_excludes(spark):
    cfg = CFG.with_(log_type_whitelist=("purchase",))
    rows = run(spark, [rec(), rec(log_type="click", log_id="c-1")], cfg)
    assert [r.log_id for r in rows] == ["e-000042"]


def test_p10b_whitelist_passes_invalid_to_unknown(spark):
    cfg = CFG.with_(log_type_whitelist=("purchase",))
    rows = run(spark, [rec(log_type=None, log_id="bad-1")], cfg)
    assert rows[0].route == "unknown"  # invalid rows bypass the whitelist


def test_p11_empty_whitelist_allows_all(spark):
    # intended semantics (README.md:70); as-built bug 2 documented in SURVEY §2.4
    cfg = CFG.with_(log_type_whitelist=("",))
    rows = run(spark, [rec(), rec(log_type="click", log_id="c-1")], cfg)
    assert len(rows) == 2


def test_p12_duplicate_log_id_batch(spark):
    # batch mode keeps both (uniqueness is sink-level naming, README.md:14);
    # streaming dedup is covered in test_streaming.py
    rows = run(spark, [rec(), rec()])
    assert len(rows) == 2


def test_p13_timezone_shifts_partition(spark):
    cfg = CFG.with_(timezone="Asia/Tokyo")
    rows = run(spark, [rec(time="2024-01-01T23:30:00Z")], cfg)
    assert (rows[0].ym, rows[0].dd) == ("2024-01", "02")


def test_p14_nested_roundtrip(spark):
    deep = {"a": {"b": {"c": [1, 2, {"d": "e"}]}}, "unicode": "héllo ☃"}
    payload = rec(props=deep)
    rows = run(spark, [payload])
    assert json.loads(rows[0].payload)["props"] == deep
    assert rows[0].payload == payload.decode()


def test_configurable_field_names(spark):
    cfg = CFG.with_(
        log_type_field="kind", log_id_field="uid", log_timestamp_field="at"
    )
    payload = json.dumps(
        {"kind": "purchase", "uid": "x-1", "at": "2024-02-03T00:00:00Z"}
    ).encode()
    rows = run(spark, [payload], cfg)
    assert rows[0].route == "purchase" and rows[0].log_id == "x-1"
    assert (rows[0].ym, rows[0].dd) == ("2024-02", "03")


def test_kinesis_event_shape(spark):
    event = json.dumps(
        {
            "Records": [
                {
                    "kinesis": {
                        "data": base64.b64encode(rec()).decode(),
                        "partitionKey": "pk",
                        "sequenceNumber": "1",
                        "approximateArrivalTimestamp": 1.0,
                    }
                },
                {
                    "kinesis": {
                        "data": base64.b64encode(rec(log_id="e-2")).decode(),
                        "partitionKey": "pk",
                        "sequenceNumber": "2",
                        "approximateArrivalTimestamp": 2.0,
                    }
                },
            ]
        }
    )
    df = spark.createDataFrame([(event,)], "value string")
    recs = kinesis_event_to_df(df)
    rows = route_records(decode_records(recs), CFG).collect()
    assert sorted(r.log_id for r in rows) == ["e-000042", "e-2"]


def test_config_from_env():
    cfg = PipelineConfig.from_env(
        {
            "LOG_ID_FIELD": "uid",
            "LOG_TYPE_FIELD": "kind",
            "LOG_TIMESTAMP_FIELD": "at",
            "LOG_TYPE_UNKNOWN_PREFIX": "dead",
            "LOG_TYPE_WHITELIST": "a,b",
            "TZ": "Asia/Tokyo",
            "LOG_S3_PREFIX": "logs",
            "LOG_S3_BUCKET": "my-logs",
        }
    )
    assert cfg.log_id_field == "uid"
    assert cfg.log_type_whitelist == ("a", "b")
    assert cfg.whitelist_enabled
    # the reference's env name (main.tf:49) wins; LOG_BUCKET is an alias
    assert cfg.log_bucket == "my-logs"
    assert PipelineConfig.from_env({"LOG_BUCKET": "alias"}).log_bucket == "alias"
    assert not PipelineConfig.from_env({"LOG_TYPE_WHITELIST": ""}).whitelist_enabled


def test_permissive_requires_dateutil(spark, monkeypatch):
    """When dateutil is unavailable the permissive chain must fail at
    plan-build time, not silently NaT rows into 'unknown' (ADVICE/
    VERDICT r1 item 6)."""
    import importlib.util

    from terraform_aws_lambda_kinesis_to_s3_spark.functions import timestamps as TS

    real = importlib.util.find_spec
    monkeypatch.setattr(
        importlib.util,
        "find_spec",
        lambda name, *a, **k: None if name == "dateutil" else real(name, *a, **k),
    )
    df = spark.createDataFrame([("2024-01-02",)], "x string")
    with pytest.raises(RuntimeError, match="dateutil"):
        TS.with_timestamp(df, "x")
    # the strict JVM-only chain stays available
    df.select(TS.parse_timestamp(df.x)).collect()


def test_dateutil_fallback_formats(spark):
    rows = run(
        spark,
        [
            rec(log_id="d-1", time="Jan 5 2024 3:04pm"),
            rec(log_id="d-2", time="Tue, 02 Jan 2024 10:00:00 +0900"),
            rec(log_id="d-3", time="2024-01-02"),
            rec(log_id="d-4", time="20240102T030405Z"),
        ],
    )
    r = by_id(rows)
    assert r["d-1"].valid and (r["d-1"].ym, r["d-1"].dd) == ("2024-01", "05")
    assert r["d-2"].valid and (r["d-2"].ym, r["d-2"].dd) == ("2024-01", "02")
    assert r["d-3"].valid and r["d-3"].dd == "02"
    assert r["d-4"].valid and r["d-4"].dd == "02"


def test_cloudwatch_control_message_dropped(spark):
    import gzip as _gz

    control = {
        "messageType": "CONTROL_MESSAGE",
        "owner": "CloudwatchLogs",
        "logGroup": "",
        "logStream": "",
        "subscriptionFilters": [],
        "logEvents": [
            {"id": "", "timestamp": 1, "message": "CWL CONTROL MESSAGE: ..."}
        ],
    }
    rows = run(spark, [_gz.compress(json.dumps(control).encode()), rec()])
    # control envelope dropped entirely; the real record still routed
    assert [r.log_id for r in rows] == ["e-000042"]


def test_corrupt_gzip_routes_unknown(spark):
    corrupt = b"\x1f\x8b" + b"this is not a valid gzip stream"
    rows = run(spark, [corrupt])
    assert len(rows) == 1 and rows[0].route == "unknown"


@pytest.mark.parametrize("kpl", [False, True], ids=["bare", "kpl-unit"])
def test_corrupt_gzip_body_routes_unknown(spark, kpl):
    """A valid gzip header over a corrupt deflate body raises
    ``zlib.error``, which is not an ``OSError``: it must dead-letter
    next to a valid record, not abort the job."""
    body = bytearray(gzip.compress(rec(log_id="gz-bad")))
    for i in range(12, 30):
        body[i] ^= 0xFF
    bad = kpl_aggregate_bytes([bytes(body)]) if kpl else bytes(body)
    rows = run(spark, [bad, rec()])
    assert sorted(r.route for r in rows) == ["purchase", "unknown"]
    assert by_id(rows)["e-000042"].route == "purchase"


def test_malformed_base64_routes_unknown(tmp_path, spark):
    """A Kinesis record whose ``data`` is not base64 is dead-lettered
    with its raw text as payload; the good record in the same event
    still routes and the batch completes. A NULL ``data`` yields no
    row."""
    back = _kinesis_event_batch(spark, tmp_path, [_b64(rec()), "!!not base64@@", None])
    assert back == [("purchase", rec().decode()), ("unknown", "!!not base64@@")]


def test_decode_records_crosses_python_once(spark):
    """KPL deaggregation, gunzip and UTF-8 run in one ``mapInArrow``
    pass: the executed plan holds exactly one ``PythonMapInArrowExec``
    (printed ``MapInArrow``) and no ArrowEvalPython node (whose row
    queue outlives its task)."""
    payloads = [rec(), gzip.compress(rec()), kpl_aggregate_bytes([rec(), gzip.compress(rec())])]
    df = decode_records(payloads_to_df(spark, payloads))
    assert len(df.collect()) == 4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
    assert "EvalPython" not in plan, plan


def test_payload_schema_profile_detects_drift(spark):
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import (
        payload_schema_profile,
    )

    payloads = [
        rec(),
        rec(log_id="e-2"),  # same shape
        rec(log_id="e-3", extra_field="surprise"),  # drifted shape
        b"not json",
    ]
    routed = route_records(
        decode_records(payloads_to_df(spark, payloads)), CFG
    )
    prof = payload_schema_profile(routed).collect()
    by_route = {}
    for r in prof:
        by_route.setdefault(r.route, []).append((r.payload_schema, r.n_records))
    # two distinct schemas under 'purchase' (drift visible), one null-schema unknown
    purchase = sorted(by_route["purchase"], key=lambda x: -x[1])
    assert len(purchase) == 2 and purchase[0][1] == 2 and purchase[1][1] == 1
    assert len(by_route["unknown"]) == 1


def test_parallelize_gate_on_observed_scan_parallelism(spark, tmp_path):
    """parallelize=True rebalances ONLY an under-parallel scan (r11
    verdict item 2): the single-file test tables (1-partition scan)
    get the round-robin rebalance to the core count, while an input
    whose scan already reaches the core count keeps its natural
    partitioning — no gratuitous full-table shuffle on splittable
    production inputs."""
    from terraform_aws_lambda_kinesis_to_s3_spark.sources.tables import (
        load_table,
    )

    cores = spark.sparkContext.defaultParallelism
    sf = "/root/testdata/sf0.01"
    # unsplittable single-file scan: 1 partition < cores -> gate fires
    plain = load_table(spark, sf, "events")
    assert plain.rdd.getNumPartitions() < cores
    rebal = load_table(spark, sf, "events", parallelize=True)
    assert rebal.rdd.getNumPartitions() == cores
    # already-parallel input: scan >= cores -> parallelize is a no-op
    wide_dir = str(tmp_path)
    plain.repartition(4 * cores).write.parquet(f"{wide_dir}/events.parquet")
    wide_plain = load_table(spark, wide_dir, "events")
    n_scan = wide_plain.rdd.getNumPartitions()
    assert n_scan >= cores
    wide_par = load_table(spark, wide_dir, "events", parallelize=True)
    assert wide_par.rdd.getNumPartitions() == n_scan  # no repartition node
    # row content identical on every path (layout-blind)
    assert wide_par.count() == plain.count() == rebal.count()
