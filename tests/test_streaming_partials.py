"""The streaming starter and the partial-merge driver
(streaming/job.py::start_query, streaming/partials.py): a live monitor
polls once a second, the settings every query starts under cannot
change what a monitor computes, and a partial pile always reads back."""

from __future__ import annotations

import json
import os
import time

from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
from terraform_aws_lambda_kinesis_to_s3_spark.operators.sketches import hll_distinct
from terraform_aws_lambda_kinesis_to_s3_spark.streaming import (
    run_corpus_ingest,
    run_stream,
    stream_source,
)
from terraform_aws_lambda_kinesis_to_s3_spark.streaming.drift import (
    run_type_drift_monitor,
)
from terraform_aws_lambda_kinesis_to_s3_spark.streaming.heavyhitters import (
    run_heavyhitter_monitor,
)
from terraform_aws_lambda_kinesis_to_s3_spark.streaming.partials import PartialPile
from terraform_aws_lambda_kinesis_to_s3_spark.streaming.quantiles import (
    run_quantile_monitor,
)
from terraform_aws_lambda_kinesis_to_s3_spark.streaming.sketches import (
    run_distinct_monitor,
)

SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
#: Spark's marker for an operator that keeps state across micro-batches;
#: only such an operator can make Spark run a no-data batch
STATE_STORE_WRITER = (
    "org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter"
)


def _drop(src_dir, name, users):
    """Land an events file atomically (a dot-file is invisible to the
    file source until the rename)."""
    os.makedirs(src_dir, exist_ok=True)
    tmp = os.path.join(src_dir, "." + name)
    with open(tmp, "w") as f:
        for u in users:
            row = {
                "event_id": u,
                "ts": "2024-03-01T12:00:00",
                "user_id": u,
                "event_type": "view",
                "value": 1.0,
                "props": "{}",
            }
            f.write(json.dumps(row) + "\n")
    os.rename(tmp, os.path.join(src_dir, name))


def _stream(spark, src):
    return spark.readStream.schema(SCHEMA).json(src)


def _await_len(q, items, n, timeout=120):
    deadline = time.time() + timeout
    while len(items) < n:
        assert q.exception() is None, q.exception()
        assert time.time() < deadline, f"monitor recorded {len(items)} < {n}"
        time.sleep(0.1)


def _hll(spark, users):
    df = spark.createDataFrame([(u,) for u in users], "user_id long")
    return hll_distinct(df, [], "user_id").collect()[0].hll_est


def _stateful_operators(spark, q):
    """Names of the stateful operators in the query's last executed
    streaming plan."""
    cls = spark._jvm.java.lang.Class.forName(STATE_STORE_WRITER)
    nodes, found = [q._jsq.streamingQuery().lastExecution().executedPlan()], []
    while nodes:
        node = nodes.pop()
        if cls.isInstance(node):
            found.append(node.nodeName())
        children = node.children()
        nodes.extend(children.apply(i) for i in range(children.size()))
    return found


def test_live_monitor_polls_once_a_second(spark, tmp_path):
    """A live monitor gets run_stream's 1 s trigger, not Spark's
    default 10 ms poll, and records one readout per data batch."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    metrics = []
    q = run_distinct_monitor(
        _stream(spark, src),
        str(tmp_path / "regs"),
        str(tmp_path / "ckpt"),
        metrics,
        available_now=False,
    )
    try:
        trigger = q._jsq.streamingQuery().trigger()
        assert trigger.getClass().getSimpleName() == "ProcessingTimeTrigger"
        assert trigger.intervalMs() == 1000
        _drop(src, "b0.json", range(0, 300))
        _await_len(q, metrics, 1)
        _drop(src, "b1.json", range(200, 500))
        _await_len(q, metrics, 2)
        # an idle poll runs no batch, so nothing more is recorded
        time.sleep(2)
    finally:
        q.stop()

    assert [m["batch_id"] for m in metrics] == [0, 1]
    assert metrics[0]["estimate"] == _hll(spark, range(0, 300))
    assert metrics[1]["estimate"] == _hll(spark, range(0, 500))


def test_monitor_plans_hold_no_stateful_operator(spark, tmp_path):
    """start_query turns no-data batches off for every query. Spark runs
    a no-data batch only for a stateful operator, and no monitor or
    ingest plan holds one, so the setting cannot change what they
    compute; run_stream's dedup is one, which shows the check sees it."""
    src = str(tmp_path / "src")
    _drop(src, "b0.json", range(50))
    monitors = {
        "drift": run_type_drift_monitor,
        "quantiles": run_quantile_monitor,
        "heavyhitters": run_heavyhitter_monitor,
        "sketches": run_distinct_monitor,
    }
    for name, run in monitors.items():
        metrics = []
        q = run(
            _stream(spark, src),
            str(tmp_path / name / "state"),
            str(tmp_path / name / "ckpt"),
            metrics,
        )
        q.awaitTermination(120)
        assert len(metrics) == 1, name
        assert _stateful_operators(spark, q) == [], name

    docs = str(tmp_path / "docs")
    os.makedirs(docs)
    with open(os.path.join(docs, "d.json"), "w") as f:
        f.write(json.dumps({"doc_id": "d0", "text": "a b c d e f", "lang": "en",
                            "source": "s"}) + "\n")
    q = run_corpus_ingest(
        spark.readStream.schema("doc_id string, text string, lang string, "
                                "source string").json(docs),
        *(str(tmp_path / "ingest" / d) for d in ("cur", "rej", "hist", "ckpt")),
    )
    q.awaitTermination(120)
    assert _stateful_operators(spark, q) == []

    payloads = str(tmp_path / "payloads")
    os.makedirs(payloads)
    with open(os.path.join(payloads, "p.jsonl"), "w") as f:
        f.write(json.dumps({"log_type": "a", "log_id": "1",
                            "time": "2024-03-05T10:00:00Z"}) + "\n")
    cfg = PipelineConfig(unknown_date="2024-06-01")
    q = run_stream(
        stream_source(spark, cfg, "file", payloads),
        str(tmp_path / "routed"),
        str(tmp_path / "routed_ckpt"),
        cfg,
    )
    q.awaitTermination(120)
    assert _stateful_operators(spark, q)


def test_empty_partial_reads_back_empty(spark, tmp_path):
    """A partial with no rows still lands a part file with its schema,
    so a pile read right after a write always exists."""
    pile = PartialPile(str(tmp_path / "pile"), str(tmp_path / "ckpt"))
    pile.write(spark.createDataFrame([], "__reg int, __mrank int"), 0)
    back = pile.read(spark)
    assert back.count() == 0
    assert back.columns == ["__reg", "__mrank"]
