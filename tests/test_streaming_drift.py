"""Streaming day-over-day type-drift monitor (streaming/drift.py):
incremental census, JS parity with the batch query, at-least-once
scale-invariance, alerting."""

from __future__ import annotations

import json
import math
import os

from terraform_aws_lambda_kinesis_to_s3_spark.streaming.drift import (
    run_type_drift_monitor,
)


def _write_events(src_dir, name, rows):
    os.makedirs(src_dir, exist_ok=True)
    with open(os.path.join(src_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(eid, day, etype):
    return {
        "event_id": eid,
        "ts": f"2024-03-{day:02d}T12:00:00",
        "user_id": 1,
        "event_type": etype,
        "value": 1.0,
        "props": "{}",
    }


SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _stream(spark, src):
    return spark.readStream.schema(SCHEMA).json(src)


def test_drift_monitor_detects_mix_swap(spark, tmp_path):
    src = str(tmp_path / "src")
    census = str(tmp_path / "census")

    # day 1 and day 2: identical a/b mix; day 3: complete swap to c/d
    rows = []
    eid = 0
    for day, types in [(1, ["a", "b"]), (2, ["a", "b"])]:
        for t in types:
            for _ in range(5):
                rows.append(_ev(eid, day, t)); eid += 1
    _write_events(src, "b1.json", rows)
    metrics = []
    q = run_type_drift_monitor(
        _stream(spark, src), census, str(tmp_path / "ckpt"), metrics=metrics
    )
    q.awaitTermination(120)
    assert metrics[-1]["n_days"] == 2
    assert metrics[-1]["latest_day"] == "2024-03-02"
    assert metrics[-1]["latest_js"] == 0.0 and metrics[-1]["alert"] is False

    rows3 = []
    for t in ("c", "d"):
        for _ in range(5):
            rows3.append(_ev(eid, 3, t)); eid += 1
    _write_events(src, "b2.json", rows3)
    metrics2 = []
    q = run_type_drift_monitor(
        _stream(spark, src), census, str(tmp_path / "ckpt"), metrics=metrics2
    )
    q.awaitTermination(120)
    assert metrics2[-1]["n_days"] == 3
    assert metrics2[-1]["latest_day"] == "2024-03-03"
    assert metrics2[-1]["latest_js"] == round(math.log(2), 6)  # JS upper bound
    assert metrics2[-1]["alert"] is True


def test_drift_monitor_replay_scale_invariance(spark, tmp_path):
    """A fresh-checkpoint replay doubles every census count; the JS
    readout must be unchanged (distributions are scale-invariant) —
    the documented at-least-once contract."""
    src = str(tmp_path / "src")
    census = str(tmp_path / "census")
    rows = []
    eid = 0
    for day, mix in [(1, ["a"] * 6 + ["b"] * 2), (2, ["a"] * 2 + ["b"] * 6)]:
        for t in mix:
            rows.append(_ev(eid, day, t)); eid += 1
    _write_events(src, "b1.json", rows)

    metrics = []
    q = run_type_drift_monitor(
        _stream(spark, src), census, str(tmp_path / "ckpt"), metrics=metrics
    )
    q.awaitTermination(120)
    first = metrics[-1]["latest_js"]
    assert first and first > 0.0

    metrics2 = []
    q = run_type_drift_monitor(
        _stream(spark, src), census, str(tmp_path / "ckpt2"), metrics=metrics2
    )
    q.awaitTermination(120)
    assert metrics2[-1]["latest_js"] == first  # doubled counts, same JS
    # and the census really did double (at-least-once, not exactly-once)
    import pyspark.sql.functions as F

    total = (
        spark.read.option("recursiveFileLookup", "true").parquet(census)
        .agg(F.sum("c")).collect()[0][0]
    )
    assert total == 2 * len(rows)


def test_drift_monitor_same_batch_redelivery_and_parity(spark, tmp_path):
    """Duplicate event_ids inside one batch collapse (dropDuplicates);
    the streaming JS equals the batch query's on the same data."""
    import pyspark.sql.functions as F

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    src = str(tmp_path / "src")
    rows = []
    eid = 0
    for day, mix in [(1, ["a"] * 3 + ["b"]), (2, ["a"] + ["b"] * 3)]:
        for t in mix:
            rows.append(_ev(eid, day, t)); eid += 1
    rows.append(rows[0])  # identical same-batch re-delivery
    _write_events(src, "b1.json", rows)

    metrics = []
    q = run_type_drift_monitor(
        _stream(spark, src), str(tmp_path / "census"),
        str(tmp_path / "ckpt"), metrics=metrics,
    )
    q.awaitTermination(120)

    ev = spark.createDataFrame(
        [(r["event_id"], r["ts"].replace("T", " "), r["user_id"],
          r["event_type"], r["value"], r["props"]) for r in rows[:-1]],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    orig = Q._t
    try:
        Q._t = lambda spark, sf, name, **k: ev
        batch_js = {r.day: r.js_divergence
                    for r in Q.q_events_daily_type_drift(spark, "x").collect()}
    finally:
        Q._t = orig
    assert metrics[-1]["latest_js"] == batch_js["2024-03-02"]


def test_restart_same_checkpoint_absorbed(spark, tmp_path):
    """A driver restart recovering from the SAME checkpoint re-delivers
    the in-flight batch; the checkpoint-derived run token makes the
    re-delivery OVERWRITE the same run/batch census partial, so the
    ABSOLUTE (day, type) counts equal a single delivery's — the JS
    readout alone cannot see this (it is count-scale invariant by
    contract), so this pins the rung the fresh-checkpoint replay test
    cannot: restart semantics are exactly-once, not just
    ratio-preserving.  Simulated by wiping the checkpoint (the
    un-committed-offsets crash point) and restarting at the same
    location — the same simulation the heavyhitters and quantiles
    monitors pin."""
    import shutil

    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    census = str(tmp_path / "census")
    ckpt = str(tmp_path / "ckpt")
    rows = []
    eid = 0
    for day, types in [(1, ["a", "b"]), (2, ["a", "b"])]:
        for t in types:
            for _ in range(5):
                rows.append(_ev(eid, day, t)); eid += 1
    _write_events(src, "b1.json", rows)

    def day_counts():
        df = spark.read.option("recursiveFileLookup", "true").parquet(census)
        return {
            (str(r.d), r.event_type): r.total
            for r in df.groupBy("d", "event_type")
            .agg(F.sum("c").alias("total"))
            .collect()
        }

    q = run_type_drift_monitor(_stream(spark, src), census, ckpt, metrics=[])
    q.awaitTermination(120)
    once = day_counts()
    assert set(once.values()) == {5}  # 5 events per (day, type) cell

    shutil.rmtree(ckpt)  # crash before the offset commit
    q = run_type_drift_monitor(_stream(spark, src), census, ckpt, metrics=[])
    q.awaitTermination(120)
    assert day_counts() == once  # absorbed, not doubled


def test_js_day_over_day_matches_batch_query(spark):
    """The driver-side JS equals the batch query's on every day of a
    census with a gap day, a NULL event type, types present on one day
    only, and uneven counts."""
    import datetime
    import random

    from pyspark.sql import Row

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q
    from terraform_aws_lambda_kinesis_to_s3_spark.streaming.drift import js_day_over_day

    rng = random.Random(7)
    days = [datetime.date(2024, 3, d) for d in (1, 2, 3, 5, 6, 7)]
    cells = [
        Row(d=d, event_type=t, c=rng.randint(1, 40))
        for d in days
        for t in ("a", "b", "c", "d", None)
        if rng.random() < 0.7
    ]
    ev = spark.createDataFrame(
        [(i, datetime.datetime.combine(r.d, datetime.time(12)), 1, r.event_type, 1.0, "{}")
         for i, r in enumerate(r for r in cells for _ in range(r.c))],
        SCHEMA,
    )
    orig = Q._t
    try:
        Q._t = lambda spark, sf, name, **k: ev
        batch = {r.day: r.js_divergence for r in Q.q_events_daily_type_drift(spark, "x").collect()}
    finally:
        Q._t = orig
    assert {str(d): js for d, js in js_day_over_day(cells).items()} == batch
    assert len(batch) == 4


def test_readout_reads_the_pile_once_per_batch(spark, tmp_path):
    """Each micro-batch's readout runs one Spark job over the census
    pile; ``n_days`` and the JS come from that one read."""
    import re

    src = str(tmp_path / "src")
    census = str(tmp_path / "census")
    for b, day in enumerate((1, 2)):
        _write_events(src, f"b{b}.json", [_ev(10 * b + i, day, t) for i, t in enumerate("aab")])

    def plans():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        store = spark._jsparkSession.sharedState().statusStore()
        conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        return {e.executionId(): e.physicalPlanDescription() for e in conv.asJava(store.executionsList())}

    before = plans()
    metrics = []
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    run_type_drift_monitor(stream, census, str(tmp_path / "ckpt"), metrics=metrics).awaitTermination(120)
    reads = [
        p for i, p in plans().items()
        if i not in before and re.search(r"Scan parquet", p) and census in p
    ]
    assert [m["n_days"] for m in metrics] == [1, 2]
    assert metrics[-1]["latest_js"] == 0.0
    assert len(reads) == len(metrics)
