"""Streaming data-drift monitor: day-over-day Jensen-Shannon divergence
of the event-type mix, maintained incrementally over a micro-batch
stream — the streaming counterpart of the batch
``events_daily_type_drift`` query (plans/queries.py), for the pipeline
whose FEED is live: a schema-stable stream whose type mix shifts
silently is the failure neither schema profiling nor volume alerts see.

Each micro-batch writes its (day, event_type) partial counts through
the partial-merge driver (streaming/partials.py, which states the
run/batch state ladder); the readout is the JS of the latest day
against the previous one over the whole census.  This monitor's rung:
a replay from a fresh checkpoint doubles every count, but the drift
readout is COUNT-SCALE INVARIANT (JS compares per-day *distributions*;
scaling every (day, type) count by the same factor leaves them
unchanged), so the signal survives at-least-once delivery without
distinct-tracking state.  Within one batch, exact same-record
re-deliveries collapse via dropDuplicates on event_id.

The JS math is the batch query's: full outer day-pairing at the
(day, type) grain, probability 0 for types absent on one side, 0·ln0 =
0 explicit, JS ≤ ln 2.  The readout reads the pile once per batch (the
census cells) and computes it on the driver.
"""

from __future__ import annotations

import datetime
import decimal
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from terraform_aws_lambda_kinesis_to_s3_spark.streaming.partials import (
    run_partial_merge,
)


def daily_type_census(batch_df: DataFrame) -> DataFrame:
    """Map a micro-batch to its (day, event_type, c) partial counts."""
    return (
        batch_df.dropDuplicates(["event_id"])
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.count("*").alias("c"))
    )


def js_day_over_day(cells) -> dict:
    """{day: js_divergence} for every day with a predecessor, from the
    aggregated census cells (rows of d, event_type, c): the formula of
    q_events_daily_type_drift, computed on the driver.  The census is
    O(days·types) rows; the same joins as Spark jobs cost about a
    second per readout.  As under that query's joins, a NULL day pairs
    with nothing and a NULL type never pairs across days.  Rounded as
    Spark's ``round(x, 6)`` rounds: half up on the printed decimal."""
    days: dict = {}
    for r in cells:
        if r.d is not None:
            days.setdefault(r.d, []).append((r.event_type, r.c))

    def dist(day, null_key):
        t = sum(c for _, c in days[day])
        return {(k if k is not None else null_key): c / t for k, c in days[day]}

    out = {}
    for d in days:
        prev = d - datetime.timedelta(days=1)
        if prev not in days:
            continue
        p, q = dist(d, ("null", "p")), dist(prev, ("null", "q"))
        total = 0.0
        for k in sorted(p.keys() | q.keys(), key=repr):
            pk, qk = p.get(k, 0.0), q.get(k, 0.0)
            mid = (pk + qk) / 2
            total += (pk * math.log(pk / mid) if pk > 0 else 0.0) + (
                qk * math.log(qk / mid) if qk > 0 else 0.0
            )
        js = decimal.Decimal(repr(total / 2)).quantize(decimal.Decimal("1e-6"), decimal.ROUND_HALF_UP)
        out[d] = float(js)
    return out


def run_type_drift_monitor(
    event_stream: DataFrame,
    census_path: str,
    checkpoint: str,
    metrics: list | None = None,
    alert_threshold: float = 0.1,
    available_now: bool = True,
):
    """Start the drift monitor over an events stream (schema: event_id,
    ts, user_id, event_type, value, props).  Returns the
    StreamingQuery.

    ``metrics``: driver-side list; each micro-batch appends
    ``{batch_id, n_days, latest_day, latest_js, alert}`` after the
    census write.  ``alert`` fires when the newest day-over-day JS
    exceeds ``alert_threshold``."""

    def readout(census: DataFrame) -> dict:
        # the one read of the pile per batch
        cells = census.groupBy("d", "event_type").agg(F.sum("c").alias("c")).collect()
        js = js_day_over_day(cells)
        latest = max(js, default=None)
        return {
            "n_days": len({r.d for r in cells}),
            "latest_day": str(latest) if latest is not None else None,
            "latest_js": js.get(latest),
            "alert": latest is not None and js[latest] > alert_threshold,
        }

    return run_partial_merge(
        event_stream,
        census_path,
        checkpoint,
        lambda batch_df, _: daily_type_census(batch_df),
        readout,
        metrics,
        available_now,
    )
