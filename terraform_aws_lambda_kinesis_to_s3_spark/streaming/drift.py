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

The JS math matches the batch query exactly: full outer day-pairing at
the (day, type) grain, probability 0 for types absent on one side,
0·ln0 = 0 explicit, JS ≤ ln 2.
"""

from __future__ import annotations

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


def js_day_over_day(census: DataFrame) -> DataFrame:
    """(day, js_divergence) for every day with a predecessor, from an
    aggregated (d, event_type, c) census.  Bounded O(days·types)
    joins — identical semantics to q_events_daily_type_drift."""
    daily = census.groupBy("d", "event_type").agg(F.sum("c").alias("c"))
    tot = daily.groupBy("d").agg(F.sum("c").alias("t"))
    p = daily.join(tot, "d").select(
        "d", "event_type", (F.col("c") / F.col("t")).alias("p")
    )
    q = p.select(
        F.date_add("d", 1).alias("d"), "event_type", F.col("p").alias("q")
    )
    m = (
        p.join(q, ["d", "event_type"], "full")
        .withColumn("p", F.coalesce("p", F.lit(0.0)))
        .withColumn("q", F.coalesce("q", F.lit(0.0)))
    )
    days_both = p.select("d").distinct().join(q.select("d").distinct(), "d")
    m = m.join(days_both, "d")
    mid = (F.col("p") + F.col("q")) / 2
    term = F.when(
        F.col("p") > 0, F.col("p") * F.log(F.col("p") / mid)
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("q") > 0, F.col("q") * F.log(F.col("q") / mid)
    ).otherwise(F.lit(0.0))
    return m.groupBy("d").agg(
        F.round(F.sum(term) / 2, 6).alias("js_divergence")
    )


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
        row = js_day_over_day(census).orderBy(F.col("d").desc()).limit(1).collect()
        latest = row[0] if row else None
        return {
            "n_days": census.select("d").distinct().count(),
            "latest_day": str(latest.d) if latest else None,
            "latest_js": latest.js_divergence if latest else None,
            "alert": bool(latest and latest.js_divergence > alert_threshold),
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
