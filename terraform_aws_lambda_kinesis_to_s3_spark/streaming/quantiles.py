"""Streaming quantile monitor: a mergeable log-bucket histogram
maintained over a micro-batch stream — the streaming counterpart of
the batch ``events_quantile_sketch`` / ``quantile_merge_eval`` family,
for the feed where "what is p50/p90/p99 of value over everything we
have EVER seen" must be answerable after every batch without a global
sort and without knowing the value range upfront.

Bucketing: equal-width bins (the batch eval's geometry) need (lo, hi)
before the first record arrives — a streaming monitor has no such
prior.  Instead each value lands in its floor-log2 octave computed
with EXACT integer arithmetic (``m = floor(value*100) + 1``, bucket =
bit-length(m) − 1, the corpus_psi_drift trick), so the bucket function
is engine-stable, needs no configuration, and covers any positive
domain with O(log max) state.  Within-octave linear interpolation
gives a relative-error-style guarantee (bucket width is ~the octave),
the honest HDR-histogram-without-sub-buckets tradeoff; the batch-side
``quantile_bucket_sweep`` prices what finer geometry would buy.

Each micro-batch writes its (bucket, count) census through the
partial-merge driver (streaming/partials.py, which states the
run/batch state ladder); the readout SUM-merges every partial and
interpolates.  This monitor's rung sits between streaming/drift.py and
streaming/sketches.py: a replay from a fresh checkpoint appends a
second copy of every partial, so unlike HLL registers the total mass
doubles — but every quantile estimate is EXACTLY unchanged:
interpolation depends only on relative mass (before/n and c/n both
scale by the same factor), so the monitor's deliverable is
replay-INVARIANT even though its internal counts are not.  Pinned by
tests/test_streaming_quantiles.py::test_streaming_replay_quantiles_invariant.
State size is O(log max_value) per run regardless of stream length —
~40 buckets for any 2-decimal domain below 5e9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from terraform_aws_lambda_kinesis_to_s3_spark.streaming.partials import (
    run_partial_merge,
)

MONITOR_QS = (0.5, 0.9, 0.99)


def log_bucket(col: F.Column) -> F.Column:
    """Exact floor-log2 octave of ``floor(value*100) + 1`` — pure
    integer arithmetic (bin() bit length), no float log, so both
    engines and every replay agree bit-for-bit.  Covers value >= 0;
    bucket k holds values with m in [2^k, 2^(k+1))."""
    m = (F.floor(col * 100) + 1).cast("long")
    return (F.length(F.bin(m)) - 1).cast("int")


def bucket_partial(batch_df: DataFrame, value_col: str = "value") -> DataFrame:
    """Map a micro-batch to its (``__bucket``, ``__c``) census — the
    map-side combine; O(log max) rows regardless of batch size."""
    return (
        batch_df.select(log_bucket(F.col(value_col)).alias("__bucket"))
        .groupBy("__bucket")
        .agg(F.count("*").alias("__c"))
    )


def quantile_estimate(census: DataFrame, qs=MONITOR_QS) -> DataFrame:
    """(q, v_est, n_total) rows from any pile of partial censuses —
    duplicates SUM-merge; the estimate reads only relative mass, so
    uniformly-scaled piles give identical estimates.

    The cumsum window is over the merged O(log max)-row census — a
    bounded sort, the same grain class as the batch SP_SORT_OK
    entries (this module is streaming-side; the census is ≤~40 rows
    by construction)."""
    merged = census.groupBy("__bucket").agg(F.sum("__c").alias("__c"))
    total = merged.agg(F.sum("__c").cast("double").alias("n"))
    wcum = (
        Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = merged.withColumn(
        "before", F.coalesce(F.sum("__c").over(wcum), F.lit(0))
    ).crossJoin(F.broadcast(total))
    grid = census.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    )
    # bucket k spans values [(2^k - 1)/100, (2^(k+1) - 1)/100)
    v_lo = (F.pow(F.lit(2.0), F.col("__bucket")) - 1) / 100.0
    v_hi = (F.pow(F.lit(2.0), F.col("__bucket") + 1) - 1) / 100.0
    return (
        cum.crossJoin(F.broadcast(grid))
        .filter(
            (F.col("before") < F.col("q") * F.col("n"))
            & (F.col("before") + F.col("__c") >= F.col("q") * F.col("n"))
        )
        .groupBy("q")
        .agg(
            F.min(
                v_lo
                + (v_hi - v_lo)
                * (F.col("q") * F.col("n") - F.col("before"))
                / F.col("__c")
            ).alias("v_est"),
            F.min("n").cast("long").alias("n_total"),
        )
    )


def run_quantile_monitor(
    event_stream: DataFrame,
    buckets_path: str,
    checkpoint: str,
    metrics: list | None = None,
    value_col: str = "value",
    available_now: bool = True,
):
    """Start the quantile monitor over an events stream.  Returns the
    StreamingQuery.

    ``metrics``: driver-side list; each micro-batch appends
    ``{batch_id, n_total, p50, p90, p99}`` after the census write."""

    def readout(census: DataFrame) -> dict | None:
        rows = {r.q: r for r in quantile_estimate(census).collect()}
        if not rows:
            return None
        return {
            "n_total": next(iter(rows.values())).n_total,
            "p50": rows[0.5].v_est,
            "p90": rows[0.9].v_est,
            "p99": rows[0.99].v_est,
        }

    return run_partial_merge(
        event_stream,
        buckets_path,
        checkpoint,
        lambda batch_df, _: bucket_partial(batch_df, value_col),
        readout,
        metrics,
        available_now,
    )
