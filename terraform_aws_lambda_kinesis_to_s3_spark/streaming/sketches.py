"""Streaming distinct-count monitor: a HyperLogLog sketch maintained
incrementally over a micro-batch stream — the streaming counterpart of
the batch ``hll_distinct_users`` query, for the feed where "how many
distinct users have we EVER seen" must be answerable after every batch
without ever storing the distinct set itself.

Each micro-batch writes its (register, max rank) partial through the
partial-merge driver (streaming/partials.py, which states the
run/batch state ladder); the readout max-merges every partial and
estimates.  This monitor's rung is the top of the ladder: a replay
from a fresh checkpoint appends a second copy of every partial and the
estimate is UNCHANGED, exactly.  Registers merge by max, and max is
idempotent, so duplicate partials are absorbed and the monitor gives
exactly-once-equivalent answers under at-least-once delivery with NO
distinct-tracking state.  State size is O(256) per run regardless of
stream length.

The estimate math is ``operators.sketches.hll_estimate_from_registers``
— the identical exact-integer combine the batch query and its DuckDB
oracle compute, so the streaming readout is pinned by the same
cross-engine contract as the batch one (parity test:
tests/test_streaming_sketches.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from terraform_aws_lambda_kinesis_to_s3_spark.operators.sketches import (
    hll_estimate_from_registers,
    hll_register_rank,
)
from terraform_aws_lambda_kinesis_to_s3_spark.streaming.partials import (
    run_partial_merge,
)


def hll_partial(batch_df: DataFrame, id_col: str = "user_id") -> DataFrame:
    """Map a micro-batch to its (``__reg``, ``__mrank``) partial
    register table (≤256 rows) — the map-side combine of the sketch."""
    reg, rank = hll_register_rank(F.col(id_col))
    return (
        batch_df.select(reg.alias("__reg"), rank.alias("__rank"))
        .groupBy("__reg")
        .agg(F.max("__rank").alias("__mrank"))
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """1-row (n_registers_set, hll_est) from any pile of partial
    register tables — duplicates and replays absorbed by the max-merge
    inside the shared combine."""
    merged = registers.groupBy("__reg").agg(F.max("__mrank").alias("__mrank"))
    est = hll_estimate_from_registers(merged, [])
    n = merged.agg(F.count("*").alias("n_registers_set"))
    return n.crossJoin(est)


def run_distinct_monitor(
    event_stream: DataFrame,
    registers_path: str,
    checkpoint: str,
    metrics: list | None = None,
    id_col: str = "user_id",
    available_now: bool = True,
):
    """Start the distinct-count monitor over an events stream.  Returns
    the StreamingQuery.

    ``metrics``: driver-side list; each micro-batch appends
    ``{batch_id, n_registers_set, estimate}`` after the register
    write."""

    def readout(registers: DataFrame) -> dict:
        row = hll_estimate(registers).collect()[0]
        return {"n_registers_set": row.n_registers_set, "estimate": row.hll_est}

    return run_partial_merge(
        event_stream,
        registers_path,
        checkpoint,
        lambda batch_df, _: hll_partial(batch_df, id_col),
        readout,
        metrics,
        available_now,
    )
