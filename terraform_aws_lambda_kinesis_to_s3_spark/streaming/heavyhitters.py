"""Streaming heavy-hitters monitor: per-batch top-K summaries with
Misra-Gries-style thresholds, merged on read — the streaming
counterpart of the batch ``topk_shard_merge_eval``, for the feed where
"who are the top users and HOW SURE are we" must be answerable after
every batch without keeping a full per-key census forever.

Each micro-batch writes its top-K' summary through the partial-merge
driver (streaming/partials.py, which states the run/batch state
ladder); the readout merges every summary into a bound-checked top-10.

Merge math (identical to the batch eval, streamed): a key absent from
batch b's summary had at most ``thr_b`` occurrences there, so

    lower(key) = Σ_b present  c_b(key)
    upper(key) = lower(key) + Σ_b thr_b − Σ_{b: key present} thr_b

and the per-key error bound is upper − lower, CHECKED row by row in
the tests against exact truth.  Each summary row carries its batch's
``__thr`` and ``__n`` so the merge needs no side table — per-batch
totals are recovered by a distinct over (batch, thr, n), O(batches)
rows.  The same arithmetic is ALSO oracle-checked cross-engine: the
registry query ``hh_merge_bounds`` (plans/queries.py) runs this
module's hh_partial/hh_merged_topk over a static shard split against
an independent DuckDB reconstruction of the bounds.

This monitor's rung sits with streaming/quantiles.py (both are count
state, unlike the HLL's max state): a replay from a fresh checkpoint
appends a second copy of every summary, so absolute counts and
absolute bounds DOUBLE, but the top-k ORDERING, every frequency
FRACTION (lower/total), and the RELATIVE bound (bound/total) are
exactly unchanged — uniform scaling cancels in every ratio.  Pinned by
tests/test_streaming_heavyhitters.py::test_streaming_replay_ranking_invariant.
State size is O(K' x batches) per run regardless of key cardinality:
one per-batch census pruned to its top rows by a two-stage rank
(per-salt-group truncate, then a global re-rank over the <= (k+1) x
NSALT survivors), so no stage sorts the full distinct-key census on
one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from terraform_aws_lambda_kinesis_to_s3_spark.streaming.partials import (
    run_partial_merge,
)

SUMMARY_K = 20
NSALT = 32


def hh_partial(
    batch_df: DataFrame,
    key_col: str = "user_id",
    k: int = SUMMARY_K,
    group_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Map a micro-batch to its top-``k`` summary: (``__key``, ``__c``)
    for the k most frequent keys (count desc, key asc ties) plus the
    per-batch ``__thr`` (max count EXCLUDED — 0 when nothing is) and
    ``__n`` (batch row total) on every row.

    Two-stage rank: the census is first truncated to the top ``k+1``
    rows WITHIN each of ``NSALT`` hash-of-key groups (a partitioned,
    distributed window), and only the <= (k+1) x NSALT survivors see
    the global ordering.  Each key appears exactly once post-census,
    so the global top-(k+1) is contained in the union of per-group
    top-(k+1)s for ANY disjoint grouping — the prune is exact, and the
    single-partition sort is over a bounded row count instead of the
    full distinct-key census.

    ONE LINEAR SUBTREE (r11 optimization round): ``__thr`` and ``__n``
    used to be separate scalar aggregates crossJoin-broadcast onto the
    kept rows, which made Catalyst replay the census (and its whole
    upstream) once per consumer — three full builds per summary, and
    the batch-analog oracle query (hh_merge_bounds, 4 shards) read 122
    exchanges / 156 hash-aggregates in one plan.  Both scalars are now
    window aggregates over the pruned survivors: the threshold is the
    count at global rank k+1 (ordering is count-desc, so that row IS
    the max excluded count, and the prune provably keeps it), and the
    batch total is recovered exactly from per-salt-group sums taken
    BEFORE the prune (every non-empty salt group keeps its __lrn==1
    row, which carries the group's full mass; empty groups contribute
    0).  Global windows run on <= (k+1) x NSALT rows — same bound the
    two-stage rank already pays.

    ``group_cols`` (r12 optimization round): optional extra grouping
    columns computed per group IN ONE SUBTREE — every aggregate and
    window above simply gains the group prefix, so the result per
    group is row-identical to filtering the input to that group and
    calling the plain form (pinned by
    tests/test_streaming_heavyhitters.py::test_hh_partial_grouped_equals_per_group).
    The batch-analog oracle query (hh_merge_bounds) uses this to run
    its 4 static shards as one plan instead of a 4-subtree union —
    87 one-task stages collapse to one census + two window exchanges,
    and the formerly-global re-rank becomes a shard-partitioned
    window (no single-partition sort at all).  The streaming monitor
    passes no group_cols and compiles to the identical plan as
    before."""
    gc = list(group_cols)
    census = (
        batch_df.select(*gc, F.col(key_col).alias("__key"))
        .groupBy(*gc, "__key")
        .agg(F.count("*").alias("__c"))
    )
    order = (F.col("__c").desc(), F.col("__key").asc())
    lw = Window.partitionBy(*gc, "__salt").orderBy(*order)
    salt_w = Window.partitionBy(*gc, "__salt")
    pruned = (
        census.withColumn(
            "__salt", F.pmod(F.xxhash64("__key"), F.lit(NSALT))
        )
        .withColumn("__lrn", F.row_number().over(lw))
        .withColumn("__salt_n", F.sum("__c").over(salt_w))
        .filter(F.col("__lrn") <= k + 1)
    )
    w = Window.partitionBy(*gc).orderBy(*order)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        pruned.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "__thr",
            F.coalesce(
                F.max(F.when(F.col("__rn") == k + 1, F.col("__c"))).over(w_all),
                F.lit(0),
            ),
        )
        .withColumn(
            "__n",
            F.coalesce(
                F.sum(F.when(F.col("__lrn") == 1, F.col("__salt_n"))).over(w_all),
                F.lit(0),
            ),
        )
        .filter(F.col("__rn") <= k)
        .select(*gc, "__key", "__c", "__thr", "__n")
    )


def hh_merged_topk(
    summaries: DataFrame, k: int = 10
) -> DataFrame:
    """Bound-checked top-``k`` from any pile of per-batch summaries.

    Requires a ``__batch`` column distinguishing the piles (the monitor
    writes one summary per run/batch path and stamps it).  Returns
    (key, est_count, upper_count, error_bound, est_frac, bound_frac)
    ordered by est_count desc, key asc.

    ONE PASS over ``summaries`` (r11 optimization round): the run
    totals (sum of per-batch thresholds; total mass) used to be a
    separate distinct+agg crossJoin-broadcast, which replayed the
    whole summaries subtree a second time — in the batch-analog
    oracle query that subtree is 4 computed shard summaries, not a
    cheap parquet read.  ``__thr``/``__n`` are constant within a
    batch, so one representative row per batch (row_number over
    __batch == 1) feeds global window sums, and the totals ride into
    the per-key aggregate as ``first()`` of a global constant.  The
    global window runs on the summary rows themselves — O(kept rows
    x batches), the merge's own state bound."""
    fb = Window.partitionBy("__batch").orderBy("__key")
    g_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stamped = (
        summaries.withColumn("__fb", F.row_number().over(fb) == 1)
        .withColumn(
            "__thr_total",
            F.sum(F.when(F.col("__fb"), F.col("__thr"))).over(g_all),
        )
        .withColumn(
            "__mass",
            F.sum(F.when(F.col("__fb"), F.col("__n")))
            .over(g_all)
            .cast("double"),
        )
    )
    merged = stamped.groupBy("__key").agg(
        F.sum("__c").alias("__lower"),
        F.sum("__thr").alias("__thr_present"),
        F.first("__thr_total").alias("__thr_total"),
        F.first("__mass").alias("__mass"),
    )
    w = Window.orderBy(F.col("__lower").desc(), F.col("__key").asc())
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__key").alias("key"),
            F.col("__lower").cast("long").alias("est_count"),
            (F.col("__lower") + F.col("__thr_total") - F.col("__thr_present"))
            .cast("long")
            .alias("upper_count"),
            (F.col("__thr_total") - F.col("__thr_present"))
            .cast("long")
            .alias("error_bound"),
            (F.col("__lower") / F.col("__mass")).alias("est_frac"),
            (
                (F.col("__thr_total") - F.col("__thr_present"))
                / F.col("__mass")
            ).alias("bound_frac"),
            F.col("__rn").cast("int").alias("rank"),
        )
    )


def run_heavyhitter_monitor(
    event_stream: DataFrame,
    summaries_path: str,
    checkpoint: str,
    metrics: list | None = None,
    key_col: str = "user_id",
    summary_k: int = SUMMARY_K,
    top_k: int = 10,
    available_now: bool = True,
):
    """Start the heavy-hitters monitor.  Returns the StreamingQuery.

    ``metrics``: driver-side list; each micro-batch appends
    ``{batch_id, topk: [(key, est_count, upper_count, est_frac,
    bound_frac), ...]}`` after the summary write."""

    def partial(batch_df: DataFrame, batch_key: str) -> DataFrame:
        return hh_partial(batch_df, key_col, summary_k).withColumn(
            "__batch", F.lit(batch_key)
        )

    def readout(summaries: DataFrame) -> dict:
        rows = hh_merged_topk(summaries, top_k).collect()
        return {
            "topk": [
                (r.key, r.est_count, r.upper_count, r.est_frac, r.bound_frac)
                for r in rows
            ]
        }

    return run_partial_merge(
        event_stream,
        summaries_path,
        checkpoint,
        partial,
        readout,
        metrics,
        available_now,
    )
