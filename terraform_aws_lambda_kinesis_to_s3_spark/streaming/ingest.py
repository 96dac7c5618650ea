"""Streaming corpus ingestion: the Tier-A streaming machinery applied
to the Tier-B curation operators — documents arrive as a stream, pass
the quality gate, dedup incrementally against ALL history, and fork to
curated / rejected sinks.

This is the shape a production training-data pipeline ingests with:
the reference's Kinesis→S3 topology (micro-batch in, partitioned files
out) but with corpus curation instead of log routing in the middle.
Dataflow per micro-batch (foreachBatch, one fork point):

    batch ──quality gate──┬── pass ──within-batch fp dedup──
                          │        ──anti-join history fps── curated/
                          │                      └─ new fps → history/
                          └── fail (reason column) ───────── rejected/

The history side is O(distinct fingerprints) — only (fp) rows are ever
re-read, never the curated corpus itself (same contract as the batch
``incremental_dedup_check``). foreachBatch is at-least-once on retry,
so idempotency is layered twice:

- curated/ and history/ are partial piles (streaming/partials.py, which
  states the run/batch state ladder): a retried batch replaces its own
  output instead of appending a second copy;
- documents re-DELIVERED in a later batch (or a replay from a fresh
  checkpoint) are removed by the anti-join against the history
  fingerprints.

rejected/ is an at-least-once AUDIT LOG (plain append): a replayed
batch may append duplicate reject rows; consumers deduplicate on
(doc_id, reject_reason) if they need exactly-once counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from terraform_aws_lambda_kinesis_to_s3_spark.operators import textops as X
from terraform_aws_lambda_kinesis_to_s3_spark.streaming.job import start_query
from terraform_aws_lambda_kinesis_to_s3_spark.streaming.partials import PartialPile


#: quality-gate threshold on textops.quality_features' composite score
QUALITY_MIN_SCORE = 0.55
#: documents shorter than this many whitespace tokens are rejected
MIN_TOKENS = 5


def gate_documents(docs: DataFrame) -> DataFrame:
    """Pure-Catalyst quality gate: adds ``fp`` (normalized-text
    fingerprint), ``reject_reason`` (NULL = accepted). Map-only."""
    scored = X.quality_features(docs).withColumn(
        "fp", X.fingerprint(F.col("text"))
    )
    return scored.withColumn(
        "reject_reason",
        F.when(F.col("n_tokens") < MIN_TOKENS, F.lit("too_short")).when(
            F.col("quality_score") < QUALITY_MIN_SCORE, F.lit("low_quality")
        ),
    )


def run_corpus_ingest(
    doc_stream: DataFrame,
    curated_path: str,
    rejected_path: str,
    history_path: str,
    checkpoint: str,
    available_now: bool = True,
    metrics: list | None = None,
):
    """Start the streaming ingest over a document stream (schema:
    doc_id, text, lang, source). Returns the StreamingQuery.

    ``metrics``: optional driver-side list; each micro-batch appends
    ``{batch_id, n_in, n_rejected, n_new}`` (the ingest counterpart of
    the routing job's A12 observe() counters — here the counts ride on
    the persisted gated stage, so they cost aggregates over cached
    data, not extra source scans).

    Guarantee ladder beyond the partial piles' own (honest accounting —
    exactly-once across arbitrary crash points needs a transactional
    table format, which is the documented production swap):

    - a driver restart recovering from the SAME checkpoint re-delivers
      a batch into the same run/batch subdirectory, so the crashed
      attempt's partial curated/history writes for that batch are
      replaced, not duplicated (both crash points are pinned by
      ``test_restart_same_checkpoint_absorbed`` in
      tests/test_streaming_ingest.py);
    - replay from a FRESH checkpoint: no loss, no duplicates — a new
      run token means no directory collision with prior runs, and
      re-delivered docs anti-join away against history;
    - driver death between the curated and history writes followed by
      a NEW process on a NEW checkpoint: that one batch may be curated
      twice (at-least-once). Writing history first would turn the same
      window into data LOSS, which is strictly worse.  The
      ``rejected`` sink is mode("append") and stays at-least-once
      across restarts; consumers dedupe on (batch_id, doc_id).
    """
    curated = PartialPile(curated_path, checkpoint)
    history = PartialPile(history_path, checkpoint)

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        gated = gate_documents(batch_df).persist()
        accepted = None
        try:
            rejected = gated.filter(F.col("reject_reason").isNotNull())
            kept = gated.filter(F.col("reject_reason").isNull())
            # within-batch exact dedup: keep the lowest doc_id per fp
            # (deterministic survivor, same rule as dedup_survivors)
            first = kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
            kept = kept.join(first, ["fp", "doc_id"], "left_semi")
            # the semi-join keeps EVERY row matching (fp, min doc_id):
            # an at-least-once source can deliver the identical record
            # twice inside one micro-batch — collapse to one survivor
            kept = kept.dropDuplicates(["fp"])
            # incremental dedup: anti-join the O(distinct-fp) history,
            # which does not exist until a batch accepts a document
            if history.exists(spark):
                kept = kept.join(history.read(spark).select("fp"), "fp", "left_anti")
            accepted = kept.select(
                "doc_id", "text", "lang", "source", "fp"
            ).persist()
            n_new = accepted.count()  # pin before the writes below
            rejected.select(
                "doc_id", "source", "reject_reason"
            ).write.mode("append").parquet(rejected_path)
            if n_new:
                curated.write(accepted, batch_id)
                history.write(accepted.select("fp"), batch_id)
            if metrics is not None:
                # appended AFTER the writes: a batch whose write fails
                # is never recorded. Like the rejected sink, this is
                # at-least-once under retry — consumers dedupe on
                # batch_id (last entry wins)
                metrics.append(
                    {
                        "batch_id": batch_id,
                        "n_in": gated.count(),
                        "n_rejected": rejected.count(),
                        "n_new": n_new,
                    }
                )
        finally:
            gated.unpersist()
            if accepted is not None:
                accepted.unpersist()

    return start_query(
        doc_stream.writeStream.foreachBatch(ingest_batch), checkpoint, available_now
    )
