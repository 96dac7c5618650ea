"""Partial-merge state for ``foreachBatch`` jobs: each micro-batch
writes a small partial under ``<root>/run=<t>/batch=N``, and a readout
merges the whole pile after every batch.

    batch ── partial(batch) ──> <root>/run=<t>/batch=N
                   │
                   └─ read every partial ─ readout ─ append to metrics

The state ladder, shared by every job that keeps its state here (the
four monitors and the corpus ingest's curated/history sinks):

- a same-run retry of batch N OVERWRITES its own partial instead of
  adding a second copy: exactly-once for the common at-least-once
  retry;
- the run token ``<t>`` is a pure function of the checkpoint location,
  so a driver restart recovering from the SAME checkpoint re-delivers
  batch N into the same subdirectory, which absorbs it too;
- a replay from a FRESH checkpoint (a different location, batch
  numbering restarts) gets a different token and APPENDS a second copy
  of every partial. What that does to a readout is each job's own rung
  of the ladder, stated in its module docstring;
- ``metrics`` is appended AFTER the partial is written, so a failed
  batch is never recorded; under retry consumers dedupe on
  ``batch_id`` (last entry wins).

The read-back is recursive (``recursiveFileLookup``), so any nesting
of run/batch directories, or an older flat layout, reads the same.
"""

from __future__ import annotations

import hashlib
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from terraform_aws_lambda_kinesis_to_s3_spark.streaming.job import start_query


def _run_token(checkpoint: str) -> str:
    """Run identity from the checkpoint location: a hash of the raw
    location string, so it is scheme-agnostic and needs no filesystem
    call."""
    return hashlib.md5(checkpoint.encode("utf-8")).hexdigest()[:12]


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API, so any
    scheme the cluster can read (s3a://, hdfs://, file:) works — a
    driver-local os.path.exists would miss object stores."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


class PartialPile:
    """The ``run=<t>/batch=N`` partials under ``root`` of the run that
    ``checkpoint`` identifies."""

    def __init__(self, root: str, checkpoint: str) -> None:
        self.root = root
        self.token = _run_token(checkpoint)

    def write(self, partial: DataFrame, batch_id: int) -> None:
        partial.write.mode("overwrite").parquet(
            f"{self.root}/run={self.token}/batch={batch_id}"
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("recursiveFileLookup", "true").parquet(self.root)

    def exists(self, spark: SparkSession) -> bool:
        return _hadoop_path_exists(spark, self.root)


def run_partial_merge(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    partial: Callable[[DataFrame, str], DataFrame],
    readout: Callable[[DataFrame], dict | None],
    metrics: list | None,
    available_now: bool,
):
    """Start a partial-merge monitor over ``stream``. Returns the
    StreamingQuery.

    ``partial(batch_df, batch_key)`` maps a micro-batch to its partial;
    ``batch_key`` (``<t>/N``) names the batch uniquely across runs.
    ``readout(pile)`` maps the whole pile read back to the batch's
    metric fields, or None to record nothing. Without ``metrics`` the
    partials are still written and the readout is skipped."""
    pile = PartialPile(root, checkpoint)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        pile.write(partial(batch_df, f"{pile.token}/{batch_id}"), batch_id)
        if metrics is None:
            return
        fields = readout(pile.read(batch_df.sparkSession))
        if fields is not None:
            metrics.append({"batch_id": batch_id, **fields})

    return start_query(
        stream.writeStream.foreachBatch(merge_batch), checkpoint, available_now
    )
