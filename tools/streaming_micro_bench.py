#!/usr/bin/env python
"""Micro-bench for the streaming monitors (r11 verdict item 9).

drift / HLL-distinct / quantile / heavy-hitters had no bench-visible
cost receipt — they are exercised by the streaming suite only, so an
optimization pass has no measured baseline to compare against.  This
tool replays the events table as K micro-batches through each monitor
(availableNow, maxFilesPerTrigger=1 — one source file per batch) and
records, per monitor:

- wall seconds total and per batch (from StreamingQuery progress),
- the readout-side cost (each monitor's foreachBatch re-reads its full
  state pile and collects a bounded readout — that, not the partial
  write, is the per-batch cost driver),
- the STATE SIZE the monitor accumulated (rows + bytes on disk), next
  to its documented bound — the receipt that per-batch state is
  O(registers/buckets/k·salt), not O(stream).

Run:  python tools/streaming_micro_bench.py [sf_dir] [n_batches]
      (defaults: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1, 8)
Writes STREAMING_BENCH.json next to the repo's other artifacts.

The artifact carries ``bench.py``'s stamps (nproc, session cores, sf,
git rev, Spark, Python, and perfbench's host-load probes as context),
so a run from another host, scale or revision is told apart; nothing
is gated on them.  perfbench does not run the monitors, so this file is
their only performance receipt.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.append(os.path.join(_REPO, "perfbench"))

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

#: monitor name -> (runner kwargs-free closure, documented state bound)
#: filled in main() once the runners are imported.
STATE_BOUNDS = {
    "drift": "O(days x types) rows per batch partial (census grain)",
    "distinct_hll": "<= 256 register rows per batch partial",
    "quantile": "O(log2 max_cents) bucket rows per batch partial (~40)",
    "heavy_hitters": "<= (summary_k+1) x NSALT survivor rows per batch",
}


def _dir_stats(spark, path: str) -> dict:
    """Rows + bytes of a monitor's accumulated state directory."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    try:
        rows = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(path)
            .count()
        )
    except Exception:
        rows = None
    return {"state_rows": rows, "state_bytes": total}


def main() -> None:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from bench import stamps
    from harness import probes
    from terraform_aws_lambda_kinesis_to_s3_spark.session import get_spark
    from terraform_aws_lambda_kinesis_to_s3_spark.streaming.drift import (
        run_type_drift_monitor,
    )
    from terraform_aws_lambda_kinesis_to_s3_spark.streaming.heavyhitters import (
        run_heavyhitter_monitor,
    )
    from terraform_aws_lambda_kinesis_to_s3_spark.streaming.quantiles import (
        run_quantile_monitor,
    )
    from terraform_aws_lambda_kinesis_to_s3_spark.streaming.sketches import (
        run_distinct_monitor,
    )

    spark = get_spark(app_name="streaming_micro_bench")
    work = tempfile.mkdtemp(prefix="stream_bench_")
    src = os.path.join(work, "src")

    # one JSON file per micro-batch, round-robin over event_id so every
    # batch sees the full key/type mix (the steady-state shape, not a
    # time-ordered backfill)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_rows = ev.count()
    ev.repartition(n_batches, "event_id").write.mode("overwrite").json(src)
    # exactly n_batches part files; feed one per trigger
    parts = [f for f in os.listdir(src) if f.startswith("part-")]

    def stream():
        return (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )

    runners = {
        "drift": lambda state, ckpt, metrics: run_type_drift_monitor(
            stream(), state, ckpt, metrics=metrics
        ),
        "distinct_hll": lambda state, ckpt, metrics: run_distinct_monitor(
            stream(), state, ckpt, metrics=metrics
        ),
        "quantile": lambda state, ckpt, metrics: run_quantile_monitor(
            stream(), state, ckpt, metrics=metrics
        ),
        "heavy_hitters": lambda state, ckpt, metrics: run_heavyhitter_monitor(
            stream(), state, ckpt, metrics=metrics
        ),
    }

    out: dict[str, dict] = {}
    for name, runner in runners.items():
        state = os.path.join(work, name, "state")
        ckpt = os.path.join(work, name, "ckpt")
        metrics: list = []
        spark.sparkContext.setJobDescription(f"stream-bench: {name}")
        t0 = time.perf_counter()
        q = runner(state, ckpt, metrics)
        q.awaitTermination(600)
        wall = round(time.perf_counter() - t0, 3)
        per_batch = [
            {
                "batch_id": p["batchId"],
                "rows": p["numInputRows"],
                "batch_ms": p["batchDuration"],
            }
            for p in q.recentProgress
            if p.get("numInputRows", 0) > 0
        ]
        entry = {
            "wall_sec": wall,
            "n_batches": len(per_batch),
            "rows_in": n_rows,
            "per_batch": per_batch,
            "state_bound": STATE_BOUNDS[name],
            "last_metric": metrics[-1] if metrics else None,
            **_dir_stats(spark, state),
        }
        out[name] = entry
        spark.sparkContext.setJobDescription(None)

    result = {
        "sf": sf_dir,
        "n_batches_requested": n_batches,
        "n_source_files": len(parts),
        "rows_in": n_rows,
        "monitors": out,
        "stamps": stamps(spark, sf_dir, probes(spark)),
    }
    path = os.path.join(_REPO, "STREAMING_BENCH.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    summary = {
        name: {
            "wall_sec": e["wall_sec"],
            "state_rows": e["state_rows"],
            "state_bytes": e["state_bytes"],
        }
        for name, e in out.items()
    }
    print(json.dumps(summary))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
