"""stream_live: an open loop into ``streaming.job.run_stream``.

One generator thread moves a pre-built payload file into the source
directory every ``PERIOD_S`` seconds, on schedule whatever the job is
doing.  A file holds event times in two days over 8 log types (few
partitions per batch) and about 3% replays of a record sent one or two
files earlier, which the job's replay dedup must drop.  The job bypasses decode, so this
workload exposes what decode-heavy work hides: the fixed cost of each
micro-batch, the dedup state store and the sink commit.

Freshness of a record is the time from when its file was due at the
generator to the commit of the micro-batch holding it, read from the checkpoint's
``sources/`` and ``commits/`` logs.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import threading
import time

from harness import Bench, Outcome, MemorySampler, median, quantile, setup
import traffic

#: a file every PERIOD_S seconds holding PER_FILE records: fixed so that
#: the job is busy about half the time or a little more at the
#: benchmark's first commit (a data batch of 1-1.3 s and the no-data
#: batch that follows it), leaving room before it saturates
PERIOD_S = 3.0
PER_FILE = 1000
#: files fed before the measured window; the query's first batches
#: plan and compile
WARM_FILES = 2
#: how long the job may take to drain the last file
DRAIN_S = 60.0
SIZE = f"{PER_FILE // PERIOD_S:g} records/s"
#: per-layer metrics of layers this workload does not run (they read 0):
#: the payload files bypass decode, and the prefix ladder and 1-core leg
#: are batch-only.  The traced run adds the registry leg
#: (``registry.py``) once the stream has stopped.
BYPASSED = (
    "trace.residual_frac",
    "session.parallel_efficiency",
    "sources.",
    "decoders.decode_s",
    "decoders.plain_rps",
    "decoders.gzip_rps",
    "decoders.cloudwatch_rps",
    "decoders.kpl_rps",
    "envelope.",
    "sink.write_s",
)


def _cfg():
    from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig

    # batch_size/100 files per trigger: take every file that has arrived
    return PipelineConfig(unknown_date=traffic.UNKNOWN_DATE, batch_size=100_000)


def _start(bench: Bench, src: str, out: str, ckpt: str, available_now: bool):
    from terraform_aws_lambda_kinesis_to_s3_spark.streaming.job import run_stream, stream_source

    cfg = _cfg()
    return run_stream(
        stream_source(bench.spark, cfg, "file", src), out, ckpt, cfg, available_now=available_now
    )


def _listener():
    from terraform_aws_lambda_kinesis_to_s3_spark.streaming.metrics import RouteMetricsListener

    class QueryRouteMetrics(RouteMetricsListener):
        """Route counters of one query only (warmup queries share the bus)."""

        query_id: str | None = None

        def onQueryProgress(self, event) -> None:  # noqa: N802
            if str(event.progress.id) == self.query_id:
                super().onQueryProgress(event)

    return QueryRouteMetrics()


def batch_of_file(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id.  The file-source log (including
    compacted ``N.compact`` files) gives each file the source's own log
    offset; the query's ``offsets/`` log gives each micro-batch the
    source offset it read up to."""
    source: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                source[os.path.basename(entry["path"])] = entry["batchId"]
    ends = []
    for path in glob.glob(os.path.join(ckpt, "offsets", "[0-9]*")):
        with open(path) as f:
            # "v1", the batch metadata, then one offset line per source
            ends.append((json.loads(f.read().splitlines()[2])["logOffset"], int(os.path.basename(path))))
    ends.sort()
    out = {}
    for name, offset in source.items():
        i = bisect.bisect_left(ends, (offset, -1))
        if i < len(ends):
            out[name] = ends[i][1]
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Micro-batch id -> wall-clock time its commit log entry was written."""
    return {
        int(os.path.basename(p)): os.path.getmtime(p)
        for p in glob.glob(os.path.join(ckpt, "commits", "[0-9]*"))
    }


def _feed(stage: str, src: str, n: int, t0: float, late: list[float]) -> None:
    for i in range(n):
        due = t0 + i * PERIOD_S
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"f{i:05d}.txt"
        os.rename(os.path.join(stage, name), os.path.join(src, name))
        late.append(time.time() - due)


def run(bench: Bench, seed: int, seconds: float, trace: bool) -> Outcome:
    n_files = WARM_FILES + max(1, round(seconds / PERIOD_S))
    t_gen = time.perf_counter()
    files, manifest = traffic.stream_files(seed, n_files, PER_FILE)
    stage = bench.fresh_dir("stream", "stage")
    manifest.write(bench.path("stream", "manifest.json"))
    for i, body in enumerate(files):
        with open(os.path.join(stage, f"f{i:05d}.txt"), "w") as f:
            f.write(body)
    warm_body = "".join(traffic.stream_files(seed + 1, 2, 200)[0])
    generate_s = time.perf_counter() - t_gen

    def warmup() -> None:
        d = bench.fresh_dir("stream", "warm")
        os.makedirs(os.path.join(d, "src"))
        with open(os.path.join(d, "src", "w.txt"), "w") as f:
            f.write(warm_body)
        q = _start(bench, os.path.join(d, "src"), os.path.join(d, "out"), os.path.join(d, "ck"), True)
        q.awaitTermination(120)

    setup_s, start_s = setup(bench, warmup)
    bench.log(f"set up in {setup_s:.1f} s")

    spark = bench.spark
    src = bench.fresh_dir("stream", "src")
    out, ckpt = bench.path("stream", "out"), bench.path("stream", "ck")
    listener = _listener()
    spark.streams.addListener(listener)
    before = bench.last_execution_id()
    q = _start(bench, src, out, ckpt, False)
    listener.query_id = str(q.id)
    late: list[float] = []
    with MemorySampler() as rss, bench.host_steal():
        t0 = time.time() + PERIOD_S
        feeder = threading.Thread(target=_feed, args=(stage, src, n_files, t0, late), name="loadgen")
        feeder.start()
        # CPU is counted from the first measured file's due time until
        # the job has drained: batches and the polling between them
        time.sleep(max(0.0, t0 + WARM_FILES * PERIOD_S - time.time()))
        cpu, jit = bench.engine_cpu_s(), bench.jit_cpu_s()
        feeder.join()
        deadline = time.time() + DRAIN_S
        while time.time() < deadline:
            done = sum(p["numInputRows"] for p in q.recentProgress)
            if done >= manifest.n_in:
                break
            time.sleep(0.05)
        cpu = bench.engine_cpu_s() - cpu
        jit = bench.jit_cpu_s() - jit
        # before the query stops and its state stores are unloaded
        live_heap = bench.live_heap_mb()
    every = q.recentProgress
    progress = [p for p in every if p["numInputRows"] > 0]
    q.stop()
    # micro-batch jobs run under the query's run id as their job group
    receipt = bench.stage_receipt(str(q.runId))
    spark.streams.removeListener(listener)

    batches = batch_of_file(ckpt)
    commits = commit_times(ckpt)
    fresh: list[float] = []
    window_batches = set()
    for i in range(WARM_FILES, n_files):
        b = batches.get(f"f{i:05d}.txt")
        if b is None or b not in commits:
            continue  # never committed: counted as missing by the check
        window_batches.add(b)
        # every record of the file shares its due time and its commit
        fresh.extend([commits[b] - (t0 + i * PERIOD_S)] * PER_FILE)

    from backfill import check

    failed = check(bench, out, manifest)
    # listener events arrive asynchronously; the last may still be queued
    deadline = time.time() + 30
    while listener.totals()["n_in"] < manifest.n_in and time.time() < deadline:
        time.sleep(0.1)
    totals = listener.totals()
    failed += (
        abs(totals["n_in"] - manifest.n_in)
        + abs(totals["n_valid"] - manifest.n_valid)
        + abs(totals["n_unknown"] - manifest.n_unknown)
    )
    window = [p for p in progress if p["batchId"] in window_batches]
    durations = [p["durationMs"]["triggerExecution"] / 1e3 for p in window]
    bench.log("data batches: " + " ".join(f"{d:.2f}" for d in durations))
    from backfill import output_stats

    files_n, size, parts = output_stats(out)
    outcome = Outcome(
        attempted=manifest.n_in,
        failed=failed,
        metrics={
            "setup_s": setup_s,
            "cpu_us_per_record": cpu / ((n_files - WARM_FILES) * PER_FILE) * 1e6,
            "peak_rss_mb": rss.peak_mb,
            "live_heap_mb": live_heap,
            "output_files": files_n,
        },
    )
    bench.log(
        f"freshness p50 {quantile(fresh, 0.5):.2f} s, p90 {quantile(fresh, 0.9):.2f} s; "
        f"cpu {cpu:.1f} s; {files_n} files"
    )
    # a late generator makes the run invalid rather than slow
    late_p90 = quantile(late, 0.9)
    if late_p90 > PERIOD_S / 4:
        outcome.invalid = f"load generator ran late: p90 {late_p90:.3f} s"
    if trace:
        # no-data batches (watermark and state eviction) also hold the job
        lo, hi = min(window_batches), max(window_batches) + 1
        busy_ms = sum(
            p["durationMs"]["triggerExecution"] for p in every if lo <= p["batchId"] <= hi
        )
        outcome.layers = traced_layers(bench, window, progress, before, totals)
        outcome.layers["stream.busy_frac"] = busy_ms / 1e3 / (len(window_batches) * PERIOD_S)
        outcome.layers.update(
            {
                "session.start_s": start_s,
                "loadgen.generate_s": generate_s,
                "loadgen.late_p90_ms": late_p90 * 1e3,
                "stream.freshness_samples": len(fresh),
                "stream.freshness_p50_s": quantile(fresh, 0.5),
                "stream.freshness_p90_s": quantile(fresh, 0.9),
                "pipeline.records_per_s": sum(p["numInputRows"] for p in window)
                / max(sum(durations), 1e-9),
                "sink.output_files": files_n,
                "sink.output_bytes": size,
                "sink.files_per_partition": files_n / parts,
                # nothing is traced inside the window: progress, logs and
                # receipts are read after the query stops
                "trace.overhead_frac": 0.0,
                "sink.shuffle_write_bytes": receipt["shuffle_write_bytes"],
                "exec.cpu_s": receipt["cpu_s"],
                "exec.gc_s": receipt["gc_s"],
                "exec.jit_cpu_s": jit,
            }
        )
        import registry

        layers, bad_entries = registry.run(bench, seed)
        outcome.layers.update(layers)
        outcome.attempted += len(registry.ENTRIES)
        outcome.failed += bad_entries
        bench.log("registry leg")
    return outcome


def traced_layers(bench: Bench, window, progress, before: int, totals) -> dict:
    """Per-batch phases, dedup state and observe counters, from the
    query's own ``StreamingQueryProgress`` and the status store."""

    def p50(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in window])

    ms = [p["durationMs"]["triggerExecution"] for p in window]
    state = [p["stateOperators"][0] for p in window]
    rows = bench.python_rows(before)
    last = progress[-1]["stateOperators"][0]
    return {
        "stream.batches": len(window),
        "stream.rows_per_batch_p50": median([p["numInputRows"] for p in window]),
        "stream.batch_ms_p50": median(ms),
        "stream.batch_ms_p90": quantile(ms, 0.9),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.query_planning_ms_p50": p50("queryPlanning"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.commit_offsets_ms_p50": p50("commitOffsets"),
        "stream.latest_offset_ms_p50": p50("latestOffset"),
        "dedup_state.rows": last["numRowsTotal"],
        "dedup_state.memory_mb": last["memoryUsedBytes"] / 2**20,
        "dedup_state.commit_ms_p50": median([s["commitTimeMs"] for s in state]),
        "dedup_state.dropped_rows": sum(
            p["stateOperators"][0]["customMetrics"].get("numDroppedDuplicateRows", 0)
            for p in progress
        ),
        "metrics.n_in": totals["n_in"],
        "metrics.n_valid": totals["n_valid"],
        "metrics.n_unknown": totals["n_unknown"],
        "decoders.python_rows": rows.get("kpl_deaggregate", 0) + rows.get("gunzip_to_text", 0),
        "timestamps.python_rows": rows.get("parse_dateutil", 0),
    }
