"""backfill_mixed: a closed loop of ``job.run_batch`` over seeded
Lambda-event files (40% plain, 20% gzip, 20% CloudWatch, 20% KPL x10;
5% invalid records; 30 days x 8 Zipf-skewed log types).

Decode and the sink take most of the time here, so this is where a
change to either must show.  The traced run times each layer as a prefix ladder: a
noop-sink action on the plan that ends at each public function, a
layer's self time being its prefix time minus the previous one.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

from harness import Bench, Outcome, MemorySampler, Tracer, median, setup, shutdown_jvm
import traffic

RECORDS = 60_000
FILES = 16
SIZE = f"{RECORDS} records"
#: per-layer metrics of layers this workload does not run (they read 0)
BYPASSED = (
    "loadgen.late_p90_ms",
    "stream.",
    "dedup_state.",
    "metrics.",
    "operators.",
    "plans.",
    "registry.",
)
#: records in each single-encoding decode slice (traced run)
SLICE_RECORDS = 5_000


def _cfg():
    from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig

    return PipelineConfig(unknown_date=traffic.UNKNOWN_DATE)


def _run_batch(bench: Bench, src: str, out: str) -> float:
    from terraform_aws_lambda_kinesis_to_s3_spark.job import run_batch

    t0 = time.perf_counter()
    run_batch(bench.spark, src, out, _cfg(), input_format="kinesis-event")
    return time.perf_counter() - t0


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _ladder(spark, src: str):
    """(layer, DataFrame) prefixes of the batch job, in dataflow order."""
    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import decode_records
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import route_records
    from terraform_aws_lambda_kinesis_to_s3_spark.sources.records import kinesis_event_to_df

    events = kinesis_event_to_df(spark.read.format("text").load(src), "value")
    decoded = decode_records(events)
    routed = route_records(decoded, _cfg())
    return [("sources.event_parse_s", events), ("decoders.decode_s", decoded), ("envelope.route_s", routed)]


def output_stats(out: str) -> tuple[int, int, int]:
    """(data files, compressed bytes, partition directories) under a
    hive-layout sink root."""
    files = size = 0
    dirs = set()
    for d, _, names in os.walk(out):
        for n in names:
            if n.endswith(".gz"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
                dirs.add(d)
    return files, size, len(dirs)


def check(bench: Bench, out: str, manifest: traffic.Manifest) -> int:
    """Records missing, duplicated or misrouted in ``out``, read back
    through ``sinks.read_routed``."""
    from terraform_aws_lambda_kinesis_to_s3_spark.sinks import read_routed

    pdf = read_routed(bench.spark, out).select("log_type", "ym", "dd", "payload").toPandas()
    rows = zip(pdf["log_type"], pdf["ym"], pdf["dd"].map(lambda d: f"{int(d):02d}"), pdf["payload"])
    return traffic.partition_mismatches(manifest.parts, rows)


def run(bench: Bench, seed: int, seconds: float, trace: bool) -> Outcome:
    t0 = time.perf_counter()
    src = bench.fresh_dir("backfill", "events")
    manifest = traffic.write_lambda_events(src, seed, RECORDS, FILES)
    manifest.write(bench.path("backfill", "manifest.json"))
    generate_s = time.perf_counter() - t0
    bench.log(f"generated {RECORDS} records")
    # a session's first job spawns the Python workers and compiles the
    # plan; later jobs reuse both, and get faster for a few more as the
    # JIT compiles their hot code (a traced run's closed-loop job is its
    # second).
    warm_jobs = 1 if trace else 3
    setup_s, start_s = setup(
        bench,
        lambda: [_run_batch(bench, src, bench.path("backfill", f"warm-{i}")) for i in range(warm_jobs)],
    )

    bench.log(f"set up in {setup_s:.1f} s")
    walls: list[float] = []
    cpus: list[float] = []
    jits: list[float] = []
    heaps: list[float] = []
    outs: list[str] = []
    group = "backfill"
    with MemorySampler() as rss, bench.host_steal(), bench.job_group(group):
        # a traced run spends its seconds on the ladder instead.  A run
        # takes at least 3 jobs whatever the host's speed, so the median
        # never rests on fewer.
        deadline = time.perf_counter() + (0 if trace else seconds)
        while len(walls) < (1 if trace else 3) or time.perf_counter() < deadline:
            out = bench.path("backfill", f"out-{len(walls)}")
            cpu, jit = bench.engine_cpu_s(), bench.jit_cpu_s()
            walls.append(_run_batch(bench, src, out))
            cpus.append(bench.engine_cpu_s() - cpu)
            jits.append(bench.jit_cpu_s() - jit)
            outs.append(out)
            heaps.append(bench.live_heap_mb())
    bench.log(
        f"{len(walls)} jobs, wall/cpu s: " + " ".join(f"{w:.2f}/{c:.1f}" for w, c in zip(walls, cpus))
    )
    failed = check(bench, outs[-1], manifest)
    bench.log(f"checked: {failed} records failed")
    files, size, parts = output_stats(outs[-1])
    wall = median(walls)
    outcome = Outcome(
        attempted=RECORDS,
        failed=failed,
        metrics={
            "setup_s": setup_s,
            "cpu_us_per_record": median(cpus) / RECORDS * 1e6,
            "peak_rss_mb": rss.peak_mb,
            "live_heap_mb": median(heaps),
            "output_files": files,
        },
    )
    if trace:
        receipt = bench.stage_receipt(group)
        outcome.layers = {
            "session.start_s": start_s,
            "loadgen.generate_s": generate_s,
            "pipeline.records_per_s": RECORDS / wall,
            "sink.output_files": files,
            "sink.output_bytes": size,
            "sink.files_per_partition": files / parts,
            "exec.cpu_s": receipt["cpu_s"] / len(walls),
            "exec.gc_s": receipt["gc_s"] / len(walls),
            "exec.jit_cpu_s": median(jits),
            **traced_layers(bench, src, seconds),
        }
    return outcome


def traced_layers(bench: Bench, src: str, seconds: float) -> dict:
    """The prefix ladder, per-encoding decode rates, Python-boundary row
    counts, the sink's shuffle receipt and, last, the 1-core leg."""
    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import decode_records
    from terraform_aws_lambda_kinesis_to_s3_spark.sinks import write_routed
    from terraform_aws_lambda_kinesis_to_s3_spark.sources.records import kinesis_event_to_df

    spark = bench.spark
    tracer = Tracer(f"backfill-{os.getpid()}")
    rows: dict[str, int] = {}
    untraced: list[float] = []
    deadline = time.perf_counter() + seconds
    repeats = 0
    while repeats < 1 or time.perf_counter() < deadline:
        i = repeats = repeats + 1
        with tracer.span("round"):
            ladder = _ladder(spark, src)
            for name, df in ladder:
                with tracer.span(name):
                    _noop(df)
            routed = ladder[-1][1].persist()
            routed.count()
            with tracer.span("sink.write_s"), bench.job_group("backfill.sink"):
                write_routed(routed, bench.path("backfill", f"sink-{i}"), _cfg())
            routed.unpersist()
            before = bench.last_execution_id()
            with tracer.span("job"), bench.job_group("backfill.traced"):
                _run_batch(bench, src, bench.path("backfill", f"traced-{i}"))
            for udf, n in bench.python_rows(before).items():
                rows[udf] = rows.get(udf, 0) + n
            untraced.append(_run_batch(bench, src, bench.path("backfill", f"plain-{i}")))
    tracer.write(bench.results_path(f"spans-backfill-{os.getpid()}.json"))
    bench.log(f"ladder: {repeats} rounds")

    def med(name: str) -> float:
        return median([s["end"] - s["start"] for s in tracer.spans if s["name"] == name])

    prefix = [med(name) for name, _ in ladder]
    layers = {
        name: t - p for (name, _), t, p in zip(ladder, prefix, [0.0] + prefix[:-1])
    }
    layers["sink.write_s"] = med("sink.write_s")
    job = med("job")
    # the part of the traced job the layers' self times leave unexplained
    # (pipelining across layers makes it negative)
    layers["trace.residual_frac"] = (job - prefix[-1] - layers["sink.write_s"]) / job
    layers["trace.overhead_frac"] = job / median(untraced) - 1
    layers["decoders.python_rows"] = (
        rows.get("kpl_deaggregate", 0) + rows.get("gunzip_to_text", 0)
    ) / repeats
    layers["timestamps.python_rows"] = rows.get("parse_dateutil", 0) / repeats
    sink = bench.stage_receipt("backfill.sink")
    layers["sink.shuffle_write_bytes"] = sink["shuffle_write_bytes"] / repeats

    for enc in traffic.ENCODINGS:
        d = bench.fresh_dir("backfill", f"slice-{enc}")
        traffic.write_lambda_events(d, 0, SLICE_RECORDS, 4, encodings=(enc,))
        df = decode_records(kinesis_event_to_df(spark.read.format("text").load(d), "value"))
        _noop(df)  # plan and page-cache warmup
        layers[f"decoders.{enc}_rps"] = SLICE_RECORDS / _noop(df)

    bench.log("decode slices")
    # the same job on an eighth of the records, spread over as many
    # files (scan tasks) as the full input, at local[nproc] and then at
    # local[1] in a JVM of its own: efficiency = rate_n / (n * rate_1)
    part = bench.fresh_dir("backfill", "part")
    traffic.write_lambda_events(part, 0, RECORDS // 8, FILES)
    _run_batch(bench, part, bench.path("backfill", "part-warm"))
    many = _run_batch(bench, part, bench.path("backfill", "part-n"))
    leg = subprocess.run(
        [sys.executable, os.path.abspath(__file__), part, bench.fresh_dir("backfill", "one")],
        capture_output=True,
        text=True,
        timeout=90,
        check=True,
    )
    one = float(leg.stdout.split()[-1])
    layers["session.parallel_efficiency"] = one / (bench.cores * many)
    bench.log("1-core leg")
    return layers


def one_core_leg(part: str, work: str) -> None:
    """Print the seconds of one ``run_batch`` over ``part`` at
    ``local[1]``, after one untimed one.  The timed job is its JVM's
    second, so the JIT is less warm than in the ``local[nproc]`` leg's
    session, which reads the efficiency slightly high; a second untimed
    job would cost another 8 s on one core."""
    bench = Bench(work, work)
    bench.start_session(1)
    try:
        _run_batch(bench, part, bench.path("warm"))
        print(_run_batch(bench, part, bench.path("timed")))
    finally:
        bench.stop_session()
        shutdown_jvm()


if __name__ == "__main__":
    one_core_leg(*sys.argv[1:3])
