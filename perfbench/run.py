"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill_mixed --seed 1 --seconds 16 --trace 0

Run from the repository root.  Builds the workload's inputs from the
seed inside ``.perfbench_work/``, runs it through the package's public
entry points at ``local[nproc]``, checks every output against an
independent reference and prints one JSON line last: ``correct``,
``attempted``, ``failed`` and the metrics of ``BENCHMARK.json``
(``end_to_end`` with ``--trace 0``, ``per_layer`` with ``--trace 1``).
The line before it carries the run's stamps; both are also appended to
``.perfbench_work/results/results.jsonl`` for ``compare.py``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _stamps(args, size: str, spark_version: str) -> dict:
    from harness import nproc

    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip()
    except OSError:
        rev = ""
    if not rev:
        # not a git checkout: name the source by its content
        h = hashlib.sha1()
        pkg = os.path.join(ROOT, "terraform_aws_lambda_kinesis_to_s3_spark")
        for d, _, names in sorted(os.walk(pkg)):
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(d, n), "rb") as f:
                        h.update(f.read())
        rev = "src-" + h.hexdigest()[:12]
    return {
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "seed": args.seed,
        "nproc": nproc(),
        "size": size,
        "rev": rev,
        "spark": spark_version,
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}

    sys.path.insert(0, ROOT)
    # Python workers import the package by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import terraform_aws_lambda_kinesis_to_s3_spark  # noqa: F401  (fails without the package)
    import pyspark

    import backfill
    import stream
    from harness import Bench, shutdown_jvm

    workloads = {"backfill_mixed": backfill, "stream_live": stream}
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    module = workloads[args.workload]

    work = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # the JVMs would otherwise keep their perf counters in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    bench = Bench(work, results)
    try:
        outcome = module.run(bench, args.seed, args.seconds, bool(args.trace))
    finally:
        bench.stop_session()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    values = outcome.layers if args.trace else outcome.metrics
    if args.trace:
        # a layer the workload bypasses did no work there: it reads 0
        values = {n: 0 for n in units if n.startswith(module.BYPASSED)} | values
    missing = [name for name in units if name not in values]
    if missing:
        raise SystemExit(f"workload {args.workload} did not measure {missing}")
    stamps = {**_stamps(args, module.SIZE, pyspark.__version__), **bench.probes}
    if outcome.invalid:
        stamps["invalid"] = outcome.invalid
    result = {
        "correct": outcome.failed == 0 and outcome.invalid is None,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {name: {"value": values[name], "unit": units[name]} for name in units},
    }
    with open(os.path.join(results, "results.jsonl"), "a") as f:
        f.write(json.dumps({"stamps": stamps, **result}) + "\n")
    print(json.dumps({"stamps": stamps}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
