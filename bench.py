#!/usr/bin/env python
"""Registry sweep: run every registry query but EXCLUDED at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), on the package's
session (``local[SPARK_GRAFT_CPUS]``, else one task slot per core).

    python bench.py [--only name,substring,...]

Each entry is materialized through the noop sink (full compute, no
driver-side collect skew) REPEATS times back to back, after every
table has been warm-read.  The artifact keeps the warm time (min of
the runs), the cold first run, and a receipt of the cold run from the
in-process status store: executor CPU, GC, tasks and shuffle write
bytes (``perfbench/harness.py``'s ``Bench.stage_receipt``).  It is
stamped with nproc, session cores, sf, git rev, Spark and Python, plus
host-load probes and the CPU steal share as context; nothing is gated
on them.  ``tools/bench_diff.py`` refuses to compare sweeps whose
stamps differ.

The full map goes to BENCH_FULL.json (BENCH_FULL_partial.json with
--only); stdout gets ONE summary line of at most 2000 chars.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "perfbench"))

import harness  # noqa: E402
from terraform_aws_lambda_kinesis_to_s3_spark import cachereg  # noqa: E402
from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (  # noqa: E402
    REGISTRY,
    clear_shared_stages,
)
from terraform_aws_lambda_kinesis_to_s3_spark.session import get_spark  # noqa: E402
from terraform_aws_lambda_kinesis_to_s3_spark.sources.tables import TABLES  # noqa: E402

#: Per-entry timing = min over this many back-to-back runs (env
#: SPARK_GRAFT_BENCH_REPEATS, default 2).  Single-shot timings conflate
#: first-touch reads and host scheduling jitter with plan cost; the
#: min reports the warm number (what a cluster with cached footers
#: pays), and the first run is kept as ``cold_first_run``.
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))

#: Registry queries deliberately NOT benched, each with the reason —
#: the "no silent caps" rule applied to the bench sweep itself.
EXCLUDED = {
    "dedup_ngram_jaccard": (
        "exact all-pairs n-gram Jaccard — quadratic on the synthetic "
        "corpus by design; its scale path (dedup_minhash_lsh) is the "
        "benched entry"
    ),
    "minhash_eval_recall": (
        "eval harness that materializes the exact all-pairs truth to "
        "score LSH recall (45 s at sf0.1); the production LSH path it "
        "validates is benched"
    ),
}

#: The sweep, in registry order (the order ``queries()`` returns).
HEADLINE = [n for n in REGISTRY if n not in EXCLUDED]


def select_only(pats: "list[str]") -> "list[str]":
    """--only selection: substring-match against HEADLINE, PLUS any
    pattern that IS a registry name even when it also substring-matches
    a different headline entry (an exact request like
    graph_triangle_parts must not be shadowed by
    graph_triangle_parts_capped)."""
    selected = [n for n in HEADLINE if any(p in n for p in pats)]
    selected += [p for p in pats if p in REGISTRY and p not in selected]
    return selected


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sweep(bench: harness.Bench, names: list[str], sf_dir: str) -> dict:
    """Warm every table, then time each of ``names`` on ``bench.spark``:
    REPEATS runs, the first under a job group whose stage receipt is
    read right after the entry (the status store keeps only recent
    jobs).  Returns the per-entry maps and the stamps."""
    spark = bench.spark
    t0 = time.perf_counter()
    # Warmup, not counted (mirrors a warm cluster): JVM codegen paths,
    # the Python worker pool, and every table's parquet footers and page
    # cache, so no timed entry absorbs a first-touch read.
    for t in TABLES:
        _noop(spark.read.parquet(f"{sf_dir}/{t}.parquet"))
    _noop(REGISTRY["pipeline_route"][0](spark, sf_dir))
    # ...but no shared stage stays warm: a build materialized here would
    # be charged to no entry, not even its first consumer's cold run.
    clear_shared_stages()
    warmup_s = time.perf_counter() - t0
    bench.probes = harness.probes(spark)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    receipts: dict[str, dict] = {}
    with bench.host_steal():
        for name in names:
            fn, _ = REGISTRY[name]
            runs = []
            for i in range(REPEATS):
                group = bench.job_group(name) if i == 0 else contextlib.nullcontext()
                with group:
                    t0 = time.perf_counter()
                    _noop(fn(spark, sf_dir))
                    runs.append(time.perf_counter() - t0)
            receipts[name] = {
                k: round(v, 3) for k, v in bench.stage_receipt(name).items()
            }
            timings[name] = round(min(runs), 3)
            cold[name] = round(runs[0], 3)
            # release query-local persists outside the timed region, so
            # per-call caches do not pile up over the sweep
            cachereg.release_all()

    return {
        "queries": timings,
        "cold_first_run": cold,
        "receipts": receipts,
        "warmup_s": round(warmup_s, 3),
        "stamps": stamps(spark, sf_dir, bench.probes),
    }


def stamps(spark, sf_dir: str, probes: dict) -> dict:
    """What a bench artifact is compared on: nproc, session cores, sf,
    git rev, Spark and Python, with the host-load ``probes`` as
    context."""
    return {
        "nproc": harness.nproc(),
        "cores": spark.sparkContext.defaultParallelism,
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "rev": _rev(),
        "spark": spark.version,
        "python": platform.python_version(),
        **{k: round(v, 4) for k, v in probes.items()},
    }


def _rev() -> str:
    """HEAD's commit, suffixed ``-dirty`` when the tree has changes."""
    try:
        return subprocess.run(
            ["git", "describe", "--always", "--dirty", "--abbrev=40"],
            cwd=ROOT, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
    except OSError:
        return ""


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names (or substrings) — bench just "
        "these instead of the full headline set",
    )
    args = ap.parse_args()
    names = HEADLINE
    if args.only:
        names = select_only([p.strip() for p in args.only.split(",") if p.strip()])
        if not names:
            raise SystemExit(f"--only {args.only!r} matched no queries")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    bench = harness.Bench(ROOT, ROOT)
    bench.spark = get_spark(app_name="bench")
    try:
        result = sweep(bench, names, sf_dir)
    finally:
        # stop the JVM explicitly: a lingering non-daemon py4j thread
        # has kept the process alive minutes past completion
        bench.stop_session()

    total = round(sum(result["queries"].values()), 3)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf_dir,
        "n_queries": len(result["queries"]),
        "repeats": REPEATS,
        **result,
    }
    # a --only partial must not clobber the full-sweep map bench_diff reads
    sidecar = bench.results_path(
        "BENCH_FULL_partial.json" if args.only else "BENCH_FULL.json"
    )
    try:
        with open(sidecar, "w") as f:
            json.dump(full, f, separators=(",", ":"))
    except OSError:
        sidecar = None
    slowest = dict(
        sorted(result["queries"].items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    summary = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf_dir,
        "n_queries": full["n_queries"],
        "full_map": sidecar,
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 2000:
        # never fail a completed sweep over line length: the sidecar has
        # every entry
        summary["queries"] = {}
        line = json.dumps(summary, separators=(",", ":"))
    print(line, flush=True)


if __name__ == "__main__":
    main()
