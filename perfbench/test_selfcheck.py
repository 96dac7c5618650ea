"""Small-size self-check of the benchmark: every metric named in
``BENCHMARK.json`` is emitted, and a dropped or duplicated record is
counted as failed.

    python3 -m pytest perfbench/test_selfcheck.py -q

Each end-to-end case runs the benchmark in its own process with its own
Spark JVM, so the file takes several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import traffic  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_partition_mismatches_counts_each_bad_record():
    m = traffic.Manifest()
    rows = []
    for i in range(20):
        payload = f'{{"log_id":"{i}"}}'
        route, day = ("svc1", "2024-01-02") if i % 2 else (traffic.UNKNOWN, traffic.UNKNOWN_DATE)
        m.add(payload, route, day)
        rows.append((route, day[:7], day[8:], payload))
    assert traffic.partition_mismatches(m.parts, rows) == 0
    assert traffic.partition_mismatches(m.parts, rows[1:]) == 1
    assert traffic.partition_mismatches(m.parts, rows + rows[:1]) == 1
    moved = [("svc1", "2024-01", "02", rows[0][3])] + rows[1:]
    assert traffic.partition_mismatches(m.parts, moved) == 2


#: one benchmark run at small sizes, in a fresh process: the package's
#: module-level UDFs keep a handle on the first JVM a process starts.
#: argv: workload, trace, fault ("", "drop" or "duplicate")
SMALL_RUN = """
import sys
sys.path[:0] = [{here!r}, {root!r}]
import backfill, run, stream
backfill.RECORDS, backfill.FILES, backfill.SLICE_RECORDS = 3_000, 4, 1_000
stream.PER_FILE, stream.PERIOD_S, stream.WARM_FILES = 200, 1.0, 1
workload, trace, fault = sys.argv[1:4]
if fault:
    from terraform_aws_lambda_kinesis_to_s3_spark import sinks
    real = sinks.read_routed

    def faulty(spark, path, cfg=None):
        df = real(spark, path, cfg)
        one = df.limit(1)
        return df.exceptAll(one) if fault == "drop" else df.unionByName(one)

    sinks.read_routed = faulty
sys.exit(run.main(["--workload", workload, "--seed", "7", "--seconds", "3", "--trace", trace]))
""".format(here=HERE, root=os.path.dirname(HERE))


def _run(workload: str, trace: int, fault: str = "") -> dict:
    done = subprocess.run(
        [sys.executable, "-c", SMALL_RUN, workload, str(trace), fault],
        cwd=os.path.dirname(HERE),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
    assert list(out["metrics"]) == names
    for name in names:
        assert isinstance(out["metrics"][name]["value"], (int, float)), name
    if not trace:
        assert all(out["metrics"][n]["value"] > 0 for n in names)


@pytest.mark.parametrize("fault", ["drop", "duplicate"])
def test_one_bad_record_fails_the_run(fault):
    out = _run("backfill_mixed", 0, fault)
    assert out["failed"] == 1 and not out["correct"]
