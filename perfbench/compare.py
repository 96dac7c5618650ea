"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds result lines as ``run.py`` appends them to
``.perfbench_work/results/results.jsonl`` (stamps plus result).  Results
whose stamps differ in anything but the seed and the source revision
are refused: numbers taken on another core count, input size, Spark or
Python are not comparable.  For every end-to-end metric the script
prints each side's median and quartiles and whether the change is worse
than the parent by more than the metric's bound.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

#: stamps that may differ between the two sides
FREE = {"seed", "rev", "cpu_probe_s", "jvm_probe_s", "steal_frac", "invalid"}


def load(path: str) -> list[dict]:
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r for r in rows if "stamps" in r and "metrics" in r and r["stamps"]["trace"] == 0]


def env(row: dict) -> dict:
    return {k: v for k, v in row["stamps"].items() if k not in FREE}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, change = (load(p) for p in argv)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as f:
        spec = json.load(f)
    envs = {json.dumps(env(r), sort_keys=True) for r in base + change}
    by_workload: dict[str, set] = {}
    for e in envs:
        by_workload.setdefault(json.loads(e)["workload"], set()).add(e)
    clash = {w: sorted(es) for w, es in by_workload.items() if len(es) > 1}
    if clash:
        print(f"refused: stamps differ within a workload: {json.dumps(clash, indent=1)}", file=sys.stderr)
        return 2
    worse = 0
    for workload in sorted(by_workload):
        for m in spec["end_to_end"]:
            sides = []
            for rows in (base, change):
                vals = [
                    r["metrics"][m["name"]]["value"]
                    for r in rows
                    if r["stamps"]["workload"] == workload and r["correct"]
                ]
                sides.append(vals)
            if min(len(v) for v in sides) < 2:
                print(f"{workload:15s} {m['name']:16s} too few correct runs: {[len(v) for v in sides]}")
                continue
            (bq1, bmed, bq3), (cq1, cmed, cq3) = (statistics.quantiles(v, n=4) for v in sides)
            rel = (cmed - bmed) / bmed
            regressed = rel > m["bound"] if m["better"] == "lower" else -rel > m["bound"]
            worse += regressed
            print(
                f"{workload:15s} {m['name']:16s} base {bmed:.4g} [{bq1:.4g}, {bq3:.4g}]  "
                f"change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}]  {rel:+.1%} "
                f"(bound {m['bound']:.0%}){'  WORSE' if regressed else ''}"
            )
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
