#!/usr/bin/env python
"""Core-scaling receipt at a compute-bound scale factor (r11 verdict
item 1): the committed evidence that the optimized plans actually
PARALLELIZE with cores at a size where compute dominates scheduling.

The r11 sweep showed 8-vs-32-core ratios near 1.0 for several entries
at sf0.1 — a scale-factor limitation of the receipt (sf0.1 entries are
sub-second and stage-latency-bound on local[32], ~26 ms/stage), not
proof the operators are serial.  This tool re-times a fixed entry set
at the 10x replica (tools/scale_data.py output) under
SPARK_GRAFT_CPUS=8 and =32 — cores AND shuffle partitions both follow
the env var, exactly like the driver's own low-core window — and
writes the per-query ratio table to CORE_SCALING_SF1.json/.md next to
PLAN_COSTS_SF1.

Both inner runs self-certify via bench.py's calibration admission; a
refused window lands in CORE_SCALING_SF1_rejected.json, never the
committed artifact.

Run:  python tools/core_scaling.py [sf1_dir] [names_csv]
      (defaults: /tmp/spark_graft_scale/sf1, the r11-verdict top set)
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the r11 verdict's named set (its item-1 list plus the three entries
#: the r11 driver window still showed >=1.5 s) — the round's slowest
#: optimized plans, where a serial bottleneck would matter most.
DEFAULT_NAMES = [
    "graph_triangle_parts",
    "graph_triangle_degree_ordered",
    "graph_triangle_parts_capped",
    "graph_adamic_adar",
    "aa_cap_eval",
    "ab_fdr_bh",
    "hash_dim_fidelity_sweep",
    "dedup_span_removal",
    "multimodal_meta_audit",
    "column_profile_orders",
    "distinct_aggs",
]


#: wait before the second try of a refused leg; it doubles before the third
RETRY_WAIT_S = 60


#: JVM heap for the sf1 legs.  The first receipt attempt ran both legs
#: in the session default 16 g and the 32-core window was REFUSED at
#: jvm_calib 0.40 s (2.7x the ceiling) with several ratios INVERTED
#: (8c beating 32c — graph_triangle_parts 51 s at 32c vs 24.5 s at 8c,
#: distinct_aggs 5.95 vs 2.67): 32 concurrent sf1-sized hash/sort
#: buffers in one 16 g JVM are GC-bound, so the measurement answered
#: "is 16 g enough for 32 tasks at sf1" (no) instead of "do the plans
#: parallelize with cores".  64 g removes the heap as the binding
#: constraint on this 128 GiB host; the value is recorded in the
#: artifact and overridable via SPARK_DRIVER_MEMORY.
SF1_DRIVER_MEMORY = os.environ.get("SPARK_DRIVER_MEMORY", "64g")


#: shuffle partitions are HELD FIXED across both legs (default 32, the
#: main harness value) so the core count is the ONLY variable.  The
#: session default ties partitions to SPARK_GRAFT_CPUS, which at sf1
#:  conflates two effects: the quarter/full co-occurrence edge builds
#: dedup duplicated pairs in the map-side partial of their distinct,
#: and FEWER/larger partitions dedup far more before the exchange —
#: measured solo on graph_triangle_parts at 32 cores/sf1: the pair
#: shuffle writes 598 MB at 8 partitions vs 1561 MB at 32, and the
#: read-side stage burns 3230 executor-s (211 s GC) vs 118 — so a
#: partitions-follow-cores A/B reads as ANTI-scaling (ratio 0.39-0.48
#: in two windows) when the plans parallelize fine at constant
#: partitioning.  Fixing the partition count isolates the question the
#: receipt answers: do the optimized plans parallelize with CORES.
SF1_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")


def run_bench(names: list[str], sf_dir: str, cpus: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=SF1_DRIVER_MEMORY,
        SPARK_GRAFT_SHUFFLE_PARTITIONS=SF1_SHUFFLE_PARTITIONS,
    )
    r = subprocess.run(
        [sys.executable, os.path.join(_REPO, "bench.py"), "--only",
         ",".join(names)],
        capture_output=True, text=True, cwd=_REPO, env=env,
    )
    summary = None
    for line in reversed(r.stdout.strip().splitlines()):
        if line.startswith('{"metric"'):
            summary = json.loads(line)
            break
    if summary is None:
        sys.stderr.write(r.stdout[-2000:] + "\n" + r.stderr[-2000:] + "\n")
        raise SystemExit(f"no summary line from the cpus={cpus} bench run")
    if summary.get("full_map"):
        full = json.load(open(summary["full_map"]))
        summary["queries"] = full["queries"]
        summary["calibration_admission"] = full.get("calibration_admission")
    return summary


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_scale/sf1"
    names = (
        [n.strip() for n in sys.argv[2].split(",") if n.strip()]
        if len(sys.argv) > 2
        else DEFAULT_NAMES
    )
    runs = {}
    for cpus in (32, 8):
        # the admission probes are a point measurement of host noise at
        # session start; this co-tenant host hovers around the 0.15
        # jvm ceiling, so re-trying a refused leg in a hopefully
        # quieter window is exactly what the admission gate asks for
        # (the probe gates the window, it never looks at the results);
        # the wait grows between tries, since a busy window on a shared
        # host tends to last longer than one leg
        for attempt in range(3):
            if attempt:
                time.sleep(RETRY_WAIT_S * 2 ** (attempt - 1))
            print(f"== bench --only ({len(names)} entries) at {sf_dir}, "
                  f"SPARK_GRAFT_CPUS={cpus} (attempt {attempt + 1}) ==")
            runs[cpus] = run_bench(names, sf_dir, cpus)
            adm = runs[cpus].get("calibration_admission") or {}
            if adm.get("admitted", runs[cpus].get("calibration_admitted")):
                break
            print(f"   refused: {adm.get('reasons')}")

    queries = {}
    for q in names:
        hi = runs[32]["queries"].get(q)
        lo = runs[8]["queries"].get(q)
        if hi is None or lo is None:
            continue
        queries[q] = {
            "sec_32c": hi,
            "sec_8c": lo,
            "ratio_8c_over_32c": round(lo / hi, 2) if hi else None,
        }
    ratios = [
        v["ratio_8c_over_32c"] for v in queries.values()
        if v["ratio_8c_over_32c"] is not None
    ]
    out = {
        "metric": "core_scaling_sf1",
        "sf_dir": sf_dir,
        "ideal_ratio": 4.0,
        "n_queries": len(queries),
        "total_sec_32c": round(
            sum(v["sec_32c"] for v in queries.values()), 3),
        "total_sec_8c": round(
            sum(v["sec_8c"] for v in queries.values()), 3),
        "median_ratio": statistics.median(ratios) if ratios else None,
        "harness": ("bench.py --only; master local[N] follows "
                    "SPARK_GRAFT_CPUS; shuffle partitions HELD at "
                    f"{SF1_SHUFFLE_PARTITIONS} in BOTH legs so cores "
                    "are the only variable (see SF1_SHUFFLE_PARTITIONS "
                    "note); min-of-REPEATS per entry; JVM heap "
                    f"{SF1_DRIVER_MEMORY} (see SF1_DRIVER_MEMORY note)"),
        "driver_memory": SF1_DRIVER_MEMORY,
        "shuffle_partitions": SF1_SHUFFLE_PARTITIONS,
        "queries": queries,
        "calibration_admission": {
            str(c): runs[c].get("calibration_admission")
            or {"admitted": bool(runs[c].get("calibration_admitted"))}
            for c in (32, 8)
        },
    }
    admitted = all(
        out["calibration_admission"][str(c)].get("admitted")
        for c in (32, 8)
    )
    name = "CORE_SCALING_SF1" + ("" if admitted else "_rejected")
    path = os.path.join(_REPO, f"{name}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    if admitted:
        lines = [
            "# Core scaling at sf1 (10x replica) — 8 vs 32 cores",
            "",
            "r11 verdict item 1: at sf0.1 several entries read 8-vs-32-core",
            "ratios near 1.0 because sub-second plans are stage-latency-bound",
            "on local[32]; this table re-measures at the 10x replica where",
            "compute dominates.  Ideal ratio at 4x the cores is 4.0; ratios",
            "well above 1 show the plan parallelizes, ratios near 1 get a",
            "per-entry explanation in OPTIMIZATION_r12.md.",
            "",
            "| query | 32-core s | 8-core s | ratio (8c/32c) |",
            "|---|---|---|---|",
        ]
        for q, v in sorted(
            queries.items(),
            key=lambda kv: -(kv[1]["ratio_8c_over_32c"] or 0.0),
        ):
            lines.append(
                f"| {q} | {v['sec_32c']} | {v['sec_8c']} | "
                f"{v['ratio_8c_over_32c']} |"
            )
        lines += [
            "",
            f"Totals: {out['total_sec_32c']} s at 32c vs "
            f"{out['total_sec_8c']} s at 8c "
            f"(median per-query ratio {out['median_ratio']}).",
            "",
            "Both windows calibration-admitted (probes in the JSON).",
        ]
        with open(os.path.join(_REPO, "CORE_SCALING_SF1.md"), "w") as f:
            f.write("\n".join(lines) + "\n")
    print(f"wrote {path}; median ratio "
          f"{out['median_ratio']} (ideal 4.0), admitted={admitted}")
    if not admitted:
        raise SystemExit(2)


if __name__ == "__main__":
    main()
