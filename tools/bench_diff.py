#!/usr/bin/env python
"""Diff two BENCH_FULL.json sweeps and flag per-query regressions.

Usage:
    python tools/bench_diff.py OLD.json BENCH_FULL.json \
        [--threshold 1.5] [--min-sec 0.5]

Prints entries whose time grew by more than ``threshold``× AND whose
new time exceeds ``min-sec`` (sub-second jitter on a throttled host is
not a regression: the same sweep varies 2-3× with load). Exit 1 if any
flagged.  Exit 2, naming the reason, when either sweep lacks a stamp in
``STAMPS`` or the two differ in one: timings taken on another core
count or input size are not comparable.
"""

from __future__ import annotations

import argparse
import json
import sys


_REPO = __import__("os").path.dirname(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__))
)

#: stamps (bench.py's ``stamps`` block) two sweeps must share
STAMPS = ("nproc", "cores", "sf")


def stamp_mismatch(old: dict, new: dict) -> str | None:
    """Why sweeps ``old`` and ``new`` cannot be compared, or None."""
    for side, sweep in (("old", old), ("new", new)):
        missing = [k for k in STAMPS if k not in sweep.get("stamps", {})]
        if missing:
            return f"{side} sweep has no {', '.join(missing)} stamp"
    differ = [
        f"{k} {old['stamps'][k]!r} != {new['stamps'][k]!r}"
        for k in STAMPS
        if old["stamps"][k] != new["stamps"][k]
    ]
    return f"stamps differ: {'; '.join(differ)}" if differ else None


def _cache_builders(flagged: list[str]) -> list[str]:
    """For every shared cache touched by a flagged query, the FIRST
    consumer in sweep (HEADLINE) order — the query the full sweep
    charges the shared build to.  Running it ahead of the flagged
    consumer makes solo-vs-sweep an apples-to-apples cache-warm
    compare.  (If the flagged query IS the first consumer it pays the
    build in both runs — consistent, nothing added.)

    The cache inventory is queries.SHARED_STAGE_CACHES — one registry,
    no tool-local copy to drift.  Consumption is detected by a
    ``helper(`` call-pattern scan of each registry callable's source:
    a docstring MENTION of a helper no longer counts, but a consumer
    reaching a cache through an intermediate module-level helper is
    still invisible to the scan (all current consumers call the cache
    helpers directly; keep it that way or extend the scan)."""
    import inspect
    import re as _re

    sys.path.insert(0, _REPO)
    from bench import HEADLINE
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        REGISTRY,
        SHARED_STAGE_CACHES,
    )

    helpers = tuple(SHARED_STAGE_CACHES)
    pats = {h: _re.compile(_re.escape(h) + r"\s*\(") for h in helpers}
    touch: dict[str, set[str]] = {}
    for name in HEADLINE:
        entry = REGISTRY.get(name)
        if entry is None:
            continue
        try:
            src = inspect.getsource(entry[0])
        except (OSError, TypeError):
            continue
        hit = {h for h in helpers if pats[h].search(src)}
        if hit:
            touch[name] = hit
    builders: list[str] = []
    for helper in helpers:
        if not any(helper in touch.get(n, ()) for n in flagged):
            continue
        order = [n for n in HEADLINE if helper in touch.get(n, ())]
        if order and order[0] not in flagged and order[0] not in builders:
            builders.append(order[0])
    return builders


def _solo_recheck(names: list[str]) -> dict[str, float]:
    """Re-run the flagged names in ONE fresh `bench.py --only` process
    and return its COMPLETE per-query map (read from the
    BENCH_FULL_partial.json sidecar the run writes — the stdout
    summary line truncates to the top-10 slowest, which would leave
    some flagged names without a solo reading whenever >10 entries are
    flagged or --only substring matching pulls in extras).  An
    in-sweep spike that reads normal solo is host noise, not a plan
    regression — this automates the receipt the r7 noise analysis
    produced by hand."""
    import os
    import subprocess

    builders = _cache_builders(names)
    if builders:
        print(f"  (including shared-stage builders in the solo run: "
              f"{builders})")
    # min-of-5, not the sweep default min-of-2: the r10 triage measured
    # a min-of-2 solo reading 2.7x old on an untouched plan that
    # min-of-5 in the same window read 1.6x (inside the control band) —
    # a short solo process has too few runs for the min to shed its own
    # first-touch and scheduling outliers
    env = dict(os.environ, SPARK_GRAFT_BENCH_REPEATS="5")
    r = subprocess.run(
        [sys.executable, os.path.join(_REPO, "bench.py"), "--only",
         ",".join(builders + names)],
        capture_output=True,
        text=True,
        cwd=_REPO,
        env=env,
    )
    for line in reversed(r.stdout.strip().splitlines()):
        if line.startswith('{"metric"'):
            summary = json.loads(line)
            sidecar = summary.get("full_map")
            if sidecar:
                with open(os.path.join(_REPO, sidecar)) as f:
                    return json.load(f)["queries"]
            return summary["queries"]
    raise SystemExit(
        f"--recheck: bench.py produced no summary line\n{r.stdout[-2000:]}"
        f"\n{r.stderr[-2000:]}"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument("--min-sec", type=float, default=0.5)
    ap.add_argument(
        "--recheck",
        action="store_true",
        help="re-run flagged entries solo (one bench.py --only process); "
        "a flag is DEMOTED to host noise if its solo time is back under "
        "the threshold vs old — exit 1 only for flags that reproduce",
    )
    args = ap.parse_args()
    with open(args.old) as f:
        old = json.load(f)
    with open(args.new) as f:
        new = json.load(f)
    reason = stamp_mismatch(old, new)
    if reason:
        print(f"refused: {reason}", file=sys.stderr)
        return 2
    old, new = old["queries"], new["queries"]

    flagged = []
    for name, t_new in sorted(new.items()):
        t_old = old.get(name)
        if t_old is None:
            print(f"  new entry: {name} {t_new:.2f}s")
            continue
        if t_new > args.min_sec and t_new > args.threshold * t_old:
            flagged.append((name, t_old, t_new))
    gone = sorted(set(old) - set(new))
    for name in gone:
        print(f"  removed entry: {name}")
    if flagged:
        print(f"\n{len(flagged)} regressions (> {args.threshold}x, "
              f"> {args.min_sec}s):")
        for name, t_old, t_new in sorted(flagged, key=lambda x: -x[2] / x[1]):
            print(f"  {name}: {t_old:.2f}s -> {t_new:.2f}s "
                  f"({t_new / t_old:.1f}x)")
        if args.recheck:
            solo = _solo_recheck([n for n, _, _ in flagged])
            real = []
            print("\nsolo recheck (fresh bench.py --only process):")
            for name, t_old, t_new in flagged:
                t_solo = solo.get(name)
                if t_solo is None:
                    print(f"  {name}: no solo reading — keeping the flag")
                    real.append(name)
                    continue
                noise = not (
                    t_solo > args.min_sec
                    and t_solo > args.threshold * t_old
                )
                verdict = "host noise (demoted)" if noise else "REPRODUCES"
                print(f"  {name}: solo {t_solo:.2f}s vs old {t_old:.2f}s "
                      f"— {verdict}")
                if not noise:
                    real.append(name)
            if not real:
                print("all flags demoted to host noise")
                return 0
            print(f"{len(real)} flags reproduce solo: {real}")
        return 1
    print("no regressions flagged")
    return 0


if __name__ == "__main__":
    sys.exit(main())
