#!/usr/bin/env python
"""Partition-invariance audit: every registry query's VALUES must not
depend on the partition layout.

The oracle gate proves semantics at ONE fixed configuration
(local[32], 32 shuffle partitions, AQE on).  A 1000-executor cluster
has a different partition count and different AQE decisions — a query
whose result depends on partitioning (collect_list order reaching the
output, first()/any_value() without a window order, LIMIT without
ORDER BY feeding a computation, monotonically_increasing_id leaking
into values) passes that gate and silently returns different answers
at scale.  This tool runs each query twice in one session — the
baseline config, then shuffle.partitions=7 with AQE off — and
compares the two result frames by the oracle gate's rule
(``tests/test_oracle.py::_compare``), so 'equal' here is the bar the
gate applies.

Run:  python tools/partition_invariance.py [sf_dir] [--only substr,..]
      (--exact: treat the --only list as exact names, not substrings,
       so a short name like q1 cannot over-select q10..q19)
Exit: 1 if any query's canonical values differ between configs.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from tests.test_oracle import _compare  # noqa: E402

#: the alternate layout: a partition count that divides NOTHING the
#: baseline's 32 does, and AQE off so runtime coalescing can't mask a
#: layout dependence the static plan has
ALT = {"spark.sql.shuffle.partitions": "7", "spark.sql.adaptive.enabled": "false"}
BASE = {"spark.sql.shuffle.partitions": "32", "spark.sql.adaptive.enabled": "true"}


def varies(name: str, base, alt) -> str | None:
    """Why ``alt`` differs from ``base`` under the oracle gate's rule
    (a run's error text when either pass failed), or None when they
    agree."""
    if isinstance(base, str) or isinstance(alt, str):
        return f"base={base} alt7/noAQE={alt}"
    try:
        _compare(name, base, alt)
    except AssertionError as e:
        return str(e)
    return None


def main() -> int:
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        REGISTRY,
        clear_shared_stages,
    )
    from terraform_aws_lambda_kinesis_to_s3_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
    if "--exact" in sys.argv:
        names = [n for n in REGISTRY if n in set(only or [])]
    else:
        names = [
            n for n in REGISTRY if only is None or any(p in n for p in only)
        ]
    spark = get_spark(app_name="partition_invariance")

    def run_all(conf: dict) -> dict:
        for k, v in conf.items():
            spark.conf.set(k, v)
        # shared persisted stages were built under SOME layout; clear
        # them between configs so each pass pays (and tests) its own
        clear_shared_stages()
        out = {}
        for name in names:
            try:
                out[name] = REGISTRY[name][0](spark, sf).toPandas()
            except Exception as e:  # noqa: BLE001
                out[name] = f"ERROR:{type(e).__name__}"
        return out

    base = run_all(BASE)
    alt = run_all(ALT)
    why = {n: varies(n, base[n], alt[n]) for n in names}
    diffs = sorted(n for n in names if why[n] is not None)
    for n in diffs:
        print(f"  VARIES: {n}  {why[n]}")
    print(
        f"{len(names)} queries, {len(diffs)} partition-dependent: "
        f"{diffs or 'NONE'}"
    )
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
