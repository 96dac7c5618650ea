#!/usr/bin/env python
"""Check the driver contract (``__spark_entry__.py``) end to end: run
entry(), then every queries() entry, in registry order, against its
oracle_sql() in DuckDB at sf0.01, comparing row count, schema (column
names) and canonicalized values.  Also checks that README's registry
count and EXPLAINS.md's plan sections track ``len(REGISTRY)``.

Exit 0 = everything matches. Use before committing registry changes:
    python tools/verify_contract.py [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from terraform_aws_lambda_kinesis_to_s3_spark.sources.tables import TABLES  # noqa: E402


# single source of truth: the pytest oracle gate's canonicalization
from tests.test_oracle import canonicalize as canon  # noqa: E402


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def check_prose_counts() -> list[str]:
    """Prose count assertions must track the registry automatically —
    README states the registry size in two places; drift between prose
    and ``len(REGISTRY)`` is a doc bug this check makes impossible to
    ship."""
    import re

    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    readme = open(os.path.join(repo, "README.md")).read()
    problems = []
    stated = {int(x) for x in re.findall(r"(\d+) registry queries", readme)}
    stated |= {
        int(x) for x in re.findall(r"registry \((\d+) queries", readme)
    }
    for s in stated:
        if s != len(REGISTRY):
            problems.append(
                f"README says {s} registry queries; len(REGISTRY) == "
                f"{len(REGISTRY)}"
            )
    if not stated:
        problems.append("README no longer states the registry count")
    return problems


def check_explains_count() -> list[str]:
    """EXPLAINS.md must carry one plan section per registry query —
    the file lagged the registry in r4 AND r5 despite 'can never lag
    again' claims, so the invariant is now machine-checked (r5 verdict
    item 6).  Regenerate with tools/gen_explains.py after any registry
    change."""
    import re

    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "EXPLAINS.md")
    if not os.path.exists(path):
        return ["EXPLAINS.md missing"]
    shown = set(re.findall(r"^## (\S+)$", open(path).read(), re.MULTILINE))
    missing = sorted(set(REGISTRY) - shown)
    stale = sorted(shown - set(REGISTRY))
    problems = []
    if missing:
        problems.append(
            f"EXPLAINS.md lags the registry by {len(missing)} plans: "
            f"{missing[:5]}{'...' if len(missing) > 5 else ''} — run "
            "tools/gen_explains.py"
        )
    if stale:
        problems.append(f"EXPLAINS.md has non-registry sections: {stale[:5]}")
    return problems


def main() -> int:
    import duckdb

    import __spark_entry__ as m
    from terraform_aws_lambda_kinesis_to_s3_spark.session import get_spark

    prose_problems = check_prose_counts() + check_explains_count()
    for p in prose_problems:
        print(f"PROSE DRIFT: {p}")

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="verify_contract")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    n = len(m.entry(spark).collect())
    print(f"entry: {n} rows {'OK' if n > 0 else 'EMPTY (FAIL)'}")
    failures = [] if n > 0 else ["entry"]

    qs, osql = m.queries(), m.oracle_sql()
    for name, fn in qs.items():
        try:
            s = fn(spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:100]}")
            failures.append(name)
            continue
        if name not in osql:
            ok = len(s) > 0
            print(f"  {name}: rows-only, {len(s)} rows {'' if ok else '(EMPTY: FAIL)'}")
            if not ok:
                failures.append(name)
            continue
        d = con.execute(osql[name]).df()
        a, b = canon(s), canon(d)
        ok = list(a.columns) == list(b.columns) and len(a) == len(b)
        if ok:
            for c in a.columns:
                if not all(values_equal(x, y) for x, y in zip(a[c], b[c])):
                    ok = False
                    break
        print(f"  {name}: {'MATCH' if ok else 'MISMATCH'} ({len(s)} rows)")
        if not ok:
            failures.append(name)

    failures.extend(prose_problems)
    print(f"\n{len(qs)} queries, {len(failures)} failures: {failures or 'NONE'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
