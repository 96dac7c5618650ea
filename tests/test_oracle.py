"""Local mirror of the driver's duckdb-oracle correctness gate.

For every query in the registry (each must carry oracle SQL): run the
Spark query and the DuckDB SQL at sf0.01, canonicalize (column-name
sort, row sort, float rounding) and compare values. This is
intentionally stricter than a smoke test — it is the same bar the
driver's correctness gate applies.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY

SF = "/root/testdata/sf0.01"


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            # decimal.Decimal / bytes → normalize to str/float
            df[c] = df[c].map(_norm_obj)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith(("datetime", "dbdate")):
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _norm_obj(v):
    import decimal

    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, (list, tuple)):
        return str(list(v))
    return v


def _dtype_kind(s: pd.Series) -> str:
    """Post-canonicalization dtype kind, with object columns re-inferred
    (Decimal→float normalization leaves dtype=object).  Mirrors the
    driver's dtype-sensitive frame hashing: an int64 Spark column vs a
    float64 DuckDB column (HUGEINT SUM) must FAIL here, exactly like the
    r2 driver red row on q12 (uncast SUM(CASE...))."""
    inferred = s.infer_objects()
    k = inferred.dtype.kind
    return {"u": "i"}.get(k, k)


def _compare(name, spark_pdf, duck_pdf):
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: columns differ: {list(a.columns)} vs {list(b.columns)}"
    )
    for c in a.columns:
        ka, kb = _dtype_kind(a[c]), _dtype_kind(b[c])
        assert ka == kb, (
            f"{name}: col {c}: dtype kind {ka} (spark) != {kb} (oracle) — "
            f"driver hash would mismatch; CAST the oracle SQL"
        )
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9), (
                    f"{name}: row {i} col {c}: {x!r} != {y!r}"
                )
            else:
                assert x == y or (x is None and y is None) or (
                    pd.isna(x) and pd.isna(y)
                ), f"{name}: row {i} col {c}: {x!r} != {y!r}"


def test_dtype_parity_catches_uncast_sum():
    """The gate must go red on the exact failure mode that slipped to
    the driver in r2 (q12): Spark int64 vs oracle float64 (DuckDB
    HUGEINT SUM → pandas float) with identical values."""
    a = pd.DataFrame({"k": ["x", "y"], "n": pd.array([1, 2], dtype="int64")})
    b = pd.DataFrame({"k": ["x", "y"], "n": [1.0, 2.0]})
    with pytest.raises(AssertionError, match="dtype kind"):
        _compare("uncast_sum_fixture", a, b)


#: entries whose result may legitimately be empty at sf0.01 (sparse
#: near-duplicate pairs); every other entry must return rows — the
#: driver requires stable schema + rows, and an empty result is a weak
#: check
WEAK_OK = {"dedup_minhash_lsh", "dedup_ngram_jaccard"}

ORACLE_CASES = [(n, fn, sql) for n, (fn, sql) in REGISTRY.items()]


@pytest.mark.parametrize("name,fn,sql", ORACLE_CASES, ids=[c[0] for c in ORACLE_CASES])
def test_oracle_match(spark, duck, name, fn, sql):
    assert sql is not None, f"{name}: no oracle SQL"
    spark_pdf = fn(spark, SF).toPandas()
    assert len(spark_pdf) > 0 or name in WEAK_OK, f"{name} returned 0 rows"
    duck_pdf = duck.execute(sql).df()
    _compare(name, spark_pdf, duck_pdf)
