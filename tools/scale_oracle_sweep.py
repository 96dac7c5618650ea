#!/usr/bin/env python
"""Full-registry cross-engine sweep at a scale replica (sf1 = 10x the
driver's largest committed correctness point): run every registry
query on Spark AND its DuckDB oracle at the given sf_dir, compare the
two frames by the oracle gate's rule (``tests/test_oracle.py::_compare``:
column names, dtype kinds, row count, canonicalized values), and write
a JSON artifact.

This is a CORRECTNESS receipt, not a timing one — host load does not
affect it, so it records no host-load probes.  It extends the
correctness ladder sf0.01 (driver, per-round) -> sf0.1 (r10 builder
sweep, 309/309) by another order of magnitude.

Two departures from ``tests/test_oracle.py`` (the sf0.01 gate):

* a per-oracle wall budget (default 600 s), enforced by ending the
  oracle's subprocess (below) — a DuckDB oracle
  whose FORMULATION cannot scale records ``oracle_budget_exceeded``
  (an honest skip, visible in the artifact) instead of wedging the
  whole sweep;
* the two full triangle oracles run a LIST-INTERSECT formulation at
  scale (``SCALE_ORACLE_OVERRIDES``) instead of the registry's
  wedge-materializing SQL.  The registry oracle materializes the
  wedge set because at the driver's sf0.01 that is the simplest
  independent check; at sf1 it needs ~1e8 wedge rows of join state,
  and the first sweep attempt OOMed DuckDB beside the 48 g JVM.  The
  override mirrors operators/graph.py's adjacency-intersection idea
  in SHAPE only — it is an independent DuckDB implementation
  (SQL-built oriented edge list + ``list_intersect``), so the
  cross-engine check stays two separate computations.

Every oracle runs in its OWN spawned subprocess with an explicit
DuckDB ``memory_limit`` (default 48 GB, ``--duck-mem``).  Isolation
is the load-bearing part: DuckDB's memory_limit does NOT bound every
operator (mrl_truncation_eval's sf1 cross join blew through a 48 GB
cap to 118 GB), and when the oracle shared the sweep process the OOM
killer took the whole sweep — twice, the first time losing 71
finished comparisons.  In a child, the kernel kills the child
(exitcode -9), the parent records an honest ``oracle_error``, and
the sweep continues.  The wall budget is enforced the same way
(terminate the child), and the artifact is rewritten atomically
after EVERY query with ``--resume`` skipping names already recorded:
a crash of any kind costs one query, not the sweep.

Run:  python tools/scale_oracle_sweep.py [sf_dir] [--out FILE]
      [--budget SEC] [--only name,name] [--duck-mem 48GB] [--resume]
(defaults: /tmp/spark_graft_scale/sf1, SCALE_ORACLE_SF1.json, 600)
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from terraform_aws_lambda_kinesis_to_s3_spark.sources.tables import TABLES  # noqa: E402
from tests.test_oracle import _compare  # noqa: E402

#: Scale-path oracle replacements, keyed by registry name.  Each must
#: compute the SAME result schema as the registry oracle it replaces —
#: the comparison below treats it exactly like any other oracle.
_TRI_COMMON = """
WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS p FROM lineitem),
e AS (SELECT DISTINCT a.p AS src, c.p AS dst
      FROM b a JOIN b c ON a.g = c.g AND a.p < c.p),
d AS (SELECT node, COUNT(*) AS deg
      FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
      GROUP BY 1),
o AS (SELECT CASE WHEN (sa.deg, e.src) < (sb.deg, e.dst)
                  THEN e.src ELSE e.dst END AS lo,
             CASE WHEN (sa.deg, e.src) < (sb.deg, e.dst)
                  THEN e.dst ELSE e.src END AS hi
      FROM e JOIN d sa ON sa.node = e.src JOIN d sb ON sb.node = e.dst),
adj AS (SELECT lo, list(hi ORDER BY hi) AS nbrs FROM o GROUP BY lo),
tri AS (SELECT CAST(COALESCE(SUM(
           COALESCE(len(list_intersect(a1.nbrs, a2.nbrs)), 0)), 0) AS BIGINT)
           AS n_triangles
        FROM o JOIN adj a1 ON a1.lo = o.lo
               LEFT JOIN adj a2 ON a2.lo = o.hi)
"""

SCALE_ORACLE_OVERRIDES: dict[str, str] = {
    # id-ordered wedge statistic (src<dst orientation), count via the
    # oriented adjacency intersection
    "graph_triangle_parts": _TRI_COMMON
    + """
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(COALESCE(SUM(od * idg), 0) AS BIGINT) FROM
          (SELECT src AS node, COUNT(*) AS od FROM e GROUP BY 1) a
          JOIN
          (SELECT dst AS node, COUNT(*) AS idg FROM e GROUP BY 1) c
          USING (node)) AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles
""",
    # degree-ordered wedge statistic Sum C(outdeg, 2) over the
    # oriented list, same intersection count
    "graph_triangle_degree_ordered": _TRI_COMMON
    + """
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(COALESCE(SUM(od * (od - 1) / 2), 0) AS BIGINT) FROM
          (SELECT lo, COUNT(*) AS od FROM o GROUP BY 1) s) AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles
""",
}


def _oracle_child(sf: str, sql: str, duck_mem: str, out_path: str) -> None:
    """Subprocess body: own DuckDB connection, own views, result (or a
    caught DuckDB error) pickled to ``out_path``.  If the kernel kills
    this process instead, the parent sees the exitcode."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute(f"SET memory_limit='{duck_mem}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    try:
        df = con.execute(sql).df()
    except duckdb.Error as e:
        pd.to_pickle({"err": f"{type(e).__name__}: {str(e)[:120]}"}, out_path)
        return
    pd.to_pickle({"df": df}, out_path)


def run_oracle(sf: str, sql: str, budget: float, duck_mem: str):
    """Run one oracle in a spawned subprocess with a wall budget.
    Returns (df, None) or (None, status_str)."""
    import multiprocessing as mp
    import tempfile

    import pandas as pd

    fd, path = tempfile.mkstemp(suffix=".pkl")
    os.close(fd)
    try:
        # spawn, not fork: the parent carries a JVM gateway and Spark
        # state a forked child must not inherit
        p = mp.get_context("spawn").Process(
            target=_oracle_child, args=(sf, sql, duck_mem, path)
        )
        p.start()
        p.join(budget)
        if p.is_alive():
            p.terminate()
            p.join(30)
            if p.is_alive():
                p.kill()
                p.join()
            return None, "oracle_budget_exceeded"
        if p.exitcode != 0:
            return None, (
                f"oracle_error: child exit {p.exitcode}"
                + (" (oom-killed)" if p.exitcode == -9 else "")
            )
        res = pd.read_pickle(path)
        if "err" in res:
            return None, f"oracle_error: {res['err']}"
        return res["df"], None
    finally:
        with contextlib.suppress(OSError):
            os.unlink(path)


def main() -> int:
    import __spark_entry__ as m
    from terraform_aws_lambda_kinesis_to_s3_spark.session import get_spark

    args = sys.argv[1:]
    sf = args[0] if args and not args[0].startswith("--") else (
        "/tmp/spark_graft_scale/sf1"
    )
    out = "SCALE_ORACLE_SF1.json"
    budget = 600.0
    duck_mem = "48GB"
    only: list[str] | None = None
    if "--out" in args:
        out = args[args.index("--out") + 1]
    if "--budget" in args:
        budget = float(args[args.index("--budget") + 1])
    if "--only" in args:
        only = args[args.index("--only") + 1].split(",")
    if "--duck-mem" in args:
        duck_mem = args[args.index("--duck-mem") + 1]

    spark = get_spark(app_name="scale_oracle_sweep")
    qs, osql = m.queries(), m.oracle_sql()
    names = [n for n in qs if only is None or n in only]
    per: dict[str, dict] = {}
    if "--resume" in args and os.path.exists(out):
        with open(out) as f:
            per = json.load(f).get("per_query", {})
        skipped = [n for n in names if n in per]
        names = [n for n in names if n not in per]
        print(f"resume: {len(skipped)} names already recorded in {out}, "
              f"{len(names)} to run", flush=True)
    t_sweep = time.time()

    def write_artifact() -> dict:
        by = lambda st: sorted(  # noqa: E731
            n for n, r in per.items() if r.get("status") == st
        )
        artifact = {
            "sf": sf,
            "budget_sec": budget,
            "duck_mem": duck_mem,
            "n_queries": len(per),
            "n_match": len(by("match")),
            "mismatch": by("mismatch"),
            "oracle_budget_exceeded": by("oracle_budget_exceeded"),
            "oracle_error": by("oracle_error") + sorted(
                n for n, r in per.items()
                if str(r.get("status", "")).startswith("oracle_error:")
            ),
            "spark_error": by("spark_error"),
            "scale_overrides_used": sorted(
                n for n in per if per[n].get("oracle") == "scale_override"
            ),
            "wall_sec": round(time.time() - t_sweep, 1),
            "per_query": per,
        }
        tmp = out + ".tmp"
        with open(tmp, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        os.replace(tmp, out)
        return artifact

    for i, name in enumerate(names):
        rec: dict = {}
        t0 = time.time()
        try:
            s = qs[name](spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001
            rec = {"status": "spark_error",
                   "detail": f"{type(e).__name__}: {str(e)[:120]}"}
            per[name] = rec
            write_artifact()
            print(f"[{i+1}/{len(names)}] {name}: SPARK ERROR", flush=True)
            continue
        rec["sec_spark"] = round(time.time() - t0, 2)
        rec["rows"] = len(s)
        sql = SCALE_ORACLE_OVERRIDES.get(name, osql[name])
        if name in SCALE_ORACLE_OVERRIDES:
            rec["oracle"] = "scale_override"
        t0 = time.time()
        d, status = run_oracle(sf, sql, budget, duck_mem)
        rec["sec_oracle"] = round(time.time() - t0, 2)
        if status is not None:
            rec["status"] = status
        else:
            try:
                _compare(name, s, d)
                rec["status"] = "match"
            except AssertionError as e:
                rec.update(status="mismatch", detail=str(e))
        per[name] = rec
        write_artifact()
        print(f"[{i+1}/{len(names)}] {name}: {rec['status'].upper()} "
              f"({rec.get('rows', '?')} rows, spark {rec.get('sec_spark')}s, "
              f"oracle {rec.get('sec_oracle')}s)", flush=True)
        del s

    artifact = write_artifact()
    bad = artifact["mismatch"] + artifact["spark_error"]
    print(f"\n{len(per)} queries: {artifact['n_match']} match, "
          f"{len(artifact['mismatch'])} mismatch, "
          f"{len(artifact['oracle_budget_exceeded'])} over budget, "
          f"{len(artifact['spark_error'])} spark errors -> {out}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
