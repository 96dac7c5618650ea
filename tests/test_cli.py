"""CLI / job-API tests: batch backfill in both input formats."""

from __future__ import annotations

import base64
import glob
import gzip
import json
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool(name: str):
    """``tools/<name>.py`` loaded by path, as a script is run."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(name, os.path.join(_REPO, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_cli_batch_payload_and_kinesis_event(spark, tmp_path):
    from terraform_aws_lambda_kinesis_to_s3_spark.__main__ import main

    src = tmp_path / "in"
    src.mkdir()
    (src / "p.jsonl").write_text(
        json.dumps({"log_type": "a", "log_id": "1", "time": "2024-01-02T03:00:00Z"})
        + "\n"
    )
    out = str(tmp_path / "out")
    assert main(["batch", "--input", str(src), "--output", out]) == 0
    files = glob.glob(f"{out}/**/*.gz", recursive=True)
    assert any("log_type=a/ym=2024-01/dd=02" in f for f in files)

    ke = tmp_path / "ke"
    ke.mkdir()
    payload = json.dumps(
        {"log_type": "b", "log_id": "2", "time": "2024-02-03T04:00:00Z"}
    ).encode()
    event = {
        "Records": [
            {
                "kinesis": {
                    "data": base64.b64encode(gzip.compress(payload)).decode(),
                    "partitionKey": "k",
                    "sequenceNumber": "1",
                    "approximateArrivalTimestamp": 1.0,
                }
            }
        ]
    }
    (ke / "e.jsonl").write_text(json.dumps(event) + "\n")
    out2 = str(tmp_path / "out2")
    assert (
        main(
            [
                "batch",
                "--input",
                str(ke),
                "--output",
                out2,
                "--kinesis-event",
                "--exact-layout",
            ]
        )
        == 0
    )
    files2 = glob.glob(f"{out2}/**/*.gz", recursive=True)
    assert any("/b/2024-02/03/" in f for f in files2)
    assert gzip.open(files2[0], "rt").read().strip() == payload.decode()


def test_cli_stream_honours_log_s3_prefix(spark, tmp_path, monkeypatch):
    """``stream`` writes under ``--output`` plus LOG_S3_PREFIX, and a
    second run on the same checkpoint writes nothing."""
    from terraform_aws_lambda_kinesis_to_s3_spark.__main__ import main

    monkeypatch.setenv("LOG_S3_PREFIX", "cli-pfx")
    src = tmp_path / "in"
    src.mkdir()
    payload = json.dumps({"log_type": "a", "log_id": "1", "time": "2024-01-02T12:00:00Z"})
    (src / "p.jsonl").write_text(payload + "\n")
    out = str(tmp_path / "out")
    argv = ["stream", "--input", str(src), "--output", out,
            "--checkpoint", str(tmp_path / "ckpt")]
    assert main(argv) == 0
    files = glob.glob(f"{out}/**/*.gz", recursive=True)
    assert [os.path.dirname(f) for f in files] == [
        f"{out}/cli-pfx/log_type=a/ym=2024-01/dd=02"
    ]
    assert gzip.open(files[0], "rt").read().strip() == payload
    assert main(argv) == 0
    assert glob.glob(f"{out}/**/*.gz", recursive=True) == files


def test_cli_output_defaults_to_log_s3_bucket(spark, monkeypatch, capsys):
    """Without --output the sink is s3a://<LOG_S3_BUCKET>, the
    reference's bucket setting; with neither the CLI exits with a usage
    error instead of starting a job."""
    import pytest

    import terraform_aws_lambda_kinesis_to_s3_spark.job as job
    from terraform_aws_lambda_kinesis_to_s3_spark.__main__ import main

    for name in ("LOG_S3_BUCKET", "LOG_BUCKET"):
        monkeypatch.delenv(name, raising=False)
    with pytest.raises(SystemExit) as exc:
        main(["batch", "--input", "/in"])
    assert exc.value.code == 2
    assert "LOG_S3_BUCKET" in capsys.readouterr().err

    calls = []
    monkeypatch.setattr(job, "run_batch", lambda *a, **kw: calls.append(a))
    monkeypatch.setenv("LOG_S3_BUCKET", "my-logs")
    assert main(["batch", "--input", "/in"]) == 0
    assert main(["batch", "--input", "/in", "--output", "/out"]) == 0
    assert [c[2] for c in calls] == ["s3a://my-logs", "/out"]


def test_bench_coverage_is_total():
    """Every registry query is benched or carries a documented
    exclusion: EXCLUDED is a subset of REGISTRY, every exclusion has a
    reason, and HEADLINE is REGISTRY minus EXCLUDED in registry order."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY

    assert set(bench.EXCLUDED) <= set(REGISTRY), set(bench.EXCLUDED) - set(REGISTRY)
    assert all(bench.EXCLUDED.values()), "every exclusion needs a reason"
    assert bench.HEADLINE == [n for n in REGISTRY if n not in bench.EXCLUDED]


def test_local_cores_follows_env_else_affinity(monkeypatch):
    """One core-count rule for every session: SPARK_GRAFT_CPUS when
    set, else the process's affinity mask."""
    import os

    from terraform_aws_lambda_kinesis_to_s3_spark.session import local_cores

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert local_cores() == len(os.sched_getaffinity(0))


def test_bench_sweep_stamps_and_receipts(spark, tmp_path):
    """bench.sweep on two sf0.01 entries: the artifact carries the
    stamps bench_diff compares on, and each entry a warm time, a cold
    time and a status-store receipt of work actually done."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench
    import harness

    b = harness.Bench(str(tmp_path), str(tmp_path))
    b.spark = spark
    names = ["q1_pricing_summary", "char_entropy"]
    out = bench.sweep(b, names, "/root/testdata/sf0.01")
    st = out["stamps"]
    assert st["nproc"] == harness.nproc()
    assert st["cores"] == spark.sparkContext.defaultParallelism
    assert st["sf"] == "sf0.01"
    assert st["rev"] and st["spark"] == spark.version and st["python"]
    assert {"cpu_probe_s", "jvm_probe_s", "steal_frac"} <= set(st)
    for key in ("queries", "cold_first_run", "receipts"):
        assert list(out[key]) == names, key
    for name in names:
        assert out["receipts"][name]["cpu_s"] > 0, name
        assert out["receipts"][name]["tasks"] > 0, name


def test_bench_diff_refuses_mismatched_stamps(tmp_path, monkeypatch):
    """tools/bench_diff.py exits 2 with a named reason when either sweep
    has no nproc/cores/sf stamp or the two differ in one, and compares
    sweeps whose stamps agree."""
    import sys

    mod = _load_tool("bench_diff")

    stamps = {"nproc": 4, "cores": 4, "sf": "sf0.1", "rev": "a"}
    base = {"queries": {"q": 1.0}, "stamps": stamps}
    assert mod.stamp_mismatch(base, base) is None
    # the revision is what a comparison is for: it may differ
    assert mod.stamp_mismatch(base, {**base, "stamps": {**stamps, "rev": "b"}}) is None
    reason = mod.stamp_mismatch(base, {**base, "stamps": {**stamps, "nproc": 8}})
    assert "nproc 4 != 8" in reason
    reason = mod.stamp_mismatch(base, {**base, "stamps": {**stamps, "sf": "sf1"}})
    assert "sf 'sf0.1' != 'sf1'" in reason
    assert "old sweep has no nproc, cores, sf stamp" == mod.stamp_mismatch(
        {"queries": {}}, base
    )
    no_sf = {k: v for k, v in stamps.items() if k != "sf"}
    assert "new sweep has no sf stamp" == mod.stamp_mismatch(
        base, {**base, "stamps": no_sf}
    )

    paths = {}
    for name, st in (("a", stamps), ("b", {**stamps, "nproc": 8})):
        paths[name] = tmp_path / f"{name}.json"
        paths[name].write_text(json.dumps({**base, "stamps": st}))
    for new, code in (("a", 0), ("b", 2)):
        monkeypatch.setattr(sys, "argv", ["bench_diff", str(paths["a"]), str(paths[new])])
        assert mod.main() == code


def test_partition_invariance_compare_is_layout_blind():
    """The invariance audit compares the two layouts' frames by the
    oracle gate's rule: blind to exactly the things a partition layout
    reorders — row order and column order — and sharp to a single value
    change or a failed run; otherwise the 309/309 partition-invariant
    receipt would be vacuous (too loose) or noise (too strict)."""
    import pandas as pd

    mod = _load_tool("partition_invariance")
    a = pd.DataFrame({"x": [1, 2, 3], "y": [0.15, 0.25, None]})
    shuffled = a.iloc[[2, 0, 1]][["y", "x"]]
    assert mod.varies("q", a, shuffled) is None
    changed = a.copy()
    changed.loc[0, "x"] = 99
    assert "row 0 col x" in mod.varies("q", a, changed)
    assert "ERROR:ValueError" in mod.varies("q", a, "ERROR:ValueError")


def test_shared_stage_cache_registry_is_total():
    """SHARED_STAGE_CACHES is THE cache inventory, filled by
    @shared_stage: plans/queries.py keeps no module-level *_CACHE dict
    of its own that bench_diff's builder inclusion could silently miss, and every registered helper is a
    real module-level callable."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    hand_rolled = [
        name for name, obj in vars(Q).items()
        if name.startswith("_") and name.endswith("_CACHE")
        and isinstance(obj, dict)
    ]
    assert hand_rolled == []
    assert len(Q.SHARED_STAGE_CACHES) == 12
    for helper in Q.SHARED_STAGE_CACHES:
        assert callable(getattr(Q, helper))


def test_bench_diff_cache_builders():
    """The --recheck builder-inclusion contract: for every shared
    cache a flagged query consumes, the solo set gains that cache's
    FIRST sweep-order consumer (the query the full sweep charges the
    build to) — never the flagged query itself, never a non-consumer,
    and nothing at all when the flagged query is itself the first
    consumer or consumes no cache."""
    import inspect

    mod = _load_tool("bench_diff")
    from bench import HEADLINE
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        REGISTRY,
        SHARED_STAGE_CACHES,
    )

    def caches_of(name):
        return {
            h for h in SHARED_STAGE_CACHES
            if name in REGISTRY
            and h + "(" in inspect.getsource(REGISTRY[name][0]).replace(
                h + " (", h + "("
            )
        }

    first = {}
    for n in HEADLINE:
        for h in caches_of(n):
            first.setdefault(h, n)
    # at least the three pair/signature caches must have a benched
    # first consumer, or the inclusion logic is dead code
    assert len(first) >= 3, first

    # a non-consumer gets no builders
    assert mod._cache_builders(["q1_pricing_summary"]) == []

    # a first consumer flagged alone gets no builders for its cache
    some_first = next(iter(first.values()))
    for b in mod._cache_builders([some_first]):
        assert caches_of(b) - caches_of(some_first), (
            "builder added for a cache whose first consumer IS flagged"
        )

    # a non-first consumer gets exactly its caches' first consumers
    non_first = next(
        (n for n in HEADLINE
         if caches_of(n) and n not in first.values()), None
    )
    assert non_first is not None
    builders = mod._cache_builders([non_first])
    assert non_first not in builders
    assert builders, f"{non_first} consumes {caches_of(non_first)}"
    for b in builders:
        assert b in first.values()
        assert caches_of(b) & caches_of(non_first)


def test_prose_counts_match_registry():
    """README states the registry size (as "N registry queries" or
    "registry (N queries"); every statement must equal len(REGISTRY)
    and at least one must remain — drift is a failure."""
    import re

    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY

    readme = open(os.path.join(_REPO, "README.md")).read()
    stated = re.findall(r"(\d+) registry queries|registry \((\d+) queries", readme)
    assert stated, "README no longer states the registry count"
    assert {int(a or b) for a, b in stated} == {len(REGISTRY)}


def test_explains_covers_registry():
    """EXPLAINS.md carries one plan section per registry query and none
    for anything else — it lagged the registry twice before this was a
    test. Regenerate with tools/gen_explains.py after a registry
    change."""
    import re

    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY

    explains = open(os.path.join(_REPO, "EXPLAINS.md")).read()
    shown = set(re.findall(r"^## (\S+)$", explains, re.MULTILINE))
    assert sorted(set(REGISTRY) - shown) == [], "run tools/gen_explains.py"
    assert sorted(shown - set(REGISTRY)) == []


def test_entry_returns_rows(spark):
    """``__spark_entry__.entry()``, the flagship pipeline query,
    returns rows."""
    import __spark_entry__ as m

    assert m.entry(spark).count() > 0


def test_tools_import():
    """Every tool loads by path: a tool that imports a module since
    deleted fails here, not on its next manual run."""
    import glob

    tools = sorted(glob.glob(os.path.join(_REPO, "tools", "*.py")))
    assert tools
    for path in tools:
        _load_tool(os.path.basename(path)[:-3])


def test_bench_only_exact_name_not_shadowed_by_substring():
    """bench.py --only (r11 fix): a pattern that IS a registry name
    must run even when it substring-matches a DIFFERENT headline
    entry — graph_triangle_parts was silently skipped because it
    matched graph_triangle_parts_capped.  Also: plain substring
    patterns still fan out, and unknown patterns select nothing."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench

    got = bench.select_only(["graph_triangle_parts"])
    assert "graph_triangle_parts" in got            # the exact name runs
    assert "graph_triangle_parts_capped" in got     # substring fan-out kept
    assert len(got) == len(set(got))                # no duplicates
    assert bench.select_only(["no_such_query_zzz"]) == []


def test_scale_override_oracles_agree_with_registry_at_sf001():
    """The sf1 sweep's list-intersect triangle oracles
    (tools/scale_oracle_sweep.SCALE_ORACLE_OVERRIDES) must compute the
    SAME result as the registry's wedge-materializing DuckDB oracles
    wherever both are feasible — otherwise the scale sweep would be
    checking Spark against a DIFFERENT definition than the driver's
    per-round correctness gate does.  Pinned at sf0.01, where the
    wedge formulation is cheap."""
    import duckdb

    import __spark_entry__ as m
    from terraform_aws_lambda_kinesis_to_s3_spark.sources.tables import TABLES
    from tests.test_oracle import _compare
    from tools.scale_oracle_sweep import SCALE_ORACLE_OVERRIDES

    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    osql = m.oracle_sql()
    assert SCALE_ORACLE_OVERRIDES, "override table unexpectedly empty"
    for name, sql in SCALE_ORACLE_OVERRIDES.items():
        assert name in osql, f"{name} override has no registry oracle"
        _compare(name, con.execute(sql).df(), con.execute(osql[name]).df())


def test_scale_sweep_records_dtype_mismatch(tmp_path, monkeypatch):
    """The sf1 sweep judges each entry by the oracle gate's rule: an
    int64 Spark column against the oracle's float64 (DuckDB's HUGEINT
    SUM) with equal values is a ``mismatch``, with the gate's message
    as the detail, as it is red in tests/test_oracle.py."""
    import sys

    import pandas as pd

    import __spark_entry__ as m
    import terraform_aws_lambda_kinesis_to_s3_spark.session as session

    mod = _load_tool("scale_oracle_sweep")
    spark_pdf = pd.DataFrame({"k": ["x", "y"], "n": pd.array([1, 2], dtype="int64")})
    oracle_pdf = pd.DataFrame({"k": ["x", "y"], "n": [1.0, 2.0]})

    class Result:
        def toPandas(self):
            return spark_pdf

    monkeypatch.setattr(m, "queries", lambda: {"uncast_sum": lambda spark, sf: Result()})
    monkeypatch.setattr(m, "oracle_sql", lambda: {"uncast_sum": "SELECT 1"})
    monkeypatch.setattr(session, "get_spark", lambda app_name: None)
    monkeypatch.setattr(mod, "run_oracle", lambda *a: (oracle_pdf, None))
    out = tmp_path / "sweep.json"
    monkeypatch.setattr(sys, "argv", ["scale_oracle_sweep", str(tmp_path), "--out", str(out)])
    assert mod.main() == 1
    artifact = json.loads(out.read_text())
    assert artifact["mismatch"] == ["uncast_sum"]
    assert "dtype kind" in artifact["per_query"]["uncast_sum"]["detail"]


def test_capture_plans_dedup_counts():
    """r11 verdict item 7: formatted-plan node counts must dedupe the
    cached-subtree reprints (explain re-inlines the whole cached plan
    inside EVERY InMemoryTableScan reference) and skip == Initial
    Plan == sections; otherwise after-plans with persists read BIGGER
    than their before-plans while executing less."""
    cp = _load_tool("capture_plans")

    plan = """== Physical Plan ==
AdaptiveSparkPlan (20)
+- HashAggregate (19)
   +- InMemoryTableScan (1)
   :     +- InMemoryRelation (2)
   :           +- AdaptiveSparkPlan (9)
   :              +- == Final Plan ==
   :                 ResultQueryStage (8)
   :                 +- Exchange (7)
   :                    +- Scan parquet  (6)
   :              +- == Initial Plan ==
   :                 Exchange (5)
   :                 +- Scan parquet  (4)
   +- InMemoryTableScan (10)
         +- InMemoryRelation (11)
               +- AdaptiveSparkPlan (9)
                  +- == Final Plan ==
                     ResultQueryStage (8)
                     +- Exchange (7)
                        +- Scan parquet  (6)
                  +- == Initial Plan ==
                     Exchange (5)
                     +- Scan parquet  (4)
"""
    c = cp.node_counts(plan)
    # cached subtree counted once; Initial Plan duplicates not at all
    assert c["Exchange"] == 1, c
    assert c["Scan"] == 1, c
    assert c["InMemoryTableScan"] == 2, c  # both references stay visible
    assert c["HashAggregate"] == 1 and c["ResultQueryStage"] == 1
    # the LIST rendering is counted too, detail lines are not
    listy = """== Physical Plan ==
(1) Scan parquet
Output [1]: [v#1]

(2) HashAggregate
Input [1]: [v#1]
Functions [1]: [count(1)]

(3) Exchange
Input [1]: [c#2]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]
"""
    c2 = cp.node_counts(listy)
    assert c2 == {"Scan": 1, "HashAggregate": 1, "Exchange": 1}, c2


def test_driver_contract_is_the_registry_in_order():
    """__spark_entry__'s queries()/oracle_sql() expose REGISTRY itself,
    in insertion order: the same callables and the same oracle SQL,
    with every entry carrying an oracle."""
    import __spark_entry__ as m
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY

    qs, osql = m.queries(), m.oracle_sql()
    assert list(qs) == list(REGISTRY)
    assert all(qs[n] is REGISTRY[n][0] for n in REGISTRY)
    assert list(osql) == list(REGISTRY)
    assert all(isinstance(osql[n], str) and osql[n] == REGISTRY[n][1] for n in REGISTRY)
