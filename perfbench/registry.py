"""The registry leg of a traced run: one ``plans.queries`` registry
entry per operator module, plus two relational ones, over seeded
parquet tables (``traffic.write_tables``).

Each entry runs through the noop sink twice.  Before the first (cold)
run every session-shared stage cache (``SHARED_STAGE_CACHES``) and
every query-local cache (``cachereg``) is dropped, so a shared build is
charged where a fresh job pays for it; the second (warm) run reuses
what the first left.  The cold time is charged to the entry's layer;
cold minus warm, over the entries that filled a shared cache, is
``plans.shared_build_s``.  Each result is then compared with its
DuckDB oracle, canonicalized as ``tests/test_oracle.py`` does.
"""

from __future__ import annotations

import importlib.util
import os
import time

from harness import Bench
import traffic

#: entry -> the layer its cold time is charged to, in run order
ENTRIES = {
    "dedup_minhash_lsh": "operators.dedup_s",
    "embedding_cosine_topk": "operators.similarity_s",
    "text_quality": "operators.textops_s",
    "graph_adamic_adar": "operators.graph_s",
    "hll_distinct_users": "operators.sketches_s",
    "multimodal_features": "operators.multimodal_s",
    "events_sessionize": "operators.events_s",
    "q1_pricing_summary": "plans.relational_s",
    "q18_large_orders": "plans.relational_s",
}
TABLES = ("lineitem", "orders", "customer", "events", "documents", "embeddings")
GROUP = "registry"


def _oracle_compare():
    """``_compare`` of the repository's oracle test: raises
    ``AssertionError`` on a mismatch."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "test_oracle", os.path.join(root, "tests", "test_oracle.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module._compare


def _drop_caches(spark) -> None:
    from terraform_aws_lambda_kinesis_to_s3_spark import cachereg
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import SHARED_STAGE_CACHES

    cachereg.release_all()
    for cache in SHARED_STAGE_CACHES.values():
        cache.clear()
    spark.catalog.clearCache()


def _shared_filled() -> bool:
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import SHARED_STAGE_CACHES

    return any(SHARED_STAGE_CACHES.values())


def _noop(fn, spark, tables: str) -> float:
    """Seconds to build the entry's DataFrame and run it into the noop
    sink (some builders materialize their caches eagerly)."""
    t0 = time.perf_counter()
    fn(spark, tables).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def run(bench: Bench, seed: int) -> tuple[dict[str, float], int]:
    """Per-layer metrics of the registry leg and the number of entries
    that raised or did not match their oracle."""
    import duckdb

    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY

    tables = bench.fresh_dir("registry")
    traffic.write_tables(tables, seed)
    compare = _oracle_compare()
    duck = duckdb.connect()
    for name in TABLES:
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tables}/{name}.parquet'")

    spark = bench.spark
    layers = dict.fromkeys(ENTRIES.values(), 0.0)
    layers["plans.shared_build_s"] = 0.0
    failed = 0
    for entry, layer in ENTRIES.items():
        fn, sql = REGISTRY[entry]
        _drop_caches(spark)
        try:
            # receipts cover the cold runs: what a fresh job pays
            with bench.job_group(GROUP):
                cold = _noop(fn, spark, tables)
            warm = _noop(fn, spark, tables)
            layers[layer] += cold
            if _shared_filled():
                layers["plans.shared_build_s"] += cold - warm
            compare(entry, fn(spark, tables).toPandas(), duck.execute(sql).df())
        except Exception as e:  # noqa: BLE001  (a failed entry is counted, not fatal)
            bench.log(f"registry entry {entry} failed: {type(e).__name__}: {e}"[:500])
            failed += 1
    _drop_caches(spark)
    duck.close()
    receipt = bench.stage_receipt(GROUP)
    layers.update(
        {
            "registry.shuffle_write_bytes": receipt["shuffle_write_bytes"],
            "registry.tasks": receipt["tasks"],
            "registry.exec_cpu_s": receipt["cpu_s"],
            "registry.gc_s": receipt["gc_s"],
        }
    )
    return layers, failed
