#!/usr/bin/env python
"""Benchmark: run the engine's headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": "<dir>"}

Results are materialized through the noop sink (full compute, no
driver-side collect skew). Queries with quadratic worst cases on the
synthetic corpus (exact all-pairs n-gram Jaccard) are excluded from the
headline set — their scale path (MinHash LSH) is benchmarked instead.

Reproducibility (round 6): every table is warm-read before the sweep,
each entry is timed min-of-REPEATS (default 2, env
SPARK_GRAFT_BENCH_REPEATS), the per-entry scheduling overhead is a
median-of-5, and the fixed costs are decomposed in
"overhead_components" — so a host-load spike is diagnosable instead of
reading as a 31% per-entry regression (r5 verdict item 4).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_t_import = time.perf_counter()
from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY  # noqa: E402
from terraform_aws_lambda_kinesis_to_s3_spark.session import get_spark  # noqa: E402

IMPORT_SEC = round(time.perf_counter() - _t_import, 3)

#: Per-entry timing = min over this many back-to-back runs (env
#: SPARK_GRAFT_BENCH_REPEATS, default 2).  The r5 driver sweep read 31%
#: more per entry than r4 on unchanged code with a 6.5x overhead jump —
#: single-shot timings conflate first-touch parquet reads and host
#: scheduling jitter with plan cost.  min-of-2 reports the warm number
#: (what a cluster with cached footers pays); the cold first-run map is
#: kept in the sidecar for diagnosis.
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def host_calibration(spark) -> dict:
    """Two fixed CPU-bound probes whose nominal times are known from
    idle-host runs, recorded beside every sweep so a loaded host is
    DIAGNOSABLE from the artifact alone.  The noop-write overhead
    probe is scheduling-bound and stayed flat (0.06 s) across sweeps
    whose per-query floors differed 1.6-2.1x (r9 triage) — these two
    are contention-bound and move with that floor:

    - ``cpu_calib_sec``: single-threaded pure-Python md5 loop
      (driver-side GIL work, min-of-3)
    - ``jvm_calib_sec``: 32-task xxhash64 reduce over spark.range
      (all-core executor work, min-of-3)
    """
    import hashlib

    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.md5()
        for i in range(200_000):
            h.update(str(i).encode())
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    out = {"cpu_calib_sec": round(best, 4)}

    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 32_000_000, 1, 32).selectExpr(
            "bit_xor(xxhash64(id)) AS h"  # overflow-free under ANSI
        ).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    out["jvm_calib_sec"] = round(best, 4)
    return out


#: Sweep-admission window (r9 verdict item 2): a full-sweep artifact
#: is only committed to BENCH_FULL.json when the calibration probes
#: read inside these ceilings.  Nominals from idle-host runs recorded
#: across r8-r9 artifacts: cpu ~0.03, jvm ~0.12-0.14 s; the r9 sweep
#: that had to be DISCARDED by hand ran at jvm 0.306.  The ceilings
#: sit ~25% above nominal so ordinary jitter admits but co-tenant
#: contention (which inflated per-query floors 1.4-2.1x whenever jvm
#: read >= 0.3) is refused at write time instead of triaged later.
CALIB_ADMIT_MAX = {"cpu_calib_sec": 0.05, "jvm_calib_sec": 0.15}


def calibration_admitted(
    calib: dict, cpus: "int | None" = None
) -> "tuple[bool, list[str]]":
    """Admission decision for a committed sweep artifact: every probe
    in CALIB_ADMIT_MAX must read at or under its ceiling.  Returns
    (admitted, reasons); a probe missing from ``calib`` is a refusal
    reason too — an artifact without its calibration block cannot
    prove the window it ran in.

    The jvm probe is a FIXED 32-task reduce, so on a low-core session
    (the driver's own scaling window runs at SPARK_GRAFT_CPUS=8) the
    32 tasks execute in ceil(32/cores) waves and the probe is
    structurally that many times slower on a perfectly healthy host —
    the r12 core-scaling receipt lost six straight 8-core windows to
    readings of 0.148-0.26 s that are BELOW the 32-core nominal on a
    per-wave basis.  The ceiling therefore scales with the wave count;
    at 32+ cores the admission is numerically unchanged from every
    previously committed artifact (test-pinned)."""
    reasons = []
    for probe, ceiling in effective_calib_limits(cpus).items():
        got = calib.get(probe)
        if got is None:
            reasons.append(f"{probe} missing from calibration block")
        elif got > ceiling:
            reasons.append(f"{probe} {got} > ceiling {ceiling}")
    return (not reasons, reasons)


def effective_calib_limits(cpus: "int | None" = None) -> dict:
    """CALIB_ADMIT_MAX with the jvm ceiling scaled by the probe's wave
    count at the session's core count (see calibration_admitted).
    Committed artifacts record THESE limits so a low-core artifact
    shows the ceiling that actually gated it."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    waves = max(1, -(-32 // max(1, cpus)))  # ceil(32 / cores)
    lim = dict(CALIB_ADMIT_MAX)
    lim["jvm_calib_sec"] = round(lim["jvm_calib_sec"] * waves, 4)
    return lim

HEADLINE = [
    # Tier A pipeline
    "pipeline_route",
    "pipeline_unknown_routing",
    "pipeline_whitelist",
    "pipeline_tz_partition",
    "json_extract_props",
    "dedup_exact_log_id",
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q18_large_orders",
    "q4_order_priority",
    "q10_returned_items",
    "q12_priority_by_linestatus",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q17_small_quantity_revenue",
    "q19_discounted_revenue",
    "q22_sales_opportunity",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "q11_important_stock",
    "q15_top_supplier",
    "q16_supplier_relationship",
    "q20_potential_promotion",
    "q21_waiting_supplier",
    "top_customers_per_nation",
    "running_order_total",
    "rollup_region_nation",
    "pivot_priority_by_status",
    "customers_without_orders",
    "customers_with_orders",
    "set_ops_nations",
    "distinct_aggs",
    "top_brands_by_revenue",
    "frequent_buyers",
    # text analysis
    "text_token_stats",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_repetition",
    "text_vocab_topk",
    "contamination_check",
    "corpus_curation",
    # dedup (LSH scale path; DF-capped exact Jaccard is the bounded
    # variant of the quadratic all-pairs excluded above)
    "dedup_ngram_jaccard_capped",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_hamming",
    "dedup_dup_groups",
    # similarity search
    "embedding_cosine_topk",
    "embedding_centroid_assign",
    "embedding_norms",
    "embedding_lsh_buckets",
    # event analytics
    "events_sessionize",
    "events_tumbling_window",
    "events_asof_join",
    "events_downsample_1h",
    "events_value_histogram",
    "events_range_join",
    # extended relational + scale paths
    "percentiles_by_priority",
    "grouping_sets_status_priority",
    "customers_above_nation_avg",
    "salted_group_counts",
    "embedding_near_dup",
    "embedding_lsh_near_dup",
    "embedding_ivf_topk",
    "multimodal_features",
    "order_gap_days",
    "customer_quartiles",
    "text_edit_distance",
    "dedup_clusters",
    "salted_user_join",
    "kmv_distinct_users",
    "weighted_doc_sample",
    "cube_status_priority",
    "events_moving_window",
    "events_session_window",
    "events_gap_fill",
    "events_stats_profile",
    "events_sliding_window",
    "weighted_avg_udaf",
    "text_sentences_udtf",
    # training-data prep: chunking / keywording / sketches / CDC
    "doc_chunking",
    "chunk_dedup",
    "tfidf_top_terms",
    "char_entropy",
    "cms_heavy_hitters",
    "scd2_user_history",
    "events_zscore_outliers",
    "embedding_quantize",
    "kmeans_lloyd_step",
    "text_bpe_tokens",
    "bigram_cond_prob",
    "winnow_fingerprints",
    "winnow_overlap_pairs",
    "unigram_logprob_score",
    "hard_negatives",
    # sketches / graph / layout.  r11: the full triangle counts moved
    # INTO the headline — the adjacency-intersection rewrite stopped
    # materializing the wedge set as rows (graph.py), taking
    # degree_ordered 33 s -> ~3.1 s and the id-ordered full count
    # ~45 s-class -> ~3.6 s at sf0.1 (zero-spill at sf1/16 g where
    # both used to spill GBs).
    "hll_distinct_users",
    "bloom_semi_events",
    "graph_pagerank_parts",
    "graph_triangle_parts",
    "graph_triangle_parts_capped",
    "graph_triangle_degree_ordered",
    "events_zorder_stats",
    "events_quantile_sketch",
    # function-surface parity suites + BPE training iteration
    "window_functions_suite",
    "string_functions_suite",
    "array_functions_suite",
    "date_functions_suite",
    "math_functions_suite",
    "conditional_functions_suite",
    "bitwise_functions_suite",
    "regex_functions_suite",
    "map_functions_suite",
    "bpe_merge_step",
    # event analytics batch 3 + training-data mixture/shuffle/survivors
    "events_funnel",
    "events_cohort_retention",
    "events_ewma",
    "join_types_suite",
    "global_shuffle_shards",
    "mixture_sample",
    "dedup_survivors",
    # batch 4: semantic dedup / importance / CDC / reshape / privacy
    "semdedup_prune",
    "dsir_importance",
    "cdc_merge_upsert",
    "topk_per_type_salted",
    "domain_cap_sample",
    "unpivot_status_metrics",
    "column_profile_orders",
    "privacy_k_anonymity",
    # fixed-dim linear algebra: gram scan scales with N; the power
    # iteration's 8 chained matvec stages are constant scheduling
    # overhead in local mode (the data is dim^2 rows at any SF)
    "embedding_gram_matrix",
    "embedding_power_iteration",
    "incremental_agg_merge",
    "events_anomaly_mad",
    "orders_yoy_growth",
    "market_basket_pairs",
    "embedding_pq_codes",
    "events_throttle_first",
    "rrf_fusion",
    "ordered_string_agg",
    "type_user_overlap",
    "ab_test_welch",
    "multimodal_meta_audit",
    "user_transition_matrix",
    "privacy_l_diversity",
    "lsh_eval_pr",
    "incremental_dedup_check",
    "quality_logreg_train",
    "recursive_hierarchy",
    "variant_props_stats",
    "point_in_time_join",
    "feature_matrix_at_label",
    "logreg_calibration",
    "bootstrap_ci_mean",
    "events_wau_stickiness",
    # round 3: real image-header decode
    "multimodal_image_dims",
    # round 3: corpus-quality / dedup-metric / sampling additions
    "gopher_quality_flags",
    "dup_ngram_coverage",
    "dedup_span_removal",
    "perplexity_bucket_sample",
    "ivf_eval_recall",
    # round 3 session 2: corpus-mixture / model-eval additions
    "text_top_ngram_frac",
    "corpus_kl_divergence",
    "temperature_mixture_weights",
    "quality_fasttext_score",
    "knn_label_eval",
    "bpe_encode_tokens",
    "events_winsorize",
    "mrl_truncation_eval",
    "vocab_growth_curve",
    "customer_rfm_segments",
    "multimodal_audio_meta",
    "zipf_rank_slope",
    "doc_hash_embedding",
    "dedup_containment",
    "open_lineitem_backlog",
    "skipgram_negative_pairs",
    "group_split_events",
    "time_split_events",
    "corpus_datacard",
    "vocab_oov_rate",
    "label_source_profile",
    "bigram_interp_logprob",
    "part_fuzzy_name_pairs",
    "distinctive_terms_logodds",
    "embedding_outliers",
    "knn_confusion_matrix",
    "logreg_auc",
    "padding_waste_stats",
    "cross_source_prefix_overlap",
    # retrieval scoring + corpus lexical statistics (round 4)
    "bm25_topk_docs",
    "pmi_collocations",
    "source_vocab_jaccard",
    "quality_length_spearman",
    "keyword_tag_counts",
    "doc_rarity_score",
    "token_len_histogram",
    "gram_frequency_spectrum",
    "events_hourly_autocorr",
    "customer_revenue_gini",
    "events_type_burstiness",
    "events_daily_type_drift",
    "pipeline_error_taxonomy",
    "parts_abc_classification",
    "mixture_token_budget_alloc",
    "simhash_bit_balance",
    "orders_priority_anova",
    "events_value_benford",
    "supplier_nation_hhi",
    "events_user_entropy",
    "events_mann_whitney",
    "events_changepoint_cusum",
    "events_load_heatmap",
    "fuzzy_block_eval",
    "dedup_threshold_sensitivity",
    "span_corruption_stats",
    "events_ks_test",
    "heaps_law_fit",
    "events_peak_concurrency",
    "ngram_novelty_curve",
    "events_theil_sen",
    "events_chi2_type_dow",
    "events_seasonality",
    "events_permutation_test",
    "graph_adamic_adar",
    "aa_cap_eval",
    "graph_assortativity",
    "sink_compaction_plan",
    "source_token_simpson",
    "dedup_clusters_distributed",
    "reservoir_sample_ares",
    "mmr_rerank",
    "user_survival_km",
    "dp_noisy_counts",
    "watermark_loss_audit",
    "join_key_skew",
    "conformal_coverage",
    "word2vec_sampling_table",
    "corpus_psi_drift",
    "cms_error_eval",
    "langid_eval_prf",
    "lsh_band_tuning",
    "events_brownout_windows",
    "skyline_quality_length",
    # round-5 closure of the bench-coverage gap (r4 verdict item 5):
    # every registry query is either here or in EXCLUDED, pinned by
    # test_bench_coverage_is_total
    "brand_number_extract",
    "dataset_split",
    "deterministic_sample",
    "embedding_dim_stats",
    "stratified_sample",
    "sequence_packing",
    "pipeline_schema_profile",
    "text_scrub",
    "multimodal_audio_pcm_stats",
    # round-8/9 video container family (REAL ISO-BMFF box walk,
    # progressive + fragmented; map-only, plus the byte-plan audit join)
    "video_meta_probe",
    "video_frame_sample_plan",
    "video_byte_plan_audit",
    "video_frame_byte_index",
    "video_frame_fetch_verify",
    # round-5 pipeline-assembly batch
    "filter_funnel",
    "scrub_eval",
    "corpus_snapshot_diff",
    "logreg_hard_examples",
    "oov_vs_vocab_curve",
    "cluster_best_quality",
    "pq_adc_eval",
    "join_explosion_audit",
    "text_encoding_audit",
    "events_ohlc_hourly",
    "label_noise_estimate",
    "privacy_t_closeness",
    "brier_decomposition",
    "doremi_mixture_step",
    "embedding_snapshot_drift",
    "label_centroid_similarity",
    "events_asof_tolerance",
    "revenue_theil_decomposition",
    # round-5b sketch-eval / agreement / sequential batch
    "hll_error_eval",
    "sampled_quantile_error_eval",
    "quality_rater_kappa",
    "epoch_repetition_plan",
    "ab_sprt_daily",
    "hll_merge_eval",
    "tokenizer_fertility_by_source",
    "outlier_method_agreement",
    "curriculum_schedule",
    "dedup_method_agreement",
    "salting_effectiveness_eval",
    "hash_embedding_fidelity_eval",
    "hash_dim_fidelity_sweep",
    # round-5c storage-layout / distributed-sketch / retrieval evals
    "zonemap_pruning_eval",
    "topk_shard_merge_eval",
    "ndcg_retrieval_eval",
    "fleiss_kappa_raters",
    "contribution_cap_eval",
    "bloom_fpr_eval",
    "cv_fold_balance",
    # round-5 snapshot batch, gated in round 6 (r5 verdict item 1)
    "chao1_vocab_richness",
    "isotonic_calibration",
    "quantile_merge_eval",
    # round-6: bucket-geometry sweep closing the quantile eval loop
    "quantile_bucket_sweep",
    # round-6: near-dup leakage across the split + context-length census
    "cross_split_contamination",
    "context_length_plan",
    "dedup_source_flow",
    "ab_fdr_bh",
    # round-7: streaming heavy-hitters merge bounds, batch-analog
    "hh_merge_bounds",
]

#: Registry queries deliberately NOT benched, each with the reason —
#: the "no silent caps" rule applied to the bench sweep itself.
#: test_bench_coverage_is_total asserts HEADLINE ∪ EXCLUDED == REGISTRY
#: exactly, so a new query cannot silently skip the sweep.
EXCLUDED = {
    "dedup_ngram_jaccard": (
        "exact all-pairs n-gram Jaccard — quadratic on the synthetic "
        "corpus by design; its scale path (dedup_minhash_lsh) is the "
        "benched entry"
    ),
    "minhash_eval_recall": (
        "eval harness that materializes the exact all-pairs truth to "
        "score LSH recall (45 s at sf0.1); the production LSH path it "
        "validates is benched"
    ),
    # r11: graph_triangle_parts and graph_triangle_degree_ordered moved
    # from EXCLUDED to HEADLINE — the adjacency-intersection rewrite
    # (operators/graph.py) no longer materializes the wedge set, so the
    # exact counts run in ~3.1-3.6 s at sf0.1 instead of 33-45 s.
}


def select_only(pats: "list[str]") -> "list[str]":
    """--only selection: substring-match against HEADLINE, PLUS any
    pattern that IS a registry name even when it also substring-matches
    a different headline entry — the old `not any(p in n ...)` guard
    silently dropped an exact request like graph_triangle_parts
    because it matched graph_triangle_parts_capped (r11 fix)."""
    selected = [n for n in HEADLINE if any(p in n for p in pats)]
    selected += [p for p in pats if p in REGISTRY and p not in selected]
    return selected


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names (or substrings) — bench just "
        "these instead of the full headline set; keeps iteration on one "
        "operator from paying the ~1 s/entry fixed overhead 150x over",
    )
    args = ap.parse_args()
    headline = HEADLINE
    if args.only:
        pats = [p.strip() for p in args.only.split(",") if p.strip()]
        headline = select_only(pats)
        # pipeline_sink_write is a bench-only entry (not in REGISTRY);
        # ONE predicate decides both its survival past this check and
        # its execution below — two divergent matchers invited silent
        # empty runs
        sink_requested = any(p in "pipeline_sink_write" for p in pats)
        if not headline and not sink_requested:
            raise SystemExit(f"--only {args.only!r} matched no queries")
    else:
        sink_requested = True

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t0 = time.perf_counter()
    spark = get_spark(app_name="bench")
    session_startup = round(time.perf_counter() - t0, 3)

    # Warmup, not counted (mirrors a warm cluster): JVM codegen paths,
    # Python/Arrow worker pool, and EVERY table's parquet footers +
    # OS page cache — so no timed entry absorbs a first-touch read
    # (the r5 graph_adamic_adar in-sweep number was first-touch of the
    # graph tables, not plan cost).
    t0 = time.perf_counter()
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.format("noop").mode(
            "overwrite"
        ).save()
    table_warmup = round(time.perf_counter() - t0, 3)
    REGISTRY["pipeline_route"][0](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # The warmup intentionally exercises the full route pipeline, but it
    # must NOT leave the session-shared stage caches warm: a build
    # materialized here would be charged to no timed entry AT ALL — not
    # even cold_first_run (the min-of-REPEATS warm numbers already
    # exclude shared builds by design; cold_first_run is the receipt
    # that records them).  Unpersist + clear so every shared build
    # lands in its first timed consumer's cold run.
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        clear_shared_stages,
    )

    clear_shared_stages()

    # Fixed per-entry scheduling overhead (noop plan through the same
    # write path): median of 5 so one scheduler hiccup can't inflate
    # the reported constant 6.5x as it did in the r5 sweep.
    oh = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        oh.append(time.perf_counter() - t0)
    overhead = round(sorted(oh)[2], 3)
    calib = host_calibration(spark)

    # query-LOCAL persists (tracked via cachereg, ADVICE r11 item 2)
    # are released after each entry's repeats, OUTSIDE the timed
    # region: every repeat re-invokes the builder and re-persists
    # fresh DataFrames, so the release changes no timing — it only
    # stops per-call caches (the graph edge builds are ~50 MB each at
    # sf0.1) accumulating across the 308-entry sweep.
    from terraform_aws_lambda_kinesis_to_s3_spark import cachereg

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in headline:
        fn, _ = REGISTRY[name]
        runs = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(min(runs), 3)
        cold[name] = round(runs[0], 3)
        cachereg.release_all()

    # The reference's entire job is decode->route->gzip-partitioned
    # write; measure that full write path too (events re-serialized as
    # payloads, written to a temp sink, cleaned up).
    import shutil
    import tempfile

    from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import (
        route_records,
    )
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        _events_payload,
        _t,
    )
    from terraform_aws_lambda_kinesis_to_s3_spark.sinks import write_routed

    if sink_requested:
        tmp = tempfile.mkdtemp(prefix="bench_sink_")
        try:
            routed = route_records(
                _events_payload(_t(spark, sf_dir, "events", parallelize=True)),
                PipelineConfig(),
            )
            runs = []
            for _ in range(REPEATS):
                t0 = time.perf_counter()
                write_routed(routed, tmp, mode="overwrite")
                runs.append(time.perf_counter() - t0)
            timings["pipeline_sink_write"] = round(min(runs), 3)
            cold["pipeline_sink_write"] = round(runs[0], 3)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # Envelope-throughput headline vs the reference's 1k records/s/shard
    # platform ceiling: replay 1M synthetic payloads through the full
    # parse -> validate -> route chain (JVM-only path, noop-materialized).
    envelope_rps = None
    if args.only is None:
        import pyspark.sql.functions as F

        n_replay = 1_000_000
        payload = F.concat(
            F.lit('{"log_type":"t'),
            (F.col("id") % 8).cast("string"),
            F.lit('","log_id":"'),
            F.col("id").cast("string"),
            F.lit('","time":"2024-06-0'),
            (F.col("id") % 9 + 1).cast("string"),
            F.lit('T12:34:56Z","v":'),
            (F.col("id") % 1000).cast("string"),
            F.lit("}"),
        )
        replay = spark.range(n_replay).select(payload.alias("payload"))
        best = None
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            route_records(replay, PipelineConfig()).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        envelope_rps = round(n_replay / best)

    total = round(sum(timings.values()), 3)
    # The driver captures only a ~2 KB stdout tail: the full 190+-entry
    # per-query map overflowed it in r2/r3 (`parsed: null`).  Emit ONE
    # compact summary line guaranteed <= 2000 chars (top-10 slowest only)
    # and write the complete per-query map to a sidecar file.
    components = {
        "import_sec": IMPORT_SEC,
        "session_startup_sec": session_startup,
        "table_warmup_sec": table_warmup,
        "noop_write_median5_sec": overhead,
        **calib,
    }
    admitted, admit_reasons = calibration_admitted(calib)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_first_run": cold,
        "sf": sf_dir,
        "n_queries": len(timings),
        "repeats": REPEATS,
        "overhead_sec_per_entry": overhead,
        "overhead_components": components,
        "envelope_records_per_sec": envelope_rps,
        # the probe block this sweep was admitted (or refused) under —
        # a committed BENCH_FULL is self-certifying (r9 verdict item 2)
        "calibration_admission": {
            "admitted": admitted,
            "limits": effective_calib_limits(),
            "probes": calib,
            "reasons": admit_reasons,
        },
    }
    # --only runs write a separate sidecar: a 3-entry partial must not
    # clobber the archived full-sweep map the driver and bench_diff
    # read.  A full sweep taken OUTSIDE the calibration window must not
    # clobber it either: it lands in BENCH_FULL_rejected.json with its
    # refusal reasons — the r9 contaminated-sweep discard, automated.
    if args.only is not None:
        sidecar_name = "BENCH_FULL_partial.json"
    elif admitted:
        sidecar_name = "BENCH_FULL.json"
    else:
        sidecar_name = "BENCH_FULL_rejected.json"
        print(
            f"CALIBRATION REFUSAL: {'; '.join(admit_reasons)} — sweep "
            "written to BENCH_FULL_rejected.json, NOT the committed "
            "artifact; re-run in a quieter window",
            file=sys.stderr,
        )
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), sidecar_name
    )
    try:
        with open(sidecar, "w") as f:
            json.dump(full, f, separators=(",", ":"))
    except OSError:
        sidecar = None
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf_dir,
        "n_queries": len(timings),
        "repeats": REPEATS,
        "overhead_sec_per_entry": overhead,
        "overhead_components": components,
        "envelope_records_per_sec": envelope_rps,
        "calibration_admitted": admitted,
        "full_map": sidecar,
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 2000:
        # never fail a completed sweep over line length: degrade by
        # dropping the per-query preview (the sidecar has everything)
        summary["queries"] = {}
        line = json.dumps(summary, separators=(",", ":"))
    sys.stdout.write(line + "\n")
    sys.stdout.flush()
    # the JSON line is out and the sidecar is durable — stop the JVM
    # explicitly: a lingering non-daemon py4j thread has twice kept the
    # process alive minutes past completion, which a caller waiting on
    # process exit reads as a hang
    spark.stop()


if __name__ == "__main__":
    main()
