"""Static-plan invariants over the whole query registry.

The bar at 100 TB is not "returns the right rows" but "is the plan you
would want": no accidental cross joins, filters pushed into the scans,
joins equi-shaped. These assertions freeze the properties EXPLAINS.md
documents, so a regression (e.g. a refactor that turns an equi join
into a cartesian product) fails CI rather than surfacing as a 1000x
slowdown on a cluster.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY

SF = "/root/testdata/sf0.01"

#: queries whose plans legitimately contain a BroadcastNestedLoopJoin —
#: every one is a broadcast of a 1-row scalar (q22 avg balance, q11
#: value threshold) or a tiny bounded query/centroid set (embedding
#: searches). Anything new showing a BNLJ must be justified here.
BNLJ_OK = {
    "q22_sales_opportunity",
    "q11_important_stock",
    "embedding_cosine_topk",
    "embedding_centroid_assign",
    "embedding_ivf_topk",
    # K-centroid broadcast argmax (same shape as embedding_centroid_assign)
    "kmeans_lloyd_step",
    # deliberate 1-row global-max broadcast (weighted Bernoulli sampler)
    "weighted_doc_sample",
    # deliberate 1-row corpus-size broadcast (IDF denominator)
    "tfidf_top_terms",
    # deliberate 1-row corpus-token-total broadcast (LM denominator)
    "unigram_logprob_score",
    # tiny broadcast query side scored against the streamed corpus
    "hard_negatives",
    # 1-row Bloom bit-set broadcast (the whole point: ship KBs, not rows)
    "bloom_semi_events",
    # 1-row aggregates (n_edges x n_wedges x n_triangles) cross-joined
    "graph_triangle_parts",
    "graph_triangle_parts_capped",
    "graph_triangle_degree_ordered",
    # 1-row argmax pair broadcast into the vocab-sized merge
    "bpe_merge_step",
    # K-centroid broadcast argmax feeding the per-cluster gram verify
    "semdedup_prune",
    # two 1-row LM-total broadcasts (target + raw denominators)
    "dsir_importance",
    # 1-row basket-count broadcast (the lift denominator)
    "market_basket_pairs",
    # tiny broadcast query side scored against the streamed corpus
    "rrf_fusion",
    # two 1-row sufficient-statistic sides cross-joined (A/B arms)
    "ab_test_welch",
    # three 1-row pair-count aggregates cross-joined (eval summary)
    "lsh_eval_pr",
    # per-step 1-row weight-vector broadcast in the GD training loop
    "quality_logreg_train",
    # the same 1-row trained-weights broadcast, scoring for calibration
    "logreg_calibration",
    # 1-row point estimate x 1-row CI bracket (bootstrap summary)
    "bootstrap_ci_mean",
    # 1-row min/max-day bounds broadcast (full-window filter)
    "events_wau_stickiness",
    # 1-row corpus-token-total broadcast (LM denominator, CCNet buckets)
    "perplexity_bucket_sample",
    # K-centroid broadcast argmax + three 1-row count aggregates (eval)
    "ivf_eval_recall",
    # 1-row corpus-token-total broadcast (the KL denominator)
    "corpus_kl_divergence",
    # 1-row (grand total, temperature norm) broadcast
    "temperature_mixture_weights",
    # 1-row exact-quantile truth side x 1-row sample-estimate side (eval)
    "sampled_quantile_error_eval",
    # 1-row (corpus tokens, temperature norm) totals broadcast
    "epoch_repetition_plan",
    # 1-row control-arm conversion-rate broadcast (the LLR null rate)
    "ab_sprt_daily",
    # three 1-row register-estimate/shard-count sides cross-joined (eval)
    "hll_merge_eval",
    # two 1-row statistic broadcasts (mu/sigma/median, then MAD)
    "outlier_method_agreement",
    # 1-row tertile-cut broadcast (exact percentile, no ntile window)
    "curriculum_schedule",
    # three 1-row partition-load maxima / totals cross-joined (eval)
    "salting_effectiveness_eval",
    # 1-row probe-count broadcast (the recall denominator)
    "mrl_truncation_eval",
    # 1-row corpus max-orderdate anchor broadcast (recency origin)
    "customer_rfm_segments",
    # 1-row leak-count broadcast (the no-leakage audit column)
    "group_split_events",
    # 1-row p80 time-cut broadcast (the split boundary)
    "time_split_events",
    # three 1-row summary aggregates cross-joined (the dataset card)
    "corpus_datacard",
    # 1-row unigram-total broadcast (the interpolation denominator)
    "bigram_interp_logprob",
    # 1-row corpus-total broadcast (the log-odds rest-denominator)
    "distinctive_terms_logodds",
    # the shared 1-row trained-weights broadcast, scoring for AUC
    "logreg_auc",
    # 1-row (min,max) doc_id range broadcast (map-only decile arithmetic)
    "vocab_growth_curve",
    # 1-row (n_docs, avgdl) corpus-stats broadcast (the BM25 normalizer)
    "bm25_topk_docs",
    # two 1-row totals broadcasts (unigram + bigram mass denominators)
    "pmi_collocations",
    # 1-row (lo, hi) value-range broadcast per _midranks rank transform
    "quality_length_spearman",
    # 1-row corpus-size broadcast (the IDF numerator)
    "doc_rarity_score",
    # 1-row total-gram-mass broadcast (the spectrum denominator)
    "gram_frequency_spectrum",
    # 1-row hour-range broadcast (spine bounds) + bounded hours×types grid
    "events_type_burstiness",
    # 1-row (lo, hi) value-range broadcast (_midranks rank transform)
    "customer_revenue_gini",
    "events_mann_whitney",
    # 1-row range + total-revenue broadcasts (_blocked_cumsum + Pareto cut)
    "parts_abc_classification",
    # 1-row normalizer + leftover-count broadcasts (largest remainder)
    "mixture_token_budget_alloc",
    # 1-row grand-stats broadcast (the ANOVA SSB/SSW denominators)
    "orders_priority_anova",
    # 1-row digit-total broadcast (the observed-fraction denominator)
    "events_value_benford",
    # 1-row mean/day-count broadcast (the CUSUM deviation baseline)
    "events_changepoint_cusum",
    # 1-row grand-total broadcast (the load-fraction denominator)
    "events_load_heatmap",
    # eval harness: deliberate all-pairs truth on the 64-name dictionary
    # + three 1-row count aggregates cross-joined (the eval summary)
    "fuzzy_block_eval",
    # 1-row pair-total broadcast (the fraction denominator)
    "dedup_threshold_sensitivity",
    # 1-row (lo, hi) range broadcast (_blocked_cumsum_multi blocks)
    # + 1-row (n1, n2) arm-totals broadcast (the ECDF denominators)
    "events_ks_test",
    # 1-row (lo, hi) range broadcast (_blocked_cumsum_multi blocks)
    "heaps_law_fit",
    # 1-row (lo, hi) boundary-key range broadcast (sweep-line blocks)
    "events_peak_concurrency",
    # 1-row (min,max) doc_id range broadcast (map-only decile arithmetic)
    "ngram_novelty_curve",
    # deliberate pairwise non-equi join on the BOUNDED O(days) daily
    # table (never on events) + 1-row median-slope broadcast
    "events_theil_sen",
    # 1-row (n, r, k) grand-totals broadcast (chi2 expected counts)
    "events_chi2_type_dow",
    # 1-row spine-range broadcasts + 1-row peak-slot broadcasts
    "events_seasonality",
    # 1-row observed-stats broadcast (the relabeling coin's bias)
    "events_permutation_test",
    # 1-row query-vector broadcast + non-equi self-join on the ≤20-row
    # candidate pool (contract-small by construction)
    "mmr_rerank",
    # 1-row max-date / total / zero-hit broadcasts (KM at-risk + guard)
    "user_survival_km",
    # 4-row watermark-grid broadcast
    "watermark_loss_audit",
    # 1-row total-rows broadcast (the rows_share denominator)
    "join_key_skew",
    # 1-row trained-weights / (n,k) / threshold broadcasts
    "conformal_coverage",
    # 1-row (N, Σc^0.75) totals broadcast
    "word2vec_sampling_table",
    # 1-row halves-totals broadcast (the smoothed denominators)
    "corpus_psi_drift",
    # 1-row spine-range + hourly-mean broadcasts; _blocked_cumsum range
    "events_brownout_windows",
    # 1-row range broadcast (_blocked_suffix_max blocks)
    "skyline_quality_length",
    # 1-row trained-weights broadcast (same class as conformal/logreg)
    "logreg_hard_examples",
    # eval truth side: deliberate bounded queries x db-slice cross join
    # (10 x 40 by construction, the ivf_eval_recall contract)
    "pq_adc_eval",
    # 1-row trained-weights + 1-row (t1, t0) threshold broadcasts
    "label_noise_estimate",
    # 1-row global-bucket-total broadcast (the TV denominator)
    "privacy_t_closeness",
    # 1-row trained-weights + 1-row (N, ybar, brier) totals broadcasts
    "brier_decomposition",
    # two 1-row broadcasts (corpus token total, softmax normalizer)
    "doremi_mixture_step",
    # 1-row (N, mu) grand-totals broadcast (the Theil denominators)
    "revenue_theil_decomposition",
    # 1-row (lo, hi) range + (v_total, m_total) totals broadcasts
    "oov_vs_vocab_curve",
    # 3-row predicate grid broadcast against the bounded day census and
    # the 64-row zone-map census (closed-form file arithmetic)
    "zonemap_pruning_eval",
    # 8-row per-shard threshold table broadcast against the 10-row
    # exact-truth side (the merge-bound audit grain)
    "topk_shard_merge_eval",
    # 1-row corpus stats broadcast + 10-position grid against the
    # bounded per-query grade histogram (the IDCG arithmetic)
    "ndcg_retrieval_eval",
    # 1-row cap totals broadcast into the type census + 3-row explode
    "contribution_cap_eval",
    # 3-row variant grid against the 3/4-row tag censuses + 1-row
    # probe-count broadcast (the FPR denominators)
    "bloom_fpr_eval",
    # 1-row corpus-total broadcast (the global-share denominator)
    "cv_fold_balance",
    # 1-row (lo, hi) range broadcast + three range joins on the
    # 10-row bin census (the O(B^3) PAV minimax runs on B=10 rows)
    "isotonic_calibration",
    # 1-row range/total broadcast + 3-row quantile grid + 1-row
    # mismatch count against the 64-row bucket census
    "quantile_merge_eval",
    # 1-row range broadcast + 3-row geometry/quantile grids + 9-row
    # estimate broadcast against the <=256-row bucket census
    "quantile_bucket_sweep",
    # 1-row BH-crossing-rank (k*) broadcast into the m-row p table
    "ab_fdr_bh",
    # per-shard 1-row threshold/total broadcasts (hh_partial's monitor
    # code, x4 shards) + the 1-row merge-totals broadcast into the
    # <= (K'+1) x shards kept rows
    "hh_merge_bounds",
}


def _formatted_plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module", params=list(REGISTRY), ids=list(REGISTRY))
def registry_plan(request, spark):
    """(name, formatted plan) of one registry entry, built once for both
    plan invariants below: the module-scoped parameter makes pytest run
    each entry's two checks back to back on a single build (eager
    shared-stage builders run real jobs at plan time)."""
    name = request.param
    return name, _formatted_plan(REGISTRY[name][0](spark, SF))


def test_no_accidental_cross_join(registry_plan):
    name, plan = registry_plan
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name not in BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected nested-loop join — add to BNLJ_OK only "
            "if the broadcast side is provably tiny"
        )


#: Queries whose plans legitimately contain an Exchange-SinglePartition
#: feeding a Sort (the global-sort shape that is the 100 TB
#: scale-killer when the sorted table is O(N)).  Every entry here is
#: either (a) a sort over a BOUNDED table — block-offset windows over
#: ≤1024 width_bucket totals, calendar/decile/year grain aggregates —
#: or (b) the scale-gated exact-ntile path of _equal_count_bins, which
#: only runs below NTILE_EXACT_MAX rows (above it the approx path has
#: no window at all).  Value = max allowed occurrences.  Anything new
#: failing this test is an unpartitioned global sort — decompose it
#: (two-phase rank/top-k, approx cut-points) instead of widening the
#: allowlist.
SP_SORT_OK = {
    # _equal_count_bins exact-ntile path (scale-gated; sf-test only)
    "perplexity_bucket_sample": 1,
    "logreg_calibration": 1,
    "customer_rfm_segments": 1,
    # bounded block-offset windows (≤1024 width_bucket totals)
    "logreg_auc": 1,
    "quality_length_spearman": 2,
    "customer_revenue_gini": 1,
    "events_mann_whitney": 1,
    # bounded-grain cumsums: 10 deciles / calendar days / years
    "vocab_growth_curve": 1,
    "open_lineitem_backlog": 1,
    "orders_yoy_growth": 1,
    # bounded block-offset window (_blocked_cumsum ≤1024 totals)
    "parts_abc_classification": 1,
    # bounded block-offset windows (_blocked_cumsum_multi ≤1024 totals;
    # one shared pass for both weights — still a single bounded window)
    "events_ks_test": 1,
    "heaps_law_fit": 1,
    "events_peak_concurrency": 1,
    # bounded day-grain cumsum (O(days) table, same class as backlog)
    "events_changepoint_cusum": 1,
    # bounded day-grain cumulative LLR (same O(days) class as cusum)
    "ab_sprt_daily": 1,
    # remainder rank over the N_SOURCES-row weight table
    "mixture_token_budget_alloc": 1,
    # bounded block-offset windows (≤1024 totals / block maxima)
    "events_brownout_windows": 1,
    "skyline_quality_length": 1,
    # two _blocked_cumsum_multi calls over the O(distinct lifetimes)
    # table — both bounded ≤1024-block-total sorts; the formerly
    # triplicated logterm subtree is now persisted (r4 verdict fix)
    "user_survival_km": 2,
    # one bounded block-total sort from the single _blocked_cumsum_multi
    # pass over the O(distinct score) calibration census
    "conformal_coverage": 1,
    # one bounded block-total sort (_blocked_cumsum_multi over the
    # O(distinct counts) count-grain vocabulary table)
    "oov_vs_vocab_curve": 1,
    # _equal_count_bins exact-ntile path (scale-gated; sf-test only —
    # same class as logreg_calibration)
    "brier_decomposition": 1,
    # one bounded cumsum window over the 64-row merged histogram
    "quantile_merge_eval": 1,
    # BH step-up rank window over the m-row (m = #types) p table
    "ab_fdr_bh": 1,
    # hh_merge_bounds dropped from 4 to 0 in r12: the grouped
    # hh_partial(group_cols=('shard',)) runs the formerly-global
    # summary re-ranks as shard-PARTITIONED windows, so no
    # single-partition sort remains in the plan at all
}


def _sp_sort_count(plan: str) -> int:
    """Count Exchange nodes with SinglePartition args whose immediate
    consumer is a Sort (the Sort→Window / global-order shape)."""
    import re

    nodes = re.findall(r"\(\d+\) ([A-Za-z]+)", plan)
    blocks = re.split(r"\n\(\d+\) ", "\n" + plan)
    hits = 0
    for i, (node, blk) in enumerate(zip(nodes, blocks[1:])):
        if node == "Exchange" and "SinglePartition" in blk:
            if i + 1 < len(nodes) and nodes[i + 1] == "Sort":
                hits += 1
    return hits


def test_no_unpartitioned_global_sort(registry_plan):
    """No plan may gain a NEW single-partition global sort: the r3
    verdict's 'weak' class, now frozen as a static invariant."""
    name, plan = registry_plan
    n = _sp_sort_count(plan)
    assert n <= SP_SORT_OK.get(name, 0), (
        f"{name}: {n} Exchange-SinglePartition→Sort stages "
        f"(allowed {SP_SORT_OK.get(name, 0)}) — an unpartitioned global "
        "sort; decompose it (two-phase rank/top-k, approx cut-points + "
        "width_bucket) rather than widening SP_SORT_OK"
    )


def test_blocked_cumsum_reuse_contract(spark):
    """The user_survival_km plan-duplication class, pinned at its cause:
    a _blocked_cumsum_multi output consumed by MORE than one downstream
    operator MUST be persisted, else Catalyst inlines the whole lineage
    (bounded sort included) into every consumer.  This test rebuilds
    the pre-fix shape — one cumsum output feeding a second cumsum, a
    null-scan aggregate AND a final join, exactly user_survival_km's
    logterm — and asserts the persisted variant has strictly fewer
    Exchange-SinglePartition→Sort stages than the unpersisted one
    (i.e. the test is RED on the pre-fix shape)."""
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        _blocked_cumsum_multi,
    )

    def shape(persisted: bool):
        g = spark.range(1, 50).select(
            F.col("id").cast("double").alias("t"),
            (F.col("id") % 7).cast("double").alias("d"),
        )
        # persist_input=False reproduces the pre-r11 helper (no
        # internal eager persist) so this test keeps pinning the
        # CALLER-side contract it was written for; the helper's own
        # default persist is pinned separately below.
        cum = _blocked_cumsum_multi(g, "t", ["d"], persist_input=False)
        # every downstream column depends on the cumsum output (as
        # user_survival_km's at-risk count does), so no consumer can
        # prune the window away
        logterm = cum.select(
            "t",
            "d",
            F.col("below_d").alias("n"),
            F.when(F.col("d") < F.col("below_d"), F.log("below_d")).alias(
                "lg"
            ),
        )
        if persisted:
            logterm = logterm.persist()
        cum2 = _blocked_cumsum_multi(
            logterm.select("t", F.coalesce("lg", F.lit(0.0)).alias("lg")),
            "t",
            ["lg"],
            persist_input=False,
        )
        probe = logterm.where(F.col("lg").isNull()).agg(
            F.min("t").alias("zt")
        )
        out = (
            logterm.drop("lg")
            .join(cum2, "t")
            .crossJoin(F.broadcast(probe))
            .select("t", "d", "n", "below_lg", "zt")
        )
        n = _sp_sort_count(_formatted_plan(out))
        if persisted:
            logterm.unpersist()
        return n

    n_unpersisted, n_persisted = shape(False), shape(True)
    assert n_persisted < n_unpersisted, (
        f"persist no longer collapses the duplicated cumsum subtree "
        f"(persisted={n_persisted}, unpersisted={n_unpersisted}) — the "
        "reuse-contract detector is broken"
    )
    assert n_persisted <= 2, (
        f"persisted triple-consume shape has {n_persisted} SP sorts — "
        "more than its two bounded block-total windows; a consumer is "
        "re-inlining the cumsum lineage despite the persist"
    )


def test_blocked_cumsum_persists_input_by_default(spark):
    """r11 optimization contract: _blocked_cumsum_multi eagerly persists
    its input table by default, so the helper's three internal
    consumers (range agg, block offsets, within-block pass) and any
    caller-side join-back all read one InMemoryRelation instead of
    replaying g's lineage per consumer."""
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        _blocked_cumsum_multi,
    )

    g = spark.range(1, 50).select(
        F.col("id").cast("double").alias("k"),
        (F.col("id") % 5).cast("double").alias("w"),
    )
    out = _blocked_cumsum_multi(g, "k", ["w"])
    plan = _formatted_plan(out)
    assert "InMemoryTableScan" in plan, (
        "default _blocked_cumsum_multi no longer persists its input — "
        "every consumer replays g's lineage"
    )
    got = {r["k"]: (r["w"], r["below_w"]) for r in out.collect()}
    assert got[1.0] == (1.0, 0.0) and got[7.0] == (2.0, sum(
        float(i % 5) for i in range(1, 7)
    )), "blocked cumsum values changed under the persist"


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q6_forecast_revenue", "q10_returned_items",
     "q19_discounted_revenue", "q20_potential_promotion"],
)
def test_filters_reach_the_scan(spark, name):
    """Date/flag predicates must appear as PushedFilters on the parquet
    scan, not as post-scan Filter nodes only."""
    fn, _ = REGISTRY[name]
    plan = _formatted_plan(fn(spark, SF))
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters" in ln and "PushedFilters: []" not in ln
    ]
    assert pushed, f"{name}: no pushed filters reached any scan"


def test_column_pruning_reaches_the_scan(spark):
    """A 2-column aggregate must not read the full lineitem schema."""
    fn, _ = REGISTRY["q6_forecast_revenue"]
    plan = _formatted_plan(fn(spark, SF))
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads and all("l_orderkey" not in ln for ln in reads), (
        "q6 reads columns its aggregate never touches"
    )


def test_sink_read_prunes_partitions(spark, tmp_path):
    """A log_type/date filter on the routed sink must become a
    PartitionFilter (directory-level pruning — at 100 TB the reader
    lists one type/month subtree, not the whole lake), never a
    post-scan Filter over all partitions."""
    import json as _json

    from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import (
        route_records,
    )
    from terraform_aws_lambda_kinesis_to_s3_spark.sinks import (
        read_routed,
        write_routed,
    )

    payloads = [
        _json.dumps(
            {"log_type": t, "log_id": str(i), "time": f"2024-0{m}-15T12:00:00Z"}
        )
        for i, (t, m) in enumerate(
            [(t, m) for t in ("web", "api") for m in (1, 2)] * 5
        )
    ]
    df = spark.createDataFrame([(p,) for p in payloads], "payload string")
    out = str(tmp_path / "sink")
    write_routed(route_records(df, PipelineConfig()), out)

    back = read_routed(spark, out).filter(
        (F.col("log_type") == "web") & (F.col("ym") == "2024-01")
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and all(
        "log_type" in ln and "ym" in ln for ln in pf
    ), f"partition filters missing from scan:\n{plan}"
    assert back.count() == 5  # web x 2024-01 only
