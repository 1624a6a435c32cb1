"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <float>}

Each query is forced end-to-end with the `noop` sink (full execution,
no driver collect). Headliners cover every subsystem: churn plans,
relational core, windows, as-of join, sessionization, dedup (LSH scale
path), similarity, text. `simhash_pairs` is excluded — the fixture's
tiny shared vocabulary makes its output degenerate-quadratic (see
queries/dedup_queries.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # ---- round 11 ----
    "er_entity_clusters",
    "er_golden_records",
    "fellegi_sunter_em_params",
    "dbscan_cluster_labels",
    "repeated_substring_spans",
    # slow non-headliners promoted per VERDICT r10 directive #2 (the
    # four stream_* entries in that list stay out under the no-stream-
    # twin policy and carry measured harness-vs-plan rationales in
    # SCALING.md instead):
    "cms_heavy_hitters",
    "merge_upsert_state",
    # ---- round 10 ----
    "knn_lof_scores",
    "cdc_chunk_boundaries",
    "cdc_dedup_savings",
    "fellegi_sunter_match_weights",
    "stream_ann_index_maintenance",
    "copurchase_reachability",
    # slowest Spark-side non-headliners promoted per VERDICT r9
    # directive #2 (regression guardrails — named in the r9 verdict;
    # the round-10 precheck's spark_secs confirms the final set):
    "simhash_pairs",
    "feature_auc_screen",
    "dedup_savings_by_source",
    "copurchase_triangles",
    # ---- round 9 ----
    "stream_semdedup_maintenance",
    "nelson_aalen_cumhaz",
    "beta_posterior_conversion",
    "cohens_d_priority_spend",
    "jackknife_brand_revenue_influence",
    "doc_length_percentiles_by_source",
    "join_strategy_advisor",
    "approx_percentile_error_audit",
    "rfm_segment_migration",
    "uplift_qini_deciles",
    "mase_seasonal_naive_backtest",
    "stream_survival_spans_maintenance",
    "runs_test_daily_revenue",
    # ---- round 8 ----
    "bradley_terry_brand_strengths",
    "semdedup_keep_manifest",
    "semdedup_savings_by_source",
    "image_nn_resize_pixels",
    "wilcoxon_signed_rank_spend",
    "cochran_q_yearly_activity",
    "mrr_retrieval_eval",
    "heaps_law_fit",
    "kaplan_meier_repeat_purchase",
    "logrank_segment_survival_test",
    "cuped_variance_reduction",
    "bloom_filter_size_advisor",
    "stream_cuped_maintenance",
    "cmh_promo_return_by_nation",
    "ngram_bloom_contamination_probe",
    # ---- round 7 (third wave) ----
    "mann_kendall_trend",
    "friedman_test_brand_months",
    "ljung_box_test",
    "bh_fdr_brand_screen",
    "var_backtest_kupiec",
    "ecdf_dkw_band",
    "cochran_armitage_trend_test",
    "capture_recapture_estimate",
    "sprt_conversion_monitor",
    "page_hinkley_drift",
    "lorenz_curve_deciles",
    "vocab_yule_k",
    "wasserstein_spend_distance",
    "interevent_weibull_shape",
    "boolean_query_search",
    "cramers_v_matrix",
    "quality_rater_agreement_kappa",
    "holm_stepdown_brand_screen",
    "order_total_reconciliation",
    "tukey_hsd_priority_pairs",
    "monetary_unit_sample",
    "session_gap_sensitivity_curve",
    "ship_delay_process_capability",
    "stream_page_hinkley_maintenance",
    # ---- round 7 (second wave) ----
    "horvitz_thompson_total",
    "kruskal_wallis_priority_spend",
    "abc_inventory_classes",
    "kendall_tau_quantity_discount",
    "pass_at_k_estimator",
    "randomized_response_privacy",
    "campaign_budget_knapsack",
    "ranking_ndcg_eval",
    "stream_cms_maintenance",
    "piecewise_trend_breakpoint",
    "apriori_triple_itemsets",
    "median_ci_order_statistic",
    "stream_transition_maintenance",
    "popularity_recommender_recall",
    "sort_key_advisor",
    "quality_filter_threshold_curve",
    "exact_matching_att",
    "conformal_spend_intervals",
    "chunk_boundary_cohesion",
    "two_pass_exact_percentile",
    "source_signature_terms_llr",
    "rake_keyphrases",
    "ipf_raking_weights",
    "james_stein_brand_means",
    # ---- round 7 ----
    "repeated_span_exact_dedup",
    "incremental_span_dedup",
    "span_dedup_savings_curve",
    "image_perceptual_hashes",
    "image_phash_neardup_pairs",
    "stream_phash_dedup_maintenance",
    "curation_keep_manifest",
    "chunk_stitch_overlap_pairs",
    "bpe_merge_learning",
    "bpe_compression_curve",
    "mcnemar_paired_test",
    "order_count_overdispersion",
    "theil_sen_daily_revenue_trend",
    "mutual_knn_graph",
    "basket_rules_support_confidence",
    "kanon_generalization_ladder",
    "file_compaction_plan",
    "array_setop_battery",
    "copurchase_community_modularity",
    "spend_ks_test",
    "shuffle_partition_advisor",
    "categorical_topn_encoding",
    "fim_span_stats",
    "prefix_cache_savings",
    "ann_topk_diversity_filter",
    "event_cooldown_dedup",
    "event_rate_spike_flags",
    "orc_roundtrip_integrity",
    "embedding_drift_by_dim",
    "neyman_allocation",
    "ann_filtered_topk",
    "golden_record_consolidation",
    "scd2_asof_fact_join",
    "brand_discount_elasticity_components",
    "zorder_layout_audit",
    "stream_checksum_maintenance",
    "pareto_frontier_orders",
    "neardup_split_leakage",
    "chunk_dedup_savings",
    "containment_neardup_pairs",
    "bloom_filter_fp_audit",
    "column_encoding_advisor",
    "join_cardinality_estimate",
    "table_checksum_by_segment",
    "snapshot_table_diff",
    "customer_features",
    "churn_labels",
    "training_snapshot",
    "pricing_summary",
    "top_revenue_orders",
    "revenue_by_nation",
    "dedup_latest_per_key",
    "latest_order_per_customer",
    "cumulative_customer_spend",
    "asof_purchase_click",
    "event_sessions",
    "event_json_kpi",
    "exact_dedup_groups",
    "minhash_lsh_pairs",
    "embedding_neardup_pairs",
    "cosine_topk_bruteforce",
    "ann_lsh_topk",
    "doc_quality",
    "doc_fingerprints",
    "corpus_curation",
    "customer_split",
    "stratified_event_sample",
    "orders_trailing_30d",
    "status_priority_cube",
    "benchmark_contamination",
    "priority_line_counts",
    "customer_order_count_dist",
    "doc_sequence_packing",
    "doc_chunks",
    "label_centroid_confusion",
    "cohort_retention",
    "copurchase_part_pairs",
    "session_first_touch",
    "tfidf_top_terms",
    "decayed_customer_spend",
    "event_type_transitions",
    "small_lot_part_revenue",
    "doc_bm25_scores",
    "token_pmi_bigrams",
    "next_purchase_after_click",
    "large_basket_customers",
    "returned_revenue_by_customer",
    "sole_blame_suppliers",
    "order_value_quartile_stats",
    "doc_token_entropy",
    "regional_supplier_volume",
    "basket_association_rules",
    "weighted_order_sample_wor",
    "hard_negative_pairs_ann",
    "source_mixture_resample",
    "doc_novelty",
    "significant_parts",
    "image_decode_stats",
    "audio_decode_stats",
    "video_frame_stats",
    "embedding_int8_quantization",
    "bpe_merge_candidates",
    "temporal_train_val_split",
    "model_eval_metrics",
    # streaming twins (stream_*, stateful_*) are correctness entries,
    # not headline throughput: their wall time is dominated by
    # streaming-query startup/checkpoint machinery, not engine work.
    "segment_modal_priority",
    "orders_table_profile",
    "episode_cumulative_spend",
    # round-4 additions
    "vocab_oov_rate",
    "event_sessions_capped",
    "cross_source_neardup_matrix",
    "matryoshka_recall_eval",
    "user_item_negative_samples",
    "last_purchase_ffill",
    "sql_pricing_summary",
    # round-4b: TPC-H tail + training-set audits
    "forecast_revenue_change",
    "national_market_share",
    "product_profit_by_nation",
    "part_supplier_count",
    "concentrated_suppliers",
    "split_leakage_audit",
    "target_encoding_brand",
    "unigram_lm_doc_scores",
    "semantic_dedup_pairs",
    "video_scene_cuts",
    "audio_activity_windows",
    "image_patch_stats",
    "order_value_mad_outliers",
    "hourly_value_interpolated",
    "cuped_adjusted_spend",
    # round-5 additions: warehouse tier + exact-arithmetic surfaces
    "scd2_priority_history",
    "boolean_agg_battery",
    "percentile_disc_battery",
    "bucketed_colocated_join",
    "event_value_twap",
    "tokenizer_truncation_audit",
    "embedding_power_iteration",
    "churn_hazard_table",
    "image_channel_histogram",
    "source_mixture_token_allocation",
    "curriculum_shard_ordering",
    "dataset_datasheet_by_source",
    "isotonic_calibration",
    "spend_quantile_transform",
    "neardup_threshold_curve",
    "doc_min_bigram_prob",
    "packing_efficiency_report",
    "lsh_bucket_occupancy",
    "dau_wau_stickiness",
    # round-6 additions: capped LSH, decision artifacts, IVF-PQ serving
    "lsh_capped_neardup_pairs",
    "rank_function_battery",
    "revenue_cusum_changepoint",
    "rrf_hybrid_retrieval",
    "incremental_agg_maintenance",
    "embedding_dim_variance_screen",
    "dup_inflation_curve",
    "out_of_order_depth",
    "multi_touch_attribution",
    "user_erasure_audit",
    "skipgram_cooccurrence",
    "embedding_pq_codes",
    "ann_ivfpq_topk",
    "partition_layout_advisor",
    "expanding_window_folds",
    "benford_digit_audit",
    "installment_split_battery",
    "schema_evolution_union",
    "csv_roundtrip_integrity",
    "json_roundtrip_integrity",
    "aqp_sampled_revenue",
    "ann_nprobe_recall_curve",
    "winsorized_spend_stats",
    "rfm_segmentation",
    "neardup_cluster_chain_audit",
    "ship_delay_percentiles",
    "revenue_gini_by_nation",
    "tcloseness_audit",
    "promo_chisq_independence",
    "bootstrap_mean_ci",
    "acctbal_variance_components",
    # round-6 extension batch (rank inference, sketches, graph, layout)
    "mannwhitney_u_quantity",
    "spearman_price_quantity_by_brand",
    "token_spell_variants",
    "zone_map_pruning_audit",
    "kmv_distinct_curve",
    "copurchase_link_prediction",
    "revenue_autocorr_components",
    "equidepth_histogram_stats",
    "churn_gains_table",
    "kcore_peeling_rounds",
    "rolling_median_daily_revenue",
    "promo_did_uplift",
    "simpsons_paradox_screen",
    "event_value_ohlc_hourly",
    "shapley_channel_attribution",
    "kmv_set_overlap_estimate",
    "session_top_paths",
    "incremental_join_maintenance",
    "spell_blocking_quality_eval",
    "threshold_sweep_pr_curve",
    "bootstrap_ab_diff_ci",
    "embedding_density_clusters",
    # round-9 fourth-to-sixth-wave additions
    "gopher_quality_rules",
    "mixture_temperature_allocation",
    "adf_unit_root_screen",
    "variance_ratio_random_walk",
    "copurchase_degree_assortativity",
    "dp_laplace_release_advisor",
    "embedding_grid_range_join",
    "brier_murphy_decomposition",
    "group_sequential_obf_monitor",
    "markov_entropy_rate",
    "rmst_repeat_purchase",
    "ucb_arm_allocation",
    "ipw_ate_promo",
    "markov_absorption_conversion",
    "mattr_lexical_diversity",
    "vocab_jsd_source_drift",
    "label_silhouette_screen",
    "textrank_keywords",
    "pinball_loss_quantile_backtest",
    "term_burstiness_profile",
    "evalue_confounding_bound",
    "eoq_stock_policy",
    "markov_removal_attribution",
    "grid_density_outlier_factor",
    "covariate_balance_smd",
    "haar_energy_decomposition",
    "doc_length_quantile_normalization",
    "theil_inequality_decomposition",
    "consistent_hash_resharding_audit",
    "revenue_delta_contribution",
    "quantile_treatment_effects",
    "slo_burn_rate_alerts",
    "littles_law_audit",
    "value_window_battery",
    "calendar_battery",
    "dow_uniformity_gof",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from ecom_churn_lakehouse_spark import registry
    from ecom_churn_lakehouse_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    # Fail fast on any renamed/removed or repeated headliner BEFORE the
    # timing loop: a KeyError halfway through a multi-minute run loses
    # every prior timing, and a repeated name is timed twice and
    # overwrites its own entry in the per-query map.
    missing = [n for n in HEADLINE if n not in qs]
    if missing:
        raise SystemExit(f"bench: HEADLINE names not in registry: {missing}")
    repeated = sorted({n for n in HEADLINE if HEADLINE.count(n) > 1})
    if repeated:
        raise SystemExit(f"bench: HEADLINE names listed twice: {repeated}")

    # Warm the JVM/codegen paths once on the smallest fixture.
    qs["pricing_summary"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()

    # Prime the OS page cache for every input table at the bench SF:
    # the measurement below is steady-state engine throughput, not
    # cold-disk I/O (one full-scan count per table, outside the timed
    # region — the same state a long-lived cluster session is in).
    from ecom_churn_lakehouse_spark.sources import load_events, load_table

    for _t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        try:
            # events needs its reader (nanosAsLong conf + ts
            # normalization) — plain load_table raises on a
            # nanos-encoded fixture and would silently skip priming.
            df = (
                load_events(spark, sf_dir)
                if _t == "events"
                else load_table(spark, sf_dir, _t)
            )
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # a missing optional table must not break the bench

    # Three runs per query, report the min: run 1 pays one-time codegen
    # / plan-compilation latency; later runs are the steady-state
    # throughput a long-lived cluster session sees, which is what the
    # reference comparison is about. min-of-3 damps local[32] GC and
    # machine-load noise (round-over-round comparisons showed ~1.4x
    # whole-suite swings from host state alone).
    RUNS = 3
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    # Host load context travels WITH the number: the committed r5 local
    # snapshot was ~30% above the driver's run of identical code purely
    # from background load, and the raw figure is what gets diffed.
    try:
        loadavg = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover
        loadavg = None
    result = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": RUNS,
        "aggregation": "min",
        "loadavg_1_5_15": loadavg,
    }
    # Full result first (informational), then a COMPACT line as the
    # very LAST stdout write: the driver parses its own stdout-tail
    # capture, and two rounds running (r3, r4) the 84-query map plus
    # Spark progress spam overflowed that window -> "parsed": null.
    # The compact line is small enough that the tail window always
    # contains one complete parseable object; the full per-query map
    # lives in the on-disk BENCH.json.
    print(json.dumps(result))
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.json"),
    )
    try:
        with open(out_path, "w") as fh:
            json.dump(result, fh, indent=1)
            fh.write("\n")
    except OSError as e:  # pragma: no cover
        print(f"bench: could not write {out_path}: {e}", file=sys.stderr)
    compact = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "runs_per_query": RUNS,
        "aggregation": "min",
        "queries_detail": out_path,
        "loadavg_1_5_15": loadavg,
        "queries_sha256": hashlib.sha256(
            json.dumps(timings, sort_keys=True).encode()
        ).hexdigest()[:16],
    }
    sys.stdout.flush()
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
