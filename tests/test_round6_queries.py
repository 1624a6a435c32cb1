"""Behavioral invariants for the round-6 entries — properties the
row-hash oracle can't state (conservation laws, monotonicity, packing
bijectivity), per SURVEY §5's golden-test strategy."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecom_churn_lakehouse_spark.registry import queries

SF = "/root/testdata/sf0.001"


def test_pq_code_roundtrips_to_subspace_assignments(spark):
    # the packed 16-bit code must decode back to 8 valid 2-bit codes,
    # and identical vectors must get identical codes
    rows = queries()["embedding_pq_codes"](spark, SF).collect()
    assert rows
    for r in rows:
        code = r["pq_code"]
        assert 0 <= code < 4**8
        assert r["q_err_micro"] >= 0
    # seed vectors ARE the codebook: vec 0..3 must self-assign with
    # zero reconstruction error in every subspace
    by_id = {r["vec_id"]: r for r in rows}
    for cid in range(4):
        expected = sum(cid << (2 * m) for m in range(8))
        assert by_id[cid]["pq_code"] == expected
        assert by_id[cid]["q_err_micro"] == 0


def test_attribution_credit_is_conserved_per_purchase(spark):
    # per purchase, assigned credit never exceeds 1.0 and reaches it
    # exactly when flooring loses nothing (k<=2 or (k-2) | 200000)
    ev = queries()
    df = ev["multi_touch_attribution"](spark, SF)
    rows = {r["position_class"]: r for r in df.collect()}
    assert set(rows) <= {"only", "first", "middle", "last"}
    # U-shape: first and last class totals are equal by construction
    if "first" in rows and "last" in rows:
        assert rows["first"]["n_credits"] == rows["last"]["n_credits"]
        assert (
            rows["first"]["credit_micro_sum"]
            == rows["last"]["credit_micro_sum"]
        )
    for r in rows.values():
        assert 0 < r["credit_micro_sum"] <= r["n_credits"] * 1_000_000


def test_erasure_cascade_counts_are_internally_consistent(spark):
    rows = {
        r["table_name"]: r["n_rows_to_delete"]
        for r in queries()["user_erasure_audit"](spark, SF).collect()
    }
    assert set(rows) == {"customer", "orders", "lineitem", "events"}
    # a cascade can only fan out: lineitem rows require their order
    if rows["orders"] == 0:
        assert rows["lineitem"] == 0
    assert all(v >= 0 for v in rows.values())


def test_rrf_scores_bounded_and_sorted(spark):
    rows = queries()["rrf_hybrid_retrieval"](spark, SF).collect()
    assert 0 < len(rows) <= 20
    scores = [r["rrf_micro"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # max possible: rank 1 in both lists
    assert all(0 < s <= 2 * (1_000_000 // 61) for s in scores)


def test_mv_maintenance_equals_recompute(spark):
    got = {
        r["nation"]: (r["n_orders"], r["revenue_cents"])
        for r in queries()["incremental_agg_maintenance"](spark, SF).collect()
    }
    # independent recompute in one shot
    from ecom_churn_lakehouse_spark.sources import load_table

    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer")
    nation = load_table(spark, SF, "nation")
    full = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    want = {r["nation"]: (r["n"], r["cents"]) for r in full.collect()}
    assert got == want


def test_cusum_peak_is_argmax_of_statistic(spark):
    rows = queries()["revenue_cusum_changepoint"](spark, SF).collect()
    assert len(rows) == 5
    stats = [r["cusum_stat"] for r in rows]
    assert stats == sorted(stats, reverse=True)
    assert all(s >= 0 for s in stats)
    assert len({r["day"] for r in rows}) == 5


def test_variance_screen_nonnegative_and_complete(spark):
    rows = queries()["embedding_dim_variance_screen"](spark, SF).collect()
    assert sorted(r["dim_idx"] for r in rows) == list(range(64))
    assert all(r["var_micro2"] >= 0 for r in rows)
    n = {r["n_vecs"] for r in rows}
    assert len(n) == 1  # every dimension sees every vector


def test_largest_remainder_allocation_conserves_budget(spark):
    # Hamilton apportionment: allocations are floor or floor+1 and sum
    # EXACTLY to the budget — the property that distinguishes it from
    # independent rounding (which drifts).
    rows = queries()["largest_remainder_allocation"](spark, SF).collect()
    assert rows
    assert sum(r["alloc_units"] for r in rows) == 1_000_000
    for r in rows:
        assert r["alloc_units"] in (r["floor_units"], r["floor_units"] + 1)
    # extra units go to the smallest remainder ranks: the set of
    # rank values receiving +1 must be a prefix of 1..n
    extra_ranks = sorted(
        r["remainder_rank"] for r in rows if r["alloc_units"] > r["floor_units"]
    )
    assert extra_ranks == list(range(1, len(extra_ranks) + 1))


def test_activity_streaks_partition_days_exactly(spark):
    # islands partition the active-day set: streak days sum to
    # distinct active days, and every streak is at least 1 day
    df = queries()["user_activity_streaks"](spark, SF)
    rows = df.collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_streaks"] <= r["n_active_days"]
        assert r["max_streak_days"] <= r["n_active_days"]
    from ecom_churn_lakehouse_spark.sources import load_table

    truth = (
        load_table(spark, SF, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .groupBy("user_id")
        .count()
        .collect()
    )
    truth_map = {r["user_id"]: r["count"] for r in truth}
    for r in rows:
        assert r["n_active_days"] == truth_map[r["user_id"]]


def test_weighted_median_has_majority_weight_on_both_sides(spark):
    # defining property of the weighted median: weight at or below it
    # and weight at or above it are each >= half the total
    from ecom_churn_lakehouse_spark.sources import load_table

    med = {
        r["brand"]: r
        for r in queries()["weighted_median_price"](spark, SF).collect()
    }
    part = load_table(spark, SF, "part").select(
        "p_partkey",
        "p_brand",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    li = load_table(spark, SF, "lineitem").select("l_partkey", "l_quantity")
    pw = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "price_cents")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
        .collect()
    )
    by_brand = {}
    for r in pw:
        by_brand.setdefault(r["p_brand"], []).append((r["price_cents"], r["w"]))
    for brand, pairs in by_brand.items():
        m = med[brand]["weighted_median_cents"]
        tot = sum(w for _, w in pairs)
        assert med[brand]["total_weight"] == tot
        below = sum(w for p, w in pairs if p <= m)
        above = sum(w for p, w in pairs if p >= m)
        assert 2 * below >= tot and 2 * above >= tot


def test_drawdown_bounded_by_peak(spark):
    r = queries()["revenue_max_drawdown"](spark, SF).collect()[0]
    assert r["n_days"] > 0
    assert 0 <= r["max_drawdown_micros"] <= r["peak_cum_micros"]


def test_cms_estimate_is_one_sided(spark):
    # count-min guarantee: estimate >= exact count, always
    rows = queries()["cms_heavy_hitters"](spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["cms_estimate"] >= r["exact_count"]
        assert r["overshoot"] == r["cms_estimate"] - r["exact_count"]


def test_mih_bands_cover_hamming_radius_7(spark):
    # pigeonhole: 8 bands over a 64-bit code — any pair within Hamming
    # distance 7 differs in at most 7 bands, so at least one band
    # matches exactly and the pair MUST be a candidate. Verify against
    # brute force on the fixture.
    from ecom_churn_lakehouse_spark.queries.hashing_queries import (
        _spark_bands,
        _spark_codes,
    )

    codes = {r["vec_id"]: (r["w0"], r["w1"]) for r in _spark_codes(spark, SF).collect()}
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in queries()["ann_hamming_mih_topk"](spark, SF).collect()
    }
    queries_ids = [v for v in codes if v % 50 == 0]
    for qid in queries_ids:
        qw0, qw1 = codes[qid]
        exact = sorted(
            (
                bin((qw0 ^ w0) | ((qw1 ^ w1) << 32)).count("1"),
                nid,
            )
            for nid, (w0, w1) in codes.items()
            if nid != qid
        )
        close = [(d, nid) for d, nid in exact if d <= 7]
        for d, nid in close[:5]:
            # every radius-<=7 neighbor that brute-force ranks in the
            # top-5 must have been found by the banded candidates
            top5 = exact[:5]
            if (d, nid) in top5:
                assert (qid, nid) in got, (qid, nid, d)


def test_knn_consensus_ppm_is_bounded_and_exact(spark):
    rows = queries()["knn_label_consensus"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r["k_used"] <= 5
        assert 0 <= r["agree_ppm"] <= 1_000_000
        # ppm is exactly floor(agree * 1e6 / k): reconstructible
        agree = r["agree_ppm"] * r["k_used"] // 1_000_000
        assert agree * 1_000_000 // r["k_used"] == r["agree_ppm"]


def test_zipf_ranks_are_dense_and_ordered(spark):
    rows = sorted(
        queries()["token_zipf_constant"](spark, SF).collect(),
        key=lambda r: r["rank"],
    )
    assert rows
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    counts = [r["token_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r["zipf_k"] == r["rank"] * r["token_count"]


def test_index_decomposition_identity_holds_to_ppm(spark):
    # value index ~= price index x volume index, up to ppm flooring
    rows = queries()["unit_value_index_decomposition"](spark, SF).collect()
    assert rows
    for r in rows:
        approx = r["unit_value_index_ppm"] * r["volume_index_ppm"] // 1_000_000
        # two floors, each off by < 1 ppm of the other factor
        assert abs(approx - r["value_index_ppm"]) <= max(
            2, r["volume_index_ppm"] // 500_000 + 2
        )
        assert r["qty1"] > 0 and r["qty2"] > 0 and r["rev1_micros"] > 0


def test_fd_audit_schema_contracts_hold(spark):
    rows = {
        (r["table_name"], r["lhs"], r["rhs"]): r
        for r in queries()["functional_dependency_audit"](spark, SF).collect()
    }
    # key -> attribute FDs MUST hold
    assert rows[("nation", "n_nationkey", "n_regionkey")]["fd_holds"]
    assert rows[("part", "p_partkey", "p_name")]["fd_holds"]
    for r in rows.values():
        assert r["max_rhs_fanout"] >= 1
        assert (r["n_violating_lhs"] == 0) == r["fd_holds"]


def test_ldiversity_bounded_by_cell_size_and_domain(spark):
    rows = queries()["ldiversity_audit"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r["distinct_sensitive"] <= min(r["cell_rows"], 5)
        assert r["meets_l"] == (r["distinct_sensitive"] >= 3)


def test_cohort_ltv_is_cumulative_and_conserves_revenue(spark):
    from ecom_churn_lakehouse_spark.sources import load_table

    rows = queries()["cohort_ltv_curve"](spark, SF).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault((r["cohort_year"], r["cohort_month"]), []).append(r)
    grand = 0
    for _, rs in by_cohort.items():
        rs.sort(key=lambda r: r["age_months"])
        cum = 0
        for r in rs:
            cum += r["rev_cents"]
            assert r["cum_rev_cents"] == cum
        grand += cum
    truth = (
        load_table(spark, SF, "orders")
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            ).alias("c")
        )
        .collect()[0]["c"]
    )
    assert grand == truth  # every order lands in exactly one (cohort, age)


def test_interval_overlap_pairs_are_symmetric_free_and_positive(spark):
    rows = queries()["order_interval_overlap_pairs"](spark, SF).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["orderkey_a"] < r["orderkey_b"]
        assert 1 <= r["overlap_days"] <= 7
        key = (r["custkey"], r["orderkey_a"], r["orderkey_b"])
        assert key not in seen
        seen.add(key)


# ---------------- round-6 extension batch (post-closing session) ----------


def test_kcore_peel_is_monotone_and_consistent(spark):
    rows = queries()["kcore_peeling_rounds"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["removed_in_round"] in (0, 1, 2, 3)
        assert 0 <= r["degree_after_peel"] <= r["initial_degree"]
        if r["removed_in_round"] == 1:
            # removed immediately -> the node never met the core bar
            assert r["initial_degree"] < 2
        if r["removed_in_round"] in (1, 2, 3):
            assert r["degree_after_peel"] == 0


def test_gains_table_cumulative_capture_is_monotone_to_one(spark):
    rows = sorted(
        queries()["churn_gains_table"](spark, SF).collect(), key=lambda r: r["decile"]
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    caps = [r["cum_captured_ppm"] for r in rows]
    assert all(a <= b for a, b in zip(caps, caps[1:]))
    assert caps[-1] == 1_000_000
    for r in rows:
        assert 0 <= r["churn_rate_ppm"] <= 1_000_000
        assert r["n_churned"] <= r["n"]


def test_kmv_estimate_is_sane(spark):
    rows = queries()["kmv_distinct_curve"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["est"] > 0
        assert r["n_exact"] > 0
        # deterministic fixture; generous 80% band guards the estimator
        # wiring (k-1 numerator, domain constant), not sketch variance
        assert r["abs_err_ppm"] < 800_000
    # more hashes -> the k used must be <= exact distinct count
    assert all(r["k"] <= r["n_exact"] for r in rows)


def test_zone_map_sorted_layout_dominates_hash(spark):
    rows = {r["layout"]: r for r in queries()["zone_map_pruning_audit"](spark, SF).collect()}
    assert set(rows) == {"date_sorted", "key_clustered", "hash_random"}
    # every layout sees the same table and the same true matches
    matched = {r["rows_matched"] for r in rows.values()}
    assert len(matched) == 1
    assert rows["date_sorted"]["prune_ratio_ppm"] >= rows["hash_random"]["prune_ratio_ppm"]
    assert rows["date_sorted"]["rows_scanned"] <= rows["hash_random"]["rows_scanned"]
    for r in rows.values():
        assert r["rows_scanned"] >= r["rows_matched"]


def test_mannwhitney_u_is_in_range(spark):
    (r,) = queries()["mannwhitney_u_quantity"](spark, SF).collect()
    n1, n2 = r["n1"], r["n2"]
    u1_x2 = int(r["u1_x2"])
    assert 0 <= u1_x2 <= 2 * n1 * n2
    # R1 is at least the minimum possible rank sum n1*(n1+1)/2 (doubled)
    assert int(r["r1_x2"]) >= n1 * (n1 + 1)
    assert int(r["tie_cubes"]) >= 0


def test_spearman_rho_is_bounded(spark):
    rows = queries()["spearman_price_quantity_by_brand"](spark, SF).collect()
    assert rows
    for r in rows:
        assert -1_000_000 <= r["rho_ppm"] <= 1_000_000
        assert int(r["sum_d2sq"]) >= 0


def test_spell_variants_fold_into_higher_frequency(spark):
    rows = queries()["token_spell_variants"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["tok_a"] < r["tok_b"]
        assert 0 < r["dist"] <= 3
        tf = {r["tok_a"]: r["tf_a"], r["tok_b"]: r["tf_b"]}
        assert tf[r["fold_into"]] == max(r["tf_a"], r["tf_b"])


def test_rolling_median_is_within_window_extremes(spark):
    rows = queries()["rolling_median_daily_revenue"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_days_in_window"] <= 15
        assert r["min_cents"] <= r["median_cents"] <= r["max_cents"]


def test_link_prediction_scores_are_valid(spark):
    rows = queries()["copurchase_link_prediction"](spark, SF).collect()
    assert rows
    rks = sorted(r["rk"] for r in rows)
    assert rks == list(range(1, len(rows) + 1))
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert r["cn"] >= 1
        assert 0 < r["jaccard_ppm"] <= 1_000_000
        assert r["cn"] <= min(r["deg_a"], r["deg_b"])


def test_did_is_exact_cell_arithmetic(spark):
    (r,) = queries()["promo_did_uplift"](spark, SF).collect()
    assert r["did_micro"] == (r["mean_tp_micro"] - r["mean_t0_micro"]) - (
        r["mean_cp_micro"] - r["mean_c0_micro"]
    )
    for c in ("n_tp", "n_t0", "n_cp", "n_c0"):
        assert r[c] > 0


def test_simpson_screen_signs_match_numerators(spark):
    rows = queries()["simpsons_paradox_screen"](spark, SF).collect()
    assert rows
    pooled = {r["pooled_sign"] for r in rows}
    assert len(pooled) == 1  # one pooled sign shared by every row
    for r in rows:
        num = int(r["slope_num"])
        expect = 1 if num > 0 else (-1 if num < 0 else 0)
        assert r["brand_sign"] == expect
        assert r["sign_flipped"] == (r["brand_sign"] != r["pooled_sign"])


def test_ohlc_bars_are_ordered(spark):
    rows = queries()["event_value_ohlc_hourly"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["low_cents"] <= r["open_cents"] <= r["high_cents"]
        assert r["low_cents"] <= r["close_cents"] <= r["high_cents"]
        assert r["n_events"] >= 1


def test_shapley_credit_conserves_total_conversion_mass(spark):
    rows = queries()["shapley_channel_attribution"](spark, SF).collect()
    assert rows
    # every converting user's 6 sixths are fully distributed over their
    # channels, so total credit == 6 * (conversions with >=1 channel)
    total_sixths = sum(r["shapley_sixths"] for r in rows)
    assert total_sixths % 6 == 0
    shares = sum(r["credit_share_ppm"] for r in rows)
    assert shares <= 1_000_000  # floor-division undershoot only


def test_kmv_overlap_estimates_are_consistent(spark):
    (r,) = queries()["kmv_set_overlap_estimate"](spark, SF).collect()
    assert 0 <= r["n_common"] <= r["k"]
    assert r["inter_exact"] <= min(r["n_a"], r["n_b"])
    assert 0 <= r["jaccard_est_ppm"] <= 1_000_000
    assert r["union_est"] > 0 and r["inter_est"] >= 0


def test_session_paths_rank_is_dense_and_ordered(spark):
    rows = sorted(queries()["session_top_paths"](spark, SF).collect(), key=lambda r: r["rk"])
    assert rows and rows[0]["rk"] == 1
    counts = [r["n_sessions"] for r in rows]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert all(">" in r["path"] or r["path"] for r in rows)


def test_pr_curve_recall_monotone_precision_bounded(spark):
    rows = sorted(queries()["threshold_sweep_pr_curve"](spark, SF).collect(), key=lambda r: r["cut"])
    assert [r["cut"] for r in rows] == list(range(1, 11))
    recalls = [r["recall_ppm"] for r in rows]
    assert all(a <= b for a, b in zip(recalls, recalls[1:]))
    assert recalls[-1] == 1_000_000
    for r in rows:
        assert 0 <= r["precision_ppm"] <= 1_000_000
        assert r["true_positives"] <= r["n_flagged"]


def test_ab_bootstrap_has_exactly_one_lo_and_hi(spark):
    rows = queries()["bootstrap_ab_diff_ci"](spark, SF).collect()
    assert len(rows) == 32
    roles = [r["ci_role"] for r in rows]
    assert roles.count("lo") == 1 and roles.count("hi") == 1
    lo = next(r for r in rows if r["ci_role"] == "lo")
    hi = next(r for r in rows if r["ci_role"] == "hi")
    assert lo["diff_micro_cents"] <= hi["diff_micro_cents"]


def test_density_cluster_cores_meet_min_pts(spark):
    rows = queries()["embedding_density_clusters"](spark, SF).collect()
    assert rows
    for r in rows:
        if r["role"] == "core":
            assert r["n_neighbors"] >= 2
        assert r["cluster_id"] is not None
    # cluster ids are the min core id of the component
    by_cluster = {}
    for r in rows:
        if r["role"] == "core":
            by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
    for cid, members in by_cluster.items():
        assert cid == min(members)


def test_incremental_join_matches_direct_join(spark):
    from pyspark.sql import functions as F

    from ecom_churn_lakehouse_spark.sources import load_table

    maintained = {
        r["segment"]: (r["n_orders"], r["revenue_cents"])
        for r in queries()["incremental_join_maintenance"](spark, SF).collect()
    }
    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer")
    direct = {
        r["segment"]: (r["n"], r["cents"])
        for r in orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .collect()
    }
    assert maintained == direct
