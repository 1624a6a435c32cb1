"""Behavioral invariants for the skyline, near-dup leakage, and
chunk-dedup-savings entries."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecom_churn_lakehouse_spark.registry import queries

SF = "/root/testdata/sf0.001"


def test_skyline_is_mutually_non_dominated_and_complete(spark):
    sky = queries()["pareto_frontier_orders"](spark, SF).collect()
    assert sky
    pts = [(r["price_cents"], r["fulfillment_days"]) for r in sky]
    # no skyline point dominates another
    for p, d in pts:
        for p2, d2 in pts:
            assert not (p2 >= p and d2 <= d and (p2 > p or d2 < d))
    # frontier is strictly monotone: sorted by days asc, price strictly inc... 
    # (price must INCREASE as latency increases, else the faster one dominates)
    uniq = sorted(set(pts), key=lambda t: t[1])
    for (p1, d1), (p2, d2) in zip(uniq, uniq[1:]):
        assert d2 > d1 and p2 > p1


def test_skyline_dominates_every_order(spark):
    from ecom_churn_lakehouse_spark.sources import load_table
    from pyspark.sql import functions as F

    sky = queries()["pareto_frontier_orders"](spark, SF).collect()
    pts = sorted({(r["fulfillment_days"], r["price_cents"]) for r in sky})
    # every order is dominated-or-equal by some skyline point: for its
    # fulfillment_days, the skyline's best price at <= days is >= its price
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey",
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("p"),
    )
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_shipdate")
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "p")
        .agg(F.max(F.datediff("l_shipdate", "o_orderdate")).alias("d"))
    ).collect()
    import bisect

    days = [d for d, _ in pts]
    best = []
    cur = -1
    for _, p in pts:
        cur = max(cur, p)
        best.append(cur)
    for r in per_order:
        i = bisect.bisect_right(days, r["d"]) - 1
        if i >= 0:
            assert best[i] >= r["p"]


def test_neardup_leakage_classes_are_cross_split_only(spark):
    rows = queries()["neardup_split_leakage"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["split_lo"] != r["split_hi"]
        assert r["split_lo"] < r["split_hi"]
        # a pair involves exactly 2 docs, a doc can appear in many pairs
        assert r["n_leaked_docs"] <= 2 * r["n_pairs"]
        assert r["n_pairs"] >= 1


def test_chunk_savings_conserve_and_detect_planted_dups(spark):
    rows = {r["is_full_chunk"]: r for r in queries()["chunk_dedup_savings"](spark, SF).collect()}
    assert set(rows) == {True, False}
    for r in rows.values():
        assert r["n_unique_chunks"] + r["n_dup_chunks"] == r["n_chunks"]
        assert 0 <= r["savings_ppm"] < 1_000_000
    # planted exact doc copies guarantee duplicate full chunks
    assert rows[True]["n_dup_chunks"] > 0


def test_postfilter_is_subset_of_prefilter_with_recall_loss(spark):
    rows = queries()["ann_filtered_topk"](spark, SF).collect()
    pre = {(r["query_id"], r["neighbor_id"]) for r in rows if r["strategy"] == "prefilter"}
    post = {(r["query_id"], r["neighbor_id"]) for r in rows if r["strategy"] == "postfilter"}
    assert pre and post
    # every postfilter survivor is also found by prefilter (both exact
    # over the same predicate; postfilter can only lose neighbors)
    assert post <= pre
    # per query, postfilter returns at most as many neighbors
    from collections import Counter

    cpre = Counter(q for q, _ in pre)
    cpost = Counter(q for q, _ in post)
    for q in cpre:
        assert cpost.get(q, 0) <= cpre[q] == 5


def test_golden_record_survivorship_rules(spark):
    rows = {r["entity_key"]: r for r in queries()["golden_record_consolidation"](spark, SF).collect()}
    assert rows
    for k, r in rows.items():
        in_web = k % 8 == 0
        in_billing = k % 5 == 0
        assert r["n_records"] == 1 + in_web + in_billing
        assert r["n_sources"] == r["n_records"]
        # latest non-null wins per column INDEPENDENTLY
        if in_web:
            assert r["segment"] == "UPGRADED"
        if in_billing:
            assert r["latest_recency"] == 3
        assert r["segment"] is not None and r["acctbal_cents"] is not None


def test_embedding_drift_cohorts_partition_and_shift_is_consistent(spark):
    import duckdb

    rows = queries()["embedding_drift_by_dim"](spark, SF).collect()
    n_vecs = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF}/embeddings.parquet'"
    ).fetchone()[0]
    dims = {r["dim_idx"] for r in rows}
    assert dims == set(range(len(dims)))
    for r in rows:
        assert r["n_old"] + r["n_new"] == n_vecs
        assert r["shift_micro"] == r["mean_new_micro"] - r["mean_old_micro"]
        # unit-ish embeddings: per-dim means stay inside [-1, 1]
        assert -1_000_000 <= r["mean_old_micro"] <= 1_000_000


def test_spike_flags_warmup_excluded_and_bound_consistent(spark):
    import math

    rows = queries()["event_rate_spike_flags"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["trail_n"] == 24  # warm-up rows excluded, full window only
        mean = r["trail_sum"] / r["trail_n"]
        bound = math.floor((mean + 3.0 * math.sqrt(mean)) * 1000.0)
        assert r["bound_milli"] == bound
        assert r["is_spike"] == (r["n_events"] * 1000 > bound)


def test_cooldown_dedup_keeps_at_least_one_per_key_and_bounds(spark):
    rows = queries()["event_cooldown_dedup"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_kept"] <= r["n_raw"]
        assert 0 <= r["suppressed_ppm"] < 1_000_000
        # exact ppm recomputation
        assert r["suppressed_ppm"] == (r["n_raw"] - r["n_kept"]) * 1_000_000 // r["n_raw"]


def test_prefix_cache_savings_monotonic_structure(spark):
    rows = {r["prefix_k"]: r for r in queries()["prefix_cache_savings"](spark, SF).collect()}
    assert set(rows) == {16, 32, 64}
    for r in rows.values():
        assert r["n_groups"] <= r["n_docs"]
        assert r["tokens_saved"] == (r["n_docs"] - r["n_groups"]) * r["prefix_k"]
        assert 0 <= r["savings_ppm"] < 1_000_000
    # longer prefixes qualify fewer docs
    assert rows[16]["n_docs"] >= rows[32]["n_docs"] >= rows[64]["n_docs"]


def test_diversity_filter_rank1_never_redundant(spark):
    rows = queries()["ann_topk_diversity_filter"](spark, SF).collect()
    assert rows
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in rows:
        per_q[r["query_id"]].append(r)
    for q, lst in per_q.items():
        lst.sort(key=lambda r: r["rank"])
        assert lst[0]["is_redundant"] is False  # nothing ranks above #1
        assert [r["rank"] for r in lst] == list(range(1, len(lst) + 1))
        # sims are non-increasing down the list
        sims = [r["cosine_sim"] for r in lst]
        assert all(a >= b for a, b in zip(sims, sims[1:]))


def test_fim_spans_partition_documents_nonempty(spark):
    rows = queries()["fim_span_stats"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["prefix_len"] >= 1 and r["middle_len"] >= 1 and r["suffix_len"] >= 1
        assert r["prefix_len"] + r["middle_len"] + r["suffix_len"] == r["n_tokens"]
        assert r["prefix_len"] <= r["n_tokens"] // 3
        assert 0 < r["middle_frac_ppm"] <= 400_000


def test_modularity_identities(spark):
    rows = queries()["copurchase_community_modularity"](spark, SF).collect()
    assert rows
    m = rows[0]["m"]
    # sum of degrees = 2m; internal edges bounded by degree/2; Q_i in [-1, 1]
    assert sum(r["a_deg"] for r in rows) == 2 * m
    for r in rows:
        assert r["m"] == m
        assert 2 * r["e_in"] <= r["a_deg"]
        assert -1_000_000 <= r["q_contrib_ppm"] <= 1_000_000
    # total modularity of any partition is < 1
    assert sum(r["q_contrib_ppm"] for r in rows) < 1_000_000
