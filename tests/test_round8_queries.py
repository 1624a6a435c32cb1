"""Round-8 regression tests: r7 ADVICE fixes (family-size guard on the
multiple-testing screens, Mann-Kendall tie correction, floored-critical
comparison convention) and the new round-8 operators."""

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- Holm/BH guard


def test_holm_threshold_guard_nulls_on_family_drift(spark):
    """r7 advice: the m=25 critical-value tables must never silently
    fall back to the unadjusted 1.96 when the family size drifts."""
    from ecom_churn_lakehouse_spark.queries.inference_queries import (
        _bh_threshold_case,
        _holm_threshold_case,
    )

    rows = spark.sql(
        f"""
        SELECT rnk, m_tests,
               {_holm_threshold_case("rnk")} AS holm_thr,
               {_bh_threshold_case("rnk")} AS bh_thr
        FROM VALUES (1L, 25L), (25L, 25L), (1L, 26L), (26L, 26L), (3L, 24L)
             AS t(rnk, m_tests)
        """
    ).collect()
    by = {(r["rnk"], r["m_tests"]): r for r in rows}
    # correct family size: rank-specific thresholds
    assert by[(1, 25)]["holm_thr"] == 3090
    assert by[(25, 25)]["holm_thr"] == 1960
    assert by[(1, 25)]["bh_thr"] == 3090
    assert by[(25, 25)]["bh_thr"] == 1960
    # drifted family size: NULL (fail closed), never 1960
    for key in [(1, 26), (26, 26), (3, 24)]:
        assert by[key]["holm_thr"] is None
        assert by[key]["bh_thr"] is None


def test_holm_bh_m_tests_column_on_fixture(spark):
    from ecom_churn_lakehouse_spark.queries.inference_queries import (
        q_bh_fdr_brand_screen,
        q_holm_stepdown_brand_screen,
    )

    holm = q_holm_stepdown_brand_screen(spark, SF).collect()
    bh = q_bh_fdr_brand_screen(spark, SF).collect()
    assert all(r["m_tests"] == 25 for r in holm)
    assert all(r["m_tests"] == 25 for r in bh)
    assert all(r["threshold_milli"] is not None for r in holm)
    assert all(r["threshold_milli"] is not None for r in bh)


# ------------------------------------------------------- Mann-Kendall tie term


def test_mann_kendall_tie_correction_planted():
    """Planted daily series with deliberate ties: 10, 20, 20, 30, 20.
    S over i<j sign pairs; tie group t=3 at y=20 contributes
    t(t-1)(2t+5) = 3*2*11 = 66 to the correction."""
    from ecom_churn_lakehouse_spark.queries.inference_queries import _MK_SQL

    con = duckdb.connect()
    con.execute(
        """
        CREATE VIEW orders AS
        SELECT * FROM (VALUES
            (DATE '1995-01-01', CAST(0.10 AS DOUBLE)),
            (DATE '1995-01-02', CAST(0.20 AS DOUBLE)),
            (DATE '1995-01-03', CAST(0.20 AS DOUBLE)),
            (DATE '1995-01-04', CAST(0.30 AS DOUBLE)),
            (DATE '1995-01-05', CAST(0.20 AS DOUBLE))
        ) AS t(o_orderdate, o_totalprice)
        """
    )
    row = con.sql(_MK_SQL).fetchone()
    cols = [d[0] for d in con.sql(_MK_SQL).description]
    r = dict(zip(cols, row))
    assert r["n_days"] == 5
    assert r["n_pairs"] == 10
    # pairs: (10,20)+ (10,20)+ (10,30)+ (10,20)+ (20,20)0 (20,30)+ (20,20)0
    #        (20,30)+ (20,20)0 (30,20)-  ->  S = 6 - 1 = 5
    assert r["s_stat"] == 5
    assert r["tie_term"] == 66
    # Var = (5*4*15 - 66)/18 = 234/18 = 13.0; z = (5-1)/sqrt(13)
    import math

    assert r["z_milli"] == math.floor((5 - 1) / math.sqrt(13.0) * 1000)


def test_mann_kendall_fixture_has_tie_term_column(spark):
    from ecom_churn_lakehouse_spark.queries.inference_queries import (
        q_mann_kendall_trend,
    )

    row = q_mann_kendall_trend(spark, SF).collect()[0]
    assert row["tie_term"] >= 0
    assert row["tie_term"] % 2 == 0  # t(t-1)(2t+5) is always even


# ------------------------------------------------- floored-critical convention


def test_rejection_thresholds_use_floored_millis():
    """Every floored-milli statistic must compare against the FLOORED
    critical value so both sides share one quantization convention."""
    import re
    from pathlib import Path

    qdir = Path("ecom_churn_lakehouse_spark/queries")
    src = "".join(p.read_text() for p in qdir.glob("*.py"))
    # the historical off-by-one literals must not reappear in a
    # rejection comparison (floor(9.48773*1000)=9487, floor(1.95996e3)=1959,
    # floor(2.37193*1000)=2371)
    for bad in (r"> 9488", r"> 1960 AS reject", r"> 2372"):
        assert not re.search(bad, src), f"rounded critical leaked: {bad}"


# ----------------------------------------------------- cramers_v densification


def test_cramers_v_dense_spine_counts(spark):
    """The contingency spine must be |levels_a| x |levels_b| dense:
    chi2 contributions from empty cells included (r7 advice fix).
    priority_x_status at the fixture has 5x3 = 15 spine cells while
    observed cells can be fewer; the Pearson identity chi2 >= 0 and
    V <= 1000 still hold, and both engines agree (oracle-checked)."""
    from ecom_churn_lakehouse_spark.queries.feature_queries import (
        q_cramers_v_matrix,
    )

    rows = {r["pair"]: r for r in q_cramers_v_matrix(spark, SF).collect()}
    assert set(rows) == {
        "segment_x_region",
        "segment_x_priority",
        "priority_x_status",
    }
    for r in rows.values():
        assert r["chi2_micro"] >= 0
        assert 0 <= r["cramers_v_milli"] <= 1000


# ------------------------------------------------------------ Bradley-Terry


def test_bradley_terry_planted_order():
    """Planted duels: brand A outspends B, B outspends C, A outspends C
    in every shared order -> MM strengths must rank A > B > C."""
    from ecom_churn_lakehouse_spark.queries.decision_queries import _bt_sql

    con = duckdb.connect()
    # 3 parts (one per brand), 4 orders, each order contains all three
    # brands with spend A=30 > B=20 > C=10 dollars
    con.execute(
        """
        CREATE VIEW part AS SELECT * FROM (VALUES
            (1, 'Brand#A'), (2, 'Brand#B'), (3, 'Brand#C')
        ) AS t(p_partkey, p_brand)
        """
    )
    con.execute(
        """
        CREATE VIEW lineitem AS
        SELECT o AS l_orderkey, pk AS l_partkey,
               CAST(price AS DOUBLE) AS l_extendedprice
        FROM (VALUES
            (1, 1, 30.0), (1, 2, 20.0), (1, 3, 10.0),
            (2, 1, 30.0), (2, 2, 20.0), (2, 3, 10.0),
            (3, 1, 30.0), (3, 2, 20.0), (3, 3, 10.0),
            (4, 1, 30.0), (4, 2, 20.0), (4, 3, 10.0)
        ) AS t(o, pk, price)
        """
    )
    rows = con.sql(_bt_sql("duck")).df().to_dict("records")
    by_rank = sorted(rows, key=lambda r: r["rnk"])
    assert [r["brand"] for r in by_rank] == ["Brand#A", "Brand#B", "Brand#C"]
    assert by_rank[0]["strength_micro"] > by_rank[1]["strength_micro"]
    assert by_rank[1]["strength_micro"] > by_rank[2]["strength_micro"]
    # A won all 8 of its duels, C none
    assert by_rank[0]["wins"] == 8 and by_rank[0]["matches"] == 8
    assert by_rank[2]["wins"] == 0


def test_bradley_terry_fixture_invariants(spark):
    from ecom_churn_lakehouse_spark.queries.decision_queries import (
        q_bradley_terry_brand_strengths,
    )

    rows = q_bradley_terry_brand_strengths(spark, SF).collect()
    assert len(rows) == 25
    assert sorted(r["rnk"] for r in rows) == list(range(1, 26))
    total = sum(r["strength_micro"] for r in rows)
    # normalized to 25e6 micro each iteration, modulo the 10k floor
    # and per-row floor-division loss (<= 25 micro total)
    assert abs(total - 25_000_000) < 300_000
    for r in rows:
        assert 0 <= r["wins"] <= r["matches"]
        assert r["strength_micro"] >= 10_000


# ----------------------------------------------------------------- SemDeDup


def _planted_embeddings_sql(con):
    """Two well-separated sign-pattern clusters (A: +first-half dims,
    B: -first-half) of 3 and 2 members plus one lone outlier, 64 dims.
    Within-cluster sign codes are identical -> banded candidates stay
    cluster-local; cross-cluster codes differ in every band."""
    import numpy as np

    rng_rows = []
    base_a = [1.0] * 32 + [-1.0] * 32
    base_b = [-1.0] * 32 + [1.0] * 32
    outlier = ([1.0, -1.0] * 32)
    # jitter magnitudes small enough to never flip a sign
    for vid, base, eps in [
        (0, base_a, 0.00), (1, base_a, 0.01), (2, base_a, 0.02),
        (10, base_b, 0.00), (11, base_b, 0.01),
        (20, outlier, 0.00),
    ]:
        vec = [v + (eps if v > 0 else -eps) for v in base]
        rng_rows.append((vid, vec))
    values = ", ".join(
        f"({vid}, {vec}::FLOAT[], 0)" for vid, vec in rng_rows
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM (VALUES {values})"
        " AS t(vec_id, embedding, label)"
    )


def test_semdedup_planted_clusters():
    from ecom_churn_lakehouse_spark.queries.hashing_queries import (
        _SEMDEDUP_MANIFEST_SQL,
    )

    con = duckdb.connect()
    _planted_embeddings_sql(con)
    rows = con.sql(_SEMDEDUP_MANIFEST_SQL).df().to_dict("records")
    by_vec = {r["vec_id"]: r for r in rows}
    # outlier 20 shares no band with either cluster -> no mutual edge
    assert 20 not in by_vec
    # two clusters: {0,1,2} labeled 0 and {10,11} labeled 10
    assert {r["cluster_id"] for r in rows} == {0, 10}
    assert {v for v, r in by_vec.items() if r["cluster_id"] == 0} == {0, 1, 2}
    assert {v for v, r in by_vec.items() if r["cluster_id"] == 10} == {10, 11}
    # exactly one keeper per cluster, and it has the max centrality
    for cid in (0, 10):
        members = [r for r in rows if r["cluster_id"] == cid]
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1
        best = max(
            members,
            key=lambda r: (r["centrality_micro"], -r["vec_id"]),
        )
        assert keepers[0]["vec_id"] == best["vec_id"]
        assert all(r["cluster_size"] == len(members) for r in members)


def test_semdedup_fixture_keep_policy(spark):
    from ecom_churn_lakehouse_spark.queries.hashing_queries import (
        q_semdedup_keep_manifest,
    )

    rows = q_semdedup_keep_manifest(spark, SF).collect()
    assert rows, "mutual-kNN graph should be non-empty on the fixture"
    clusters = {}
    for r in rows:
        clusters.setdefault(r["cluster_id"], []).append(r)
    for cid, members in clusters.items():
        assert sum(1 for r in members if r["keep"]) == 1
        keeper = next(r for r in members if r["keep"])
        # keeper is the (centrality desc, vec_id asc) argmax
        assert all(
            (keeper["centrality_micro"], -keeper["vec_id"])
            >= (r["centrality_micro"], -r["vec_id"])
            for r in members
        )
        assert all(r["cluster_size"] == len(members) for r in members)
        # min-label convention: the cluster id is a member id
        assert cid == min(r["vec_id"] for r in members)


def test_semdedup_savings_precedence(spark):
    """A doc must claim only its highest-priority reason; ppm math."""
    from ecom_churn_lakehouse_spark.queries.hashing_queries import (
        q_semdedup_savings_by_source,
    )

    rows = q_semdedup_savings_by_source(spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        dropped = r["exact_drop_tokens"] + r["semantic_drop_tokens"]
        assert dropped <= r["total_tokens"]
        assert r["removable_ppm"] == dropped * 1_000_000 // r["total_tokens"]
        assert r["exact_drop_docs"] + r["semantic_drop_docs"] <= r["n_docs"]


# ------------------------------------------- bounded-frame declarations


def test_bounded_frames_reference_real_entries():
    """Every BOUNDED_FRAMES key must name a registered entry (no dead
    declarations), and the global-window detector must classify the
    four window shapes correctly."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ecom_churn_lakehouse_spark import registry
    from ecom_churn_lakehouse_spark.registry import BOUNDED_FRAMES

    qs = registry.queries()
    dead = [k for k in BOUNDED_FRAMES if k not in qs]
    assert not dead, f"BOUNDED_FRAMES keys with no entry: {dead}"


def test_unpartitioned_window_detector_shapes(spark):
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from tools.audit_plans import unpartitioned_windows

    df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("g"))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    def n_global(frame):
        return unpartitioned_windows(
            frame._jdf.queryExecution().explainString(mode)
        )

    assert n_global(
        df.select(F.row_number().over(Window.orderBy("id")).alias("r"))
    ) == 1
    assert n_global(
        df.select(
            F.row_number().over(Window.partitionBy("g").orderBy("id")).alias("r")
        )
    ) == 0
    assert n_global(
        df.select(F.count("*").over(Window.partitionBy("g")).alias("c"))
    ) == 0
    assert n_global(
        df.select(F.count("*").over(Window.partitionBy()).alias("c"))
    ) == 1


# ------------------------------------------- round-8 second-wave entries


def test_wilcoxon_signed_rank_planted():
    """Planted pairs: diffs +10, +20, -30, +40 (cents). Ranks of |d|:
    10->1, 20->2, 30->3, 40->4; W+ = 1+2+4 = 7, W2 = 14."""
    from ecom_churn_lakehouse_spark.queries.inference_queries import _WSR_SQL

    con = duckdb.connect()
    con.execute(
        """
        CREATE VIEW orders AS
        SELECT * FROM (VALUES
            (1, DATE '1996-03-01', CAST(1.00 AS DOUBLE)),
            (1, DATE '1997-03-01', CAST(1.10 AS DOUBLE)),
            (2, DATE '1996-03-01', CAST(1.00 AS DOUBLE)),
            (2, DATE '1997-03-01', CAST(1.20 AS DOUBLE)),
            (3, DATE '1996-03-01', CAST(1.00 AS DOUBLE)),
            (3, DATE '1997-03-01', CAST(0.70 AS DOUBLE)),
            (4, DATE '1996-03-01', CAST(1.00 AS DOUBLE)),
            (4, DATE '1997-03-01', CAST(1.40 AS DOUBLE))
        ) AS t(o_custkey, o_orderdate, o_totalprice)
        """
    )
    rel = con.sql(_WSR_SQL)
    r = dict(zip([d[0] for d in rel.description], rel.fetchone()))
    assert r["n_pairs"] == 4
    assert r["w2_pos"] == 2 * (1 + 2 + 4)
    assert r["tie_cubes"] == 0
    import math

    var_w2 = (2 * 4 * 5 * 9 - 0) / 12.0
    assert r["z_milli"] == math.floor((14 - 10) / math.sqrt(var_w2) * 1000)


def test_cochran_q_planted():
    """3 customers: A orders all years, B only 1996, C never (k=3).
    C_j = (2,1,1), R = (3,1,0); Q = 2*(3*6-16)/(3*4-10) = 4/2 = 2."""
    from ecom_churn_lakehouse_spark.queries.inference_queries import _CQ_SQL

    con = duckdb.connect()
    con.execute(
        """
        CREATE VIEW customer AS SELECT * FROM (VALUES (1), (2), (3))
            AS t(c_custkey)
        """
    )
    con.execute(
        """
        CREATE VIEW orders AS SELECT * FROM (VALUES
            (1, DATE '1996-01-01'), (1, DATE '1997-01-01'),
            (1, DATE '1998-01-01'), (2, DATE '1996-06-01')
        ) AS t(o_custkey, o_orderdate)
        """
    )
    rel = con.sql(_CQ_SQL)
    r = dict(zip([d[0] for d in rel.description], rel.fetchone()))
    assert (r["c_1996"], r["c_1997"], r["c_1998"]) == (2, 1, 1)
    assert r["sum_r2"] == 9 + 1 + 0
    assert r["q_milli"] == 2000
    assert not r["reject_at_05"]


def test_mrr_rr_values(spark):
    from ecom_churn_lakehouse_spark.queries.hashing_queries import (
        q_mrr_retrieval_eval,
    )

    rows = q_mrr_retrieval_eval(spark, SF).collect()
    assert rows
    for r in rows:
        if r["first_rel_rank"] == 0:
            assert r["rr_micro"] == 0
        else:
            assert r["rr_micro"] == 1_000_000 // r["first_rel_rank"]
            assert 1 <= r["first_rel_rank"] <= 10


def test_heaps_fit_saturated_fixture(spark):
    """The synthetic corpus draws from a FIXED 31-token vocabulary, so
    every checkpoint has cum_vocab = 31 — the fit must read exact
    saturation (beta = 0), which is precisely the signal the entry
    exists to surface."""
    from ecom_churn_lakehouse_spark.queries.text_queries import (
        q_heaps_law_fit,
    )

    r = q_heaps_law_fit(spark, SF).collect()[0]
    assert r["np"] == 10
    assert r["beta_milli"] == 0
    assert r["lnk_micro"] > 0


def test_heaps_fit_growing_corpus_planted():
    """A corpus whose vocabulary genuinely grows must fit a Heaps
    exponent strictly inside (0, 1)."""
    from ecom_churn_lakehouse_spark.queries.text_queries import (
        _HEAPS_FIT_SQL,
    )

    con = duckdb.connect()
    # doc i contributes i+1 brand-new types plus 20 common filler
    # tokens -> vocab grows sublinearly in tokens
    rows = []
    for i in range(20):
        # one new type per doc over quadratically-growing token mass
        # -> V ~ sqrt(T), beta ~ 0.5
        filler = " ".join("the" for _ in range(i + 1))
        rows.append(f"({i}, 'w{i} {filler}')")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(doc_id, text)"
    )
    rel = con.sql(_HEAPS_FIT_SQL)
    r = dict(zip([d[0] for d in rel.description], rel.fetchone()))
    assert 0 < r["beta_milli"] < 1000


# ------------------------------------------------------------- survival


def _planted_survival_views(con):
    con.execute(
        """
        CREATE VIEW orders AS SELECT * FROM (VALUES
            (1, DATE '1998-01-01'), (1, DATE '1998-01-11'),
            (2, DATE '1998-01-01'), (2, DATE '1998-01-21'),
            (3, DATE '1998-01-01'),
            (4, DATE '1998-01-01'), (4, DATE '1998-01-11')
        ) AS t(o_custkey, o_orderdate)
        """
    )
    con.execute(
        """
        CREATE VIEW customer AS SELECT * FROM (VALUES
            (1, 'BUILDING'), (2, 'MACHINERY'), (3, 'MACHINERY'),
            (4, 'BUILDING')
        ) AS t(c_custkey, c_mktsegment)
        """
    )


def test_kaplan_meier_planted():
    """Durations: 10 (2 events), 20 (1 event), censor (1). Risk sets:
    t=10 n=4 d=2 -> step ln(.5); t=20 n=2 d=1 -> step ln(.5)."""
    import math

    from ecom_churn_lakehouse_spark.queries.churn_queries import _KM_SQL

    con = duckdb.connect()
    _planted_survival_views(con)
    rows = con.sql(_KM_SQL).df().to_dict("records")
    assert [(r["t"], r["d"], r["n_risk"]) for r in rows] == [
        (10, 2, 4),
        (20, 1, 2),
    ]
    step = math.floor(math.log(0.5) * 1_000_000)
    assert rows[0]["step_micro"] == step
    assert rows[0]["log_surv_micro"] == step
    assert rows[1]["log_surv_micro"] == 2 * step


def test_logrank_planted():
    """g1 = {1,4}: t=10 gives O-E = 2 - 2*2/4 = 1, V = 1/3; t=20
    contributes nothing (n1 = 0). z = 1e6/sqrt(1/3 * 1e12)."""
    import math

    from ecom_churn_lakehouse_spark.queries.churn_queries import _LOGRANK_SQL

    con = duckdb.connect()
    _planted_survival_views(con)
    rel = con.sql(_LOGRANK_SQL)
    r = dict(zip([d[0] for d in rel.description], rel.fetchone()))
    assert r["n_event_times"] == 2
    assert r["total_events"] == 3 and r["events_g1"] == 2
    assert r["sum_oe_micro"] == 1_000_000
    assert r["sum_v_micro"] == 333_333
    assert r["z_milli"] == math.floor(
        1_000_000 / math.sqrt(333_333 * 1_000_000.0) * 1000
    )


def test_km_monotone_on_fixture(spark):
    from ecom_churn_lakehouse_spark.queries.churn_queries import (
        q_kaplan_meier_repeat_purchase,
    )

    rows = q_kaplan_meier_repeat_purchase(spark, SF).collect()
    assert rows
    prev = 0
    for r in sorted(rows, key=lambda r: r["t"]):
        assert r["step_micro"] < 0  # every event step decreases S
        assert r["log_surv_micro"] <= prev
        assert 0 < r["d"] < r["n_risk"]
        prev = r["log_surv_micro"]


# ---------------------------------------------- CUPED / bloom advisor


def test_cuped_identity_and_reduction(spark):
    """theta and rho^2 must satisfy the OLS identities on the fixture,
    and the adjusted means must preserve the pooled mean direction."""
    from ecom_churn_lakehouse_spark.queries.analytics_queries import (
        q_cuped_variance_reduction,
    )

    rows = {r["arm"]: r for r in q_cuped_variance_reduction(spark, SF).collect()}
    assert set(rows) == {"treat", "control"}
    t, c = rows["treat"], rows["control"]
    # globals identical on both rows
    assert t["theta_micro"] == c["theta_micro"]
    assert t["var_reduction_ppm"] == c["var_reduction_ppm"]
    assert 0 <= t["var_reduction_ppm"] <= 1_000_000
    # recompute rho^2 from raw spans and compare to the floored ppm
    import math

    n = t["n"] + c["n"]
    sx, sy = t["sx"] + c["sx"], t["sy"] + c["sy"]
    # raw moments re-derived through the same entry columns only
    # (full recompute happens in the oracle; here pin plausibility)
    assert t["raw_mean_milli"] == t["sy"] * 1000 // t["n"]
    assert c["raw_mean_milli"] == c["sy"] * 1000 // c["n"]
    assert n > 0 and sx > 0 and sy > 0


def test_bloom_advisor_closed_form(spark):
    """m and k must match the closed form for every row."""
    from ecom_churn_lakehouse_spark.queries.dataops_queries import (
        _BLOOM_FPP_MICRO,
        _LN2_MICRO,
        q_bloom_filter_size_advisor,
    )

    fpp_c = dict(_BLOOM_FPP_MICRO)
    rows = q_bloom_filter_size_advisor(spark, SF).collect()
    assert len(rows) == 8
    for r in rows:
        c = fpp_c[r["fpp"]]
        assert r["m_bits"] == (r["ndv"] * c + 999_999) // 1_000_000
        assert r["m_bytes"] == (r["m_bits"] + 7) // 8
        assert r["k_hashes"] == (
            r["m_bits"] * _LN2_MICRO + r["ndv"] * 500_000
        ) // (r["ndv"] * 1_000_000)
        # k for 1% fpp is ~7, for 0.1% ~10 — sanity-band the constants
        assert 5 <= r["k_hashes"] <= 12


def test_stream_cuped_equals_batch(spark):
    """The streaming customer-grain maintenance must converge to the
    one-shot batch CUPED relation bit-exactly."""
    from ecom_churn_lakehouse_spark.queries.analytics_queries import (
        q_cuped_variance_reduction,
        q_stream_cuped_maintenance,
    )

    batch = sorted(
        (r.asDict() for r in q_cuped_variance_reduction(spark, SF).collect()),
        key=lambda r: r["arm"],
    )
    stream = sorted(
        (r.asDict() for r in q_stream_cuped_maintenance(spark, SF).collect()),
        key=lambda r: r["arm"],
    )
    assert stream == batch


# ---------------------------------------------------- CMH / bloom probe


def test_cmh_planted_two_strata():
    """Stratum A: a=2, n1=4, m1=3, N=8 (O-E=0.5, V=240/448); stratum
    B: a=3, n1=3, m1=3, N=6 (O-E=1.5, V=81/180). Hand-check the
    micro-quantized sums, the continuity-corrected chi2, and OR_MH."""
    import math

    from ecom_churn_lakehouse_spark.queries.inference_queries import _CMH_SQL

    con = duckdb.connect()
    rows = []
    # (suppkey 1 -> nation A, 2 -> nation B); partkey 1 promo, 2 not
    def add(supp, promo, ret, k):
        for _ in range(k):
            rows.append((1 if promo else 2, supp, "R" if ret else "N"))

    add(1, 1, 1, 2); add(1, 1, 0, 2); add(1, 0, 1, 1); add(1, 0, 0, 3)
    add(2, 1, 1, 3); add(2, 0, 0, 3)
    vals = ", ".join(f"({p}, {s}, '{r}')" for p, s, r in rows)
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM (VALUES {vals})"
        " AS t(l_partkey, l_suppkey, l_returnflag)"
    )
    con.execute(
        "CREATE VIEW part AS SELECT * FROM (VALUES (1, 'PROMO BRUSHED'),"
        " (2, 'STANDARD')) AS t(p_partkey, p_type)"
    )
    con.execute(
        "CREATE VIEW supplier AS SELECT * FROM (VALUES (1, 10), (2, 20))"
        " AS t(s_suppkey, s_nationkey)"
    )
    con.execute(
        "CREATE VIEW nation AS SELECT * FROM (VALUES (10, 'ALGERIA'),"
        " (20, 'BRAZIL')) AS t(n_nationkey, n_name)"
    )
    rel = con.sql(_CMH_SQL)
    r = dict(zip([d[0] for d in rel.description], rel.fetchone()))
    assert r["n_strata"] == 2 and r["sum_a"] == 5
    assert r["sum_oe_micro"] == 500_000 + 1_500_000
    v1 = math.floor(4 * 4 * 3 * 5 / (64 * 7) * 1e6)
    v2 = math.floor(3 * 3 * 3 * 3 / (36 * 5) * 1e6)
    assert r["sum_v_micro"] == v1 + v2
    assert r["or_mh_milli"] == (750_000 + 1_500_000) * 1000 // 250_000
    expect = math.floor(
        (2.0 - 0.5) ** 2 / ((v1 + v2) * 1e6) * 1e12 * 1000
    )
    assert r["cmh_milli"] == expect


def test_bloom_probe_no_false_negatives(spark):
    """Bloom guarantee: every exact hit is a bloom hit; FP ppm bounded
    well below the k=2 filter's theoretical envelope at this load."""
    from ecom_churn_lakehouse_spark.queries.dedup_queries import (
        q_ngram_bloom_contamination_probe,
    )

    r = q_ngram_bloom_contamination_probe(spark, SF).collect()[0]
    assert r["false_negatives"] == 0
    assert r["bloom_hits"] >= r["exact_hits"] > 0
    assert r["observed_fpp_ppm"] < 100_000  # <10% at fixture occupancy


# ----------------------------------------- epoch flooring convention


def test_gap_oracles_floor_fractional_epochs():
    """DuckDB CAST(double AS BIGINT) rounds; Spark unix_timestamp
    truncates. Every gap oracle must floor epoch() before the cast
    (sf0.1 catch: session_gap_sensitivity_curve off-by-one)."""
    import re
    from pathlib import Path

    src = Path(
        "ecom_churn_lakehouse_spark/queries/event_queries.py"
    ).read_text()
    # no bare CAST(epoch(...) AS BIGINT) without floor may remain
    assert not re.search(r"CAST\(epoch\(", src), (
        "bare CAST(epoch(..) AS BIGINT) found — wrap with floor()"
    )
