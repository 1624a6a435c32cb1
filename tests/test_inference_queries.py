"""Behavioral invariants for the inference tier (chi-square,
bootstrap, variance components) and the t-closeness audit — the
conservation/bound properties the row-hash oracle can't state."""

import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecom_churn_lakehouse_spark.registry import queries

SF = "/root/testdata/sf0.001"


def test_tcloseness_emd_bounded_and_degenerate_cells_flagged(spark):
    rows = queries()["tcloseness_audit"](spark, SF).collect()
    assert rows
    for r in rows:
        # EMD over ppm-quantized CDFs lies in [0, 1e6]
        assert 0 <= r["emd_ppm"] <= 1_000_000
        assert r["meets_t"] == (r["emd_ppm"] <= 350_000)
        assert r["cell_rows"] >= 1
    # a single-customer cell (if any) has the most extreme distribution;
    # global sanity: at least one cell must be close to the global dist
    assert min(r["emd_ppm"] for r in rows) < 350_000


def test_chisq_marginals_conserve_and_contribs_nonnegative(spark):
    rows = queries()["promo_chisq_independence"](spark, SF).collect()
    assert len(rows) == 6
    n_tot = sum(r["observed"] for r in rows)
    # expected counts (micro) conserve the total to within per-cell floor loss
    exp_sum = sum(r["expected_micro"] for r in rows)
    assert n_tot * 1_000_000 - 6 <= exp_sum <= n_tot * 1_000_000
    for r in rows:
        assert r["chi2_contrib_micro"] >= 0


def test_bootstrap_weights_resample_consistently(spark):
    rows = queries()["bootstrap_mean_ci"](spark, SF).collect()
    assert len(rows) == 32
    roles = [r["ci_role"] for r in rows]
    assert roles.count("lo") == 1 and roles.count("hi") == 1
    ranks = sorted(r["mean_rank"] for r in rows)
    assert ranks == list(range(1, 33))
    # multiplier weights have mean 1: every replica's effective n is
    # within a loose CLT band of the real order count
    import duckdb

    n_orders = duckdb.sql(f"SELECT COUNT(*) FROM '{SF}/orders.parquet'").fetchone()[0]
    for r in rows:
        assert abs(r["n_eff"] - n_orders) < 6 * (n_orders ** 0.5) + 10
        # exact integer mean decomposition: sum = mean*n + remainder
        assert 0 <= r["mean_frac_micro"] < 1_000_000
        assert (
            r["mean_cents_int"] * r["n_eff"]
            <= r["spend_sum_cents"]
            < (r["mean_cents_int"] + 1) * r["n_eff"]
        )


def test_variance_numerator_matches_two_pass_computation(spark):
    rows = queries()["acctbal_variance_components"](spark, SF).collect()
    assert rows
    import duckdb

    con = duckdb.connect()
    for r in rows[:5]:
        # recompute n*sumsq - sum^2 from the surfaced exact components
        numer = int(r["n"]) * int(Decimal(r["sumsq_cents2"])) - int(r["sum_cents"]) ** 2
        assert numer == int(Decimal(r["var_numer_cents2"]))
        # population variance numerator is always >= 0
        assert numer >= 0


def test_brand_ols_components_satisfy_cauchy_schwarz(spark):
    rows = queries()["brand_discount_elasticity_components"](spark, SF).collect()
    assert rows
    for r in rows:
        # variance numerator n*Sxx - Sx^2 >= 0 (Cauchy-Schwarz), and
        # strictly > 0 here since discounts vary within a brand
        assert r["n"] * r["sum_xy"] is not None
        assert r["n"] * r["sum_xx"] - r["sum_x_bp"] ** 2 > 0
        # slope_micro recomputes from the exact components
        num = float(r["n"] * r["sum_xy"] - r["sum_x_bp"] * r["sum_y"])
        den = float(r["n"] * r["sum_xx"] - r["sum_x_bp"] ** 2)
        import math

        assert r["slope_micro"] == math.floor(
            (float(r["n"]) * float(r["sum_xy"]) - float(r["sum_x_bp"]) * float(r["sum_y"]))
            / (float(r["n"]) * float(r["sum_xx"]) - float(r["sum_x_bp"]) * float(r["sum_x_bp"]))
            * 1e6
        )


def test_neyman_allocation_conserves_budget_and_orders_by_dispersion(spark):
    rows = queries()["neyman_allocation"](spark, SF).collect()
    assert len(rows) == 25
    assert sum(r["alloc_n"] for r in rows) == 10_000
    for r in rows:
        assert r["alloc_n"] >= 0 and r["w_milli"] >= 0
    # allocation is monotone in the weight (up to the +/-1 remainder unit)
    srt = sorted(rows, key=lambda r: r["w_milli"])
    for a, b in zip(srt, srt[1:]):
        assert b["alloc_n"] >= a["alloc_n"] - 1


def test_ks_test_statistic_matches_scipy_style_recompute(spark):
    import duckdb

    r = queries()["spend_ks_test"](spark, SF).collect()[0]
    con = duckdb.connect()
    # naive recompute: D over the merged empirical CDFs
    df = con.sql(
        f"""
        SELECT CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               c.c_mktsegment = 'BUILDING' AS grp1
        FROM '{SF}/orders.parquet' o
        JOIN '{SF}/customer.parquet' c ON c.c_custkey = o.o_custkey
        """
    ).df()
    s1 = sorted(df[df.grp1].cents)
    s2 = sorted(df[~df.grp1].cents)
    import bisect

    n1, n2 = len(s1), len(s2)
    assert (r["n1"], r["n2"]) == (n1, n2)
    vals = sorted(set(s1) | set(s2))
    d_num = max(
        abs(bisect.bisect_right(s1, v) * n2 - bisect.bisect_right(s2, v) * n1)
        for v in vals
    )
    assert int(r["max_diff_exact"]) == d_num
    assert r["d_ppm"] == int(d_num / (n1 * n2) * 1e6)  # floor of positive
