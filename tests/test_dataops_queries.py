"""Behavioral invariants for the data-ops tier (encoding advisor,
join-cardinality estimator, checksums, snapshot diff)."""

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecom_churn_lakehouse_spark.registry import queries

SF = "/root/testdata/sf0.001"


def test_encoding_advisor_runs_bounded_by_rows_and_distincts(spark):
    rows = {r["column_name"]: r for r in queries()["column_encoding_advisor"](spark, SF).collect()}
    assert set(rows) == {"o_orderstatus", "o_orderpriority"}
    for r in rows.values():
        # run count lies between ndv (a perfectly sorted column) and n
        assert r["n_distinct"] <= r["n_runs"] <= r["n_rows"]
        assert r["recommendation"] in ("RLE", "DICT", "PLAIN")
    # 3-value status and 5-value priority in key order are unsorted:
    # runs should be near n, far above ndv -> never RLE on this layout
    assert rows["o_orderstatus"]["recommendation"] != "RLE"


def test_encoding_advisor_runs_match_single_pass_oracle(spark):
    # the distributed bucket+merge run count must equal the naive
    # single-window count
    rows = {r["column_name"]: r for r in queries()["column_encoding_advisor"](spark, SF).collect()}
    con = duckdb.connect()
    for col in ("o_orderstatus", "o_orderpriority"):
        naive = con.sql(
            f"""SELECT SUM(CASE WHEN {col} IS DISTINCT FROM prev THEN 1 ELSE 0 END)
                FROM (SELECT {col}, LAG({col}) OVER (ORDER BY o_orderkey) AS prev
                      FROM '{SF}/orders.parquet')"""
        ).fetchone()[0]
        assert rows[col]["n_runs"] == naive


def test_join_estimate_exactness_on_pk_fk(spark):
    rows = {r["join_candidate"]: r for r in queries()["join_cardinality_estimate"](spark, SF).collect()}
    assert len(rows) == 3
    for r in rows.values():
        # PK side distinct == rows for these candidates, so the CBO
        # formula is exact: est == actual
        assert r["est_rows"] == r["actual_rows"]
        assert r["max_single_key_pairs"] >= 1
        assert r["ndv_left"] <= r["n_left"] and r["ndv_right"] <= r["n_right"]


def test_checksum_detects_single_row_divergence(spark):
    df = queries()["table_checksum_by_segment"](spark, SF)
    rows = {r["segment"]: r for r in df.collect()}
    n = duckdb.sql(f"SELECT COUNT(*) FROM '{SF}/customer.parquet'").fetchone()[0]
    assert sum(r["n_rows"] for r in rows.values()) == n
    for r in rows.values():
        assert 0 <= r["min_hash"] <= r["max_hash"] < 2**60
        # xor of [0, 2^60) values stays in range
        assert 0 <= r["xor_checksum"] < 2**60


def test_snapshot_diff_classes_conserve_both_snapshots(spark):
    rows = {r["change_class"]: r for r in queries()["snapshot_table_diff"](spark, SF).collect()}
    assert set(rows) == {"added", "removed", "changed", "unchanged"}
    con = duckdb.connect()
    n_a = con.sql(
        f"SELECT COUNT(*) FROM '{SF}/orders.parquet' WHERE o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'"
    ).fetchone()[0]
    in_a = rows["removed"]["n_rows"] + rows["changed"]["n_rows"] + rows["unchanged"]["n_rows"]
    assert in_a == n_a
    # changed rows decompose into at least one per-column diff each
    ch = rows["changed"]
    assert ch["n_status_diff"] + ch["n_price_diff"] >= ch["n_rows"]
    for cls in ("added", "removed", "unchanged"):
        assert rows[cls]["n_status_diff"] == 0 and rows[cls]["n_price_diff"] == 0


def test_stream_checksum_converges_to_batch_checksum(spark):
    batch = {
        r["segment"]: r
        for r in queries()["table_checksum_by_segment"](spark, SF).collect()
    }
    stream = {
        r["segment"]: r
        for r in queries()["stream_checksum_maintenance"](spark, SF).collect()
    }
    assert set(batch) == set(stream)
    for seg in batch:
        for c in ("n_rows", "xor_checksum", "min_hash", "max_hash"):
            assert batch[seg][c] == stream[seg][c], (seg, c)


def test_zorder_balances_both_access_paths(spark):
    rows = {r["layout"]: r for r in queries()["zorder_layout_audit"](spark, SF).collect()}
    assert set(rows) == {"linear_by_date", "zorder"}
    lin, z = rows["linear_by_date"], rows["zorder"]
    # date-linear layout: each day maps to exactly one file
    assert lin["files_per_day_milli"] == 1000
    # ...and z-order must beat linear on the OTHER dimension
    assert z["files_per_custbucket_milli"] < lin["files_per_custbucket_milli"]
    # while costing more files per day than the date-partitioned layout
    assert z["files_per_day_milli"] >= lin["files_per_day_milli"]


def test_shuffle_advisor_widths_and_partitions_sane(spark):
    rows = {r["table_name"]: r for r in queries()["shuffle_partition_advisor"](spark, SF).collect()}
    assert set(rows) == {"orders", "lineitem", "customer", "events"}
    for r in rows.values():
        assert r["est_row_bytes"] >= 8  # at least one fixed-width col
        assert r["est_shuffle_bytes"] == r["n_rows"] * r["est_row_bytes"]
        assert r["recommended_partitions"] >= 1
    # lineitem is the widest, biggest table -> largest estimate
    assert rows["lineitem"]["est_shuffle_bytes"] == max(
        r["est_shuffle_bytes"] for r in rows.values()
    )


def test_topn_encoding_covers_everything_with_capped_vocab(spark):
    rows = {r["encoded_brand"]: r for r in queries()["categorical_topn_encoding"](spark, SF).collect()}
    assert len(rows) <= 8  # 7 named + OTHER
    assert sum(r["coverage_ppm"] for r in rows.values()) <= 1_000_000
    assert sum(r["coverage_ppm"] for r in rows.values()) >= 1_000_000 - len(rows)
    named = [b for b in rows if b != "OTHER"]
    for b in named:
        assert rows[b]["n_source_categories"] == 1
    if "OTHER" in rows:
        assert rows["OTHER"]["n_source_categories"] >= 1
