"""Behavioral invariants for containment dedup and the Bloom-filter
audit — the guarantees (no false negatives, planted-pair recall) the
row-hash oracle can't state."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecom_churn_lakehouse_spark.registry import queries

SF = "/root/testdata/sf0.001"


def test_containment_catches_planted_half_docs(spark):
    rows = queries()["containment_neardup_pairs"](spark, SF).collect()
    assert rows
    by_pair = {(r["doc_a"], r["doc_b"]): r for r in rows}
    for r in rows:
        assert 800_000 <= r["containment_ppm"] <= 1_000_000
        assert 0 < r["n_common"] <= r["n_a"]
        assert r["doc_a"] != r["doc_b"]
    # every planted half-doc (id+300000, >=6 tokens so both halves
    # shingle) must be contained in its original at ~1.0
    planted = [p for p in by_pair if p[0] >= 300000 and p[1] == p[0] - 300000]
    assert planted, "no planted half-doc pair detected"
    for p in planted:
        assert by_pair[p]["containment_ppm"] >= 900_000
    # directionality: original -> half is NOT containment >= 0.8
    # (half has ~50% of the original's shingles)
    for a, b in planted:
        assert (b, a) not in by_pair


def test_bloom_has_no_false_negatives_and_sane_density(spark):
    r = queries()["bloom_filter_fp_audit"](spark, SF).collect()[0]
    # every true member must be bloom-positive
    assert r["n_bloom_positive"] >= r["n_true_members"]
    assert r["n_false_positive"] == r["n_bloom_positive"] - r["n_true_members"]
    # bitset density bounded by k * members and by m
    assert r["n_bits_set"] <= min(r["k_hashes"] * r["n_members"], r["m_bits"])
    assert 0 <= r["fp_ppm"] <= 1_000_000
