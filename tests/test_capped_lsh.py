"""Planted-mega-bucket behavior of the bucket-cap/re-band operator
(dedup/minhash.py::capped_banded_pairs) — the mitigation the
lsh_bucket_occupancy diagnostic motivates (judge directive r5 #3).

The "magnet" shingles below were searched offline: each hashes to a
tiny value (< P/200k) under one specific hash-family row, so a corpus
where every doc contains all of a magnet set shares that row's minhash
minimum with near-certainty (each doc's ~100 own shingles beat a
magnet with probability ~100 * 1e4/2^31 ~ 5e-4 per row). That lets the
tests plant, deterministically:

- a BAND-0 mega-bucket of mutually DISSIMILAR docs (magnets for first
  family rows 0-3 only) -> exercises level 1, the second-family
  re-band, which must scatter the boilerplate collisions while keeping
  exact-duplicate pairs together; and
- a DOUBLY-planted mega-bucket (magnets for rows 0-3 AND both re-band
  rows) whose members defeat the second family too -> exercises level
  2, the doc-hash salt, the hard cost cap.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecom_churn_lakehouse_spark.dedup.minhash import (
    banded_signatures,
    capped_banded_pairs,
    lsh_candidate_pairs,
    minhash_signatures_exploded,
)

# (family, row) -> shingle whose hash under that row is < P/200_000
BAND0_MAGNETS = ["magnet21199", "magnet18677", "magnet17585", "magnet245274"]
REBAND_MAGNETS = ["magnet77550", "magnet133636"]

CAP = 8


def _corpus(spark, n_docs, magnets, dups=()):
    """n_docs docs, each = the magnet shingles + 100 unique shingles.
    ``dups`` lists (a, b) id pairs forced to identical shingle sets."""
    rows = []
    for d in range(n_docs):
        uniq = [f"doc{d}_sh{k}" for k in range(100)]
        rows.append((d, magnets + uniq))
    by_id = dict(rows)
    rows = [
        (d, by_id[dict(dups).get(d, d)] if d in dict(dups) else sh)
        for d, sh in rows
    ]
    return spark.createDataFrame(rows, "doc_id long, shingles array<string>")


def _sigs(spark, df):
    return minhash_signatures_exploded(df, include_reband=True)


def test_band0_mega_bucket_is_planted(spark):
    """Sanity: the band-0 magnets really do force one mega-bucket."""
    arr = _corpus(spark, 40, BAND0_MAGNETS)
    banded = banded_signatures(_sigs(spark, arr))
    top = (
        banded.groupBy("band_idx", "band_key")
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    assert top["band_idx"] == 0 and top["count"] >= 38


def test_level1_reband_scatters_boilerplate_keeps_duplicates(spark):
    # docs 0/1 and 2/3 are exact duplicates; everyone shares band 0
    # via the magnets but is otherwise dissimilar.
    arr = _corpus(spark, 40, BAND0_MAGNETS, dups=((1, 0), (3, 2)))
    sigs = _sigs(spark, arr)
    plain = lsh_candidate_pairs(sigs.drop("rb0", "rb1"))
    capped = capped_banded_pairs(sigs, cap=CAP)
    n_plain, n_capped = plain.count(), capped.count()
    # plain: the planted bucket alone contributes ~C(40,2) = 780 pairs
    assert n_plain >= 700
    # re-band scatters them: second-family minima come from each doc's
    # own 100 shingles, so sub-buckets are tiny
    assert n_capped < n_plain / 5
    # ...but exact duplicates share the re-band key with certainty
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (0, 1) in got and (2, 3) in got


def test_level2_salt_bounds_doubly_planted_bucket(spark):
    # magnets for BOTH families: every doc shares band 0 AND the
    # re-band key, so only the salt level can bound the bucket.
    magnets = BAND0_MAGNETS + REBAND_MAGNETS
    m = 60
    arr = _corpus(spark, m, magnets)
    sigs = _sigs(spark, arr)
    capped = capped_banded_pairs(sigs, cap=CAP)
    n_capped = capped.count()
    # salt splits the size-m bucket into ceil(m/cap) groups; candidate
    # mass is sum of C(|group|, 2) ~ m*cap/2, never C(m, 2). Groups are
    # hash-uneven, so allow 3x the balanced bound (still << m^2/2).
    assert n_capped <= 3 * m * CAP // 2, n_capped
    assert n_capped < m * (m - 1) // 2 / 4


def test_planted_probe_10x_growth_is_linear(spark):
    """The 10x scale probe with a planted mega-bucket: plain banding
    grows ~quadratically (100x pairs for 10x docs), the capped
    operator ~linearly."""
    magnets = BAND0_MAGNETS + REBAND_MAGNETS
    counts = {}
    for m in (30, 300):
        sigs = _sigs(spark, _corpus(spark, m, magnets))
        counts[m] = {
            "plain": lsh_candidate_pairs(sigs.drop("rb0", "rb1")).count(),
            "capped": capped_banded_pairs(sigs, cap=CAP).count(),
        }
    plain_ratio = counts[300]["plain"] / max(counts[30]["plain"], 1)
    capped_ratio = counts[300]["capped"] / max(counts[30]["capped"], 1)
    assert plain_ratio > 50  # ~100x: quadratic
    assert capped_ratio < 25  # ~10x: linear in docs (cap contract)


def test_cap_above_max_occupancy_is_exactly_plain_banding(spark):
    """The registry entry's equivalence claim, in miniature: with the
    cap above every bucket's size, capped == plain, pair for pair."""
    arr = _corpus(spark, 30, magnets=[])  # no plant, all dissimilar
    sigs = _sigs(spark, arr)
    plain = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sigs.drop("rb0", "rb1")).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in capped_banded_pairs(sigs, cap=10_000).collect()
    }
    assert capped == plain
