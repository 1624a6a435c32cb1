"""Round-12 adaptive band geometry (the r11 scale-killer fix).

Pins three invariants of the 128-bit adaptive sign-LSH layout shared
by the SemDeDup/binary-ANN family (``queries/hashing_queries.py``):

1. the geometry-vs-count formula itself (floor 8, cap 16, target
   occupancy 8) — identical in Python, Spark, and DuckDB spellings;
2. FLOOR bit-identity: at corpora small enough for band_bits = 8 the
   new band values equal the legacy ``(word >> 8*(b%4)) & 255``
   spelling exactly (so every previously-oracled result is unchanged);
3. cross-engine bit-identity ABOVE the floor: on a synthetic corpus
   big enough to force band_bits = 9, Spark and DuckDB produce the
   same (vec_id, b, band_val) set — i.e. the hyperplane-extension
   bits (quantized Rademacher sums) agree bit-for-bit, which is the
   property the sf0.01/sf0.1 oracle runs can never exercise.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

SF = "/root/testdata/sf0.01"


def test_adaptive_band_bits_formula():
    from ecom_churn_lakehouse_spark.queries.hashing_queries import (
        _MAX_BAND_BITS,
        _TARGET_OCC,
        _adaptive_band_bits,
    )

    assert _adaptive_band_bits(1) == 8
    assert _adaptive_band_bits(500) == 8  # sf0.01
    assert _adaptive_band_bits(2000) == 8  # sf0.1
    assert _adaptive_band_bits(2048) == 8  # exact boundary
    assert _adaptive_band_bits(2049) == 9  # first growth step
    assert _adaptive_band_bits(60000) == 13  # the K=30 probe corpus
    assert _adaptive_band_bits(10**12) == _MAX_BAND_BITS  # hard cap
    # the defining property: occupancy target holds below the cap
    for n in (100, 3000, 50_000, 300_000):
        bb = _adaptive_band_bits(n)
        assert n <= _TARGET_OCC * (1 << bb)
        if bb > 8:
            assert n > _TARGET_OCC * (1 << (bb - 1))


def test_floor_band_values_match_legacy_spelling(spark):
    """At fixture scale (N=500 -> bb=8) every band value must equal
    the legacy two-word extraction bit-for-bit."""
    from ecom_churn_lakehouse_spark.queries.hashing_queries import (
        _spark_bands,
        _spark_codes,
    )

    rows = _spark_bands(_spark_codes(spark, SF)).collect()
    assert rows
    for r in rows:
        w = r["w0"] if r["b"] < 4 else r["w1"]
        legacy = (w >> (8 * (r["b"] % 4))) & 255
        assert r["band_val"] == legacy


def _synthetic_embeddings(tmp_path, n: int, dim: int = 64):
    rng = np.random.RandomState(42)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [
                rng.randn(dim).astype(np.float32).tolist() for _ in range(n)
            ],
            "label": rng.randint(0, 5, n).astype(np.int32),
        }
    )
    out = tmp_path / "synth"
    out.mkdir()
    pdf.to_parquet(out / "embeddings.parquet", index=False)
    return str(out), pdf


def test_band_values_cross_engine_above_floor(spark, tmp_path):
    """N=3000 forces bb=9: the hyperplane-extension bit (slot bit 8)
    is live, so this compares the EXTENDED signature across engines —
    the exact surface the small-SF oracles mask out."""
    import duckdb

    from ecom_churn_lakehouse_spark.queries.hashing_queries import (
        _CODES_SQL,
        _adaptive_band_bits,
        _spark_bands,
        _spark_codes,
    )

    sf_dir, pdf = _synthetic_embeddings(tmp_path, 3000)
    assert _adaptive_band_bits(3000) == 9

    got = {
        (r["vec_id"], r["b"], r["band_val"])
        for r in _spark_bands(_spark_codes(spark, sf_dir)).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = {
        (int(v), int(b), int(bv))
        for v, b, bv in con.execute(
            f"WITH {_CODES_SQL} SELECT vec_id, b, band_val FROM bands"
        ).fetchall()
    }
    assert got == want
    # bb=9 is actually live: some band value uses the extension bit
    assert max(bv for _, _, bv in got) >= 256
    assert max(bv for _, _, bv in got) < 512

    # frozen-geometry path (streaming) agrees with the in-plan path
    frozen = {
        (r["vec_id"], r["b"], r["band_val"])
        for r in _spark_bands(
            _spark_codes(spark, sf_dir), band_bits=9
        ).collect()
    }
    assert frozen == got


def test_frozen_width_above_floor_needs_live_extension_columns(spark):
    """A codes frame built at the floor carries literal-zero extension
    columns: a frozen width above the floor over it must fail loudly
    instead of emitting band values without their upper bits."""
    from ecom_churn_lakehouse_spark.queries.hashing_queries import (
        BandWidthError,
        _codes_frame,
        _spark_bands,
        _spark_codes,
    )
    from ecom_churn_lakehouse_spark.sources import load_table

    floor = _spark_codes(spark, SF)  # N=500 -> built at bb=8
    with pytest.raises(BandWidthError, match="band_bits=9"):
        _spark_bands(floor, band_bits=9)
    # a width the frame was built for is served unchanged
    adaptive = {tuple(r) for r in _spark_bands(floor).collect()}
    assert {tuple(r) for r in _spark_bands(floor, band_bits=8).collect()} == adaptive

    # a frame built above the floor has live extension columns for any
    # width up to the cap
    live = _codes_frame(load_table(spark, SF, "embeddings"), band_bits=9)
    _spark_bands(live, band_bits=12)
