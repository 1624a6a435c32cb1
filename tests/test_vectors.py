"""The vector primitives (``functions/vectors.py``): bit-exact against a
pure-Python left fold, NULL in → NULL out, and a loud error on any
vector whose width is not ``dim`` — at a primitive and at an ANN
operator."""

import math

import numpy as np
import pytest
from pyspark.sql import Row

from ecom_churn_lakehouse_spark.functions.vectors import (
    EMBED_DIM,
    cosine,
    dot,
    norm,
    sq_dist,
)

WIDTH_ERROR = "VECTOR_WIDTH_MISMATCH"


def _fold(xs, ys, term):
    acc = 0.0
    for x, y in zip(xs, ys, strict=True):
        acc = acc + term(x, y)
    return acc


def _py(a, b):
    ab = _fold(a, b, lambda x, y: x * y)
    aa = _fold(a, a, lambda x, y: x * y)
    bb = _fold(b, b, lambda x, y: x * y)
    return {
        "dot": ab,
        "norm": math.sqrt(aa),
        "cosine": ab / (math.sqrt(aa) * math.sqrt(bb)),
        "sq_dist": _fold(a, b, lambda x, y: (x - y) * (x - y)),
    }


@pytest.mark.parametrize("dim", [EMBED_DIM, 16])
def test_primitives_equal_python_left_fold_bit_for_bit(spark, dim):
    rng = np.random.default_rng(dim)
    rows = [
        # float32 values, as in the embeddings fixture: the Python
        # floats are their exact double widenings
        (i, rng.standard_normal(dim).astype(np.float32).tolist(),
         rng.standard_normal(dim).astype(np.float32).tolist())
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "id int, a array<float>, b array<float>")
    got = df.select(
        "id",
        dot("a", "b", dim).alias("dot"),
        norm("a", dim).alias("norm"),
        cosine("a", "b", dim).alias("cosine"),
        sq_dist("a", "b", dim).alias("sq_dist"),
    ).collect()
    want = {i: _py(a, b) for i, a, b in rows}
    assert len(got) == len(rows)
    for r in got:
        assert {k: r[k] for k in want[r["id"]]} == want[r["id"]]


def test_null_vector_gives_null(spark):
    df = spark.createDataFrame(
        [Row(a=None, b=[1.0, 2.0, 3.0])], "a array<double>, b array<double>"
    )
    r = df.select(
        dot("a", "b", 3).alias("d"),
        norm("a", 3).alias("n"),
        cosine("a", "b", 3).alias("c"),
        sq_dist("a", "b", 3).alias("s"),
    ).first()
    assert (r["d"], r["n"], r["c"], r["s"]) == (None, None, None, None)


@pytest.mark.parametrize(
    "make",
    [
        lambda dim: dot("a", "b", dim),
        lambda dim: norm("a", dim),
        lambda dim: cosine("a", "b", dim),
        lambda dim: sq_dist("a", "b", dim),
    ],
    ids=["dot", "norm", "cosine", "sq_dist"],
)
@pytest.mark.parametrize("dim", [2, 4], ids=["longer", "shorter"])
def test_width_mismatch_raises(spark, make, dim):
    """[1,2,3] against dim=2 used to fold the first two elements
    (dot 5.0, cosine 0.9999999999999998); against dim=4 it raised an
    array-index error. Both now raise the guard's error."""
    df = spark.createDataFrame(
        [Row(a=[1.0, 2.0, 3.0], b=[1.0, 2.0, 3.0])],
        "a array<double>, b array<double>",
    )
    with pytest.raises(Exception, match=WIDTH_ERROR):
        df.select(make(dim).alias("x")).collect()


def test_one_mismatched_side_raises(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 2.0, 3.0], b=[1.0, 2.0])],
        "a array<double>, b array<double>",
    )
    with pytest.raises(Exception, match=WIDTH_ERROR):
        df.select(cosine("a", "b", 3).alias("x")).collect()


def test_ann_operator_raises_on_width_mismatch(spark):
    from ecom_churn_lakehouse_spark.similarity.ann import brute_force_topk

    vecs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[1.0, float(i), 0.5, -1.0]) for i in range(4)]
    )
    # 4-wide vectors under the operator's default width
    with pytest.raises(Exception, match=WIDTH_ERROR):
        brute_force_topk(vecs, vecs, k=2).collect()
    assert brute_force_topk(vecs, vecs, k=2, dim=4).count() == 8


@pytest.mark.parametrize("width", [EMBED_DIM - 1, EMBED_DIM + 1], ids=["narrower", "wider"])
@pytest.mark.parametrize("query", ["q_embedding_pq_codes", "q_ann_ivfpq_topk"])
def test_pq_subspace_distances_raise_on_width_mismatch(spark, tmp_path, query, width):
    """The PQ entries read subspace elements at a runtime offset, so
    only the guard stops a wider vector's tail from being dropped (or
    a narrower one from failing with an index error)."""
    import pandas as pd

    from ecom_churn_lakehouse_spark.queries import similarity_queries

    rng = np.random.default_rng(width)
    pd.DataFrame(
        {
            "vec_id": np.arange(60, dtype=np.int64),
            "embedding": [rng.standard_normal(width).astype(np.float32).tolist()
                          for _ in range(60)],
            "label": np.zeros(60, dtype=np.int32),
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    with pytest.raises(Exception, match=WIDTH_ERROR):
        getattr(similarity_queries, query)(spark, str(tmp_path)).collect()
