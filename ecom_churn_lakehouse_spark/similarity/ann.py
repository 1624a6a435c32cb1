"""Similarity search over embedding columns (SURVEY §7.7 extension).

Two tiers, as a 100 TB design demands:

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  Query set × corpus via broadcast of the (small) query side; the
  corpus is never replicated. Per-row arithmetic is the width-checked
  flat fold of ``functions/vectors.py`` (``dim`` defaults to
  ``EMBED_DIM``; a vector of any other width raises). Cost is
  O(|Q|·|corpus|) — fine for |Q| in the thousands, the wrong tool for
  all-pairs.
- ``hyperplane_lsh_buckets``: random-hyperplane (sign) LSH. Buckets are
  sign-bit vectors against a fixed hyperplane set; candidate
  generation is a bucket equi-join (linear, bucket-local), then exact
  cosine re-ranking on candidates only. Hyperplanes here are
  data-derived (first vectors of the corpus) to stay deterministic and
  oracle-reproducible; production would draw Gaussian planes per seed.

No UDFs anywhere: all vector math compiles to Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecom_churn_lakehouse_spark.functions.vectors import (
    EMBED_DIM,
    cosine,
    dot,
    norm,
    to_double_array,
)

__all__ = [
    "brute_force_topk",
    "hyperplane_lsh_buckets",
    "multiprobe_buckets",
    "banded_sign_buckets",
    "neardup_pairs",
    "bucketed_topk",
    "ivf_assign_cells",
]


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector.

    Output: (query_id, neighbor_id, cosine_sim) — k rows per query,
    self-matches excluded, deterministic tie-break on neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double_array(F.col(vec_col)).alias("__qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double_array(F.col(vec_col)).alias("__cv"),
    )
    sim = cosine("__qv", "__cv", dim)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("__sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sim"), 6).alias("cosine_sim"),
        )
    )


def hyperplane_lsh_buckets(
    vectors: DataFrame,
    hyperplanes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_id_col: str = "plane_id",
) -> DataFrame:
    """Assign each vector an LSH bucket id from hyperplane sign bits.

    ``hyperplanes``: (plane_id, embedding) — small, broadcast. Bucket =
    Σ 2^plane_id over planes with dot(v, plane) >= 0. Delegates to the
    map-only banded form with a single 63-bit band (2^plane_id must
    fit a signed long regardless, so plane_id ≤ 62 is already the
    contract); output (id, bucket).
    """
    return banded_sign_buckets(
        vectors,
        hyperplanes,
        rows_per_band=63,
        id_col=id_col,
        vec_col=vec_col,
        plane_id_col=plane_id_col,
    ).select(id_col, "bucket")


def multiprobe_buckets(
    with_bucket: DataFrame, n_bits: int, id_col: str = "vec_id"
) -> DataFrame:
    """Expand each row's LSH bucket to its multi-probe set: the bucket
    itself plus every bucket at Hamming distance 1 (one sign bit
    flipped) — ``n_bits + 1`` probe rows per input row.

    Multi-probe is how sign-LSH recall rises WITHOUT more hash tables:
    a near neighbor that lands one flipped bit away (the most likely
    miss, since each bit flips independently with probability
    θ/π) is found by probing the adjacent bucket. Cost: the QUERY side
    fans out ×(n_bits+1) — fine because queries are the small side —
    while the corpus index is untouched. Row-local explode, no
    shuffle.
    """
    probes = F.explode(F.sequence(F.lit(-1), F.lit(n_bits - 1))).alias("__probe")
    return (
        with_bucket.select(F.col(id_col), "bucket", probes)
        .select(
            id_col,
            F.expr(
                "CASE WHEN __probe < 0 THEN bucket "
                "ELSE bucket ^ shiftleft(1L, __probe) END"
            ).alias("bucket"),
        )
    )


def banded_sign_buckets(
    vectors: DataFrame,
    hyperplanes: DataFrame,
    rows_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_id_col: str = "plane_id",
) -> DataFrame:
    """Banded sign-LSH: one bucket id per (vector, band).

    Like :func:`hyperplane_lsh_buckets` but the plane set is split into
    bands of ``rows_per_band`` bits — band ``plane_id // r``, bit
    ``plane_id % r``. Two vectors are candidates iff they agree on ALL
    bits of SOME band (the classic LSH OR-of-ANDs), which is what the
    near-dup join needs: recall is tuned by band count × width instead
    of a single all-bits bucket whose recall decays exponentially.

    Output ``(id, band, bucket)``. The planes are first packed into ONE
    broadcast row per band (bit value precomputed per plane), so each
    (vector, band) bucket is a single nested higher-order expression —
    dot products and the bit-sum both run inside the scan. Versus the
    naive explode-per-plane + groupBy(id, band) form this removes the
    only shuffle of the bucketing stage (planes × |corpus| rows) and
    the per-plane row overhead: the stage is map-only at any scale.

    The plane dot products are the package's one vector fold outside
    ``functions/vectors.py``: the plane set is a runtime array, so the
    fold stays a nested ``aggregate``/``zip_with`` (interpreted per
    row) instead of a flat tree over a static width.
    """
    v = vectors.select(
        F.col(id_col), to_double_array(F.col(vec_col)).alias("__v")
    )
    h_band = (
        hyperplanes.select(
            (F.floor(F.col(plane_id_col) / rows_per_band)).cast("int").alias("band"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST({plane_id_col} % {rows_per_band} AS INT))"
            ).alias("__bitval"),
            to_double_array(F.col(vec_col)).alias("__h"),
        )
        .groupBy("band")
        .agg(F.collect_list(F.struct("__bitval", "__h")).alias("__planes"))
    )
    zero = F.lit(0).cast("long")
    bucket = F.aggregate(
        F.col("__planes"),
        zero,
        lambda acc, p: acc
        + F.when(
            F.aggregate(
                F.zip_with(F.col("__v"), p["__h"], lambda x, y: x * y),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            >= 0,
            p["__bitval"],
        ).otherwise(zero),
    )
    # Never NULL (a NULL vector's CASE adds 0), but only the coalesce
    # says so to the optimizer: a nullable bucket lets it infer
    # isnotnull(bucket) from the band join downstream and push that
    # into this cross join's condition, evaluating the HOF twice.
    bucket = F.coalesce(bucket, zero)
    return v.join(F.broadcast(h_band)).select(
        F.col(id_col), "band", bucket.alias("bucket")
    )


def neardup_pairs(
    banded: DataFrame,
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup scale path).

    Candidates come from a band-bucket equi-self-join on the output of
    :func:`banded_sign_buckets` (a pair qualifies once per agreeing
    band; ``distinct`` collapses multi-band hits). Exact cosine is then
    computed on candidates only and thresholded — so the expensive
    vector math never touches the O(n²) pair space.

    At 100 TB the band join is shuffle-partitioned by (band, bucket);
    skewed buckets (mass duplication of one vector) are the risk — cap
    bucket width by adding bits per band, or salt the verify join.
    Output: ``(doc_a, doc_b, cosine_sim)`` with ``doc_a < doc_b``.
    """
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Norms once per row, not once per candidate pair: the same IEEE
    # operations in the same order as ``cosine`` (bit-identical), and
    # the pair stage stays under the 64 KB codegen method limit.
    emb = vectors.select(
        F.col(id_col), to_double_array(F.col(vec_col)).alias("__v")
    ).withColumn("__n", norm("__v", dim))

    def side(s):
        return emb.select(
            F.col(id_col).alias(f"doc_{s}"),
            *(F.col(c).alias(f"{c}{s}") for c in ("__v", "__n")),
        )

    scored = cand.join(side("a"), on="doc_a").join(side("b"), on="doc_b")
    sim = dot("__va", "__vb", dim) / (F.col("__na") * F.col("__nb"))
    return (
        scored.select(
            "doc_a", "doc_b", F.round(sim, 6).alias("cosine_sim")
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def ivf_assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    nprobe: int = 1,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    ``nprobe`` centroids by cosine (ties break on centroid id).

    ``centroids``: (centroid_id, embedding) — small, broadcast. One
    narrow pass over the corpus; output ``(id, bucket)`` compatible
    with :func:`bucketed_topk`, so IVF-flat search (nprobe=1) is
    ``bucketed_topk(assign(queries), assign(corpus), vectors, k)``.

    ``nprobe > 1`` is for the QUERY side: a query whose true neighbor
    sits just across a cell boundary (the dominant IVF failure mode)
    finds it by also searching its 2nd..nth nearest cells. The corpus
    stays single-assigned — the index does not grow.

    At 100 TB: assignment is a broadcast map (no shuffle); the
    inverted lists are the bucket join. Production centroids come from
    k-means; any deterministic centroid set (here: sampled corpus
    vectors) exercises the identical plan.
    """
    v = vectors.select(F.col(id_col), to_double_array(F.col(vec_col)).alias("__v"))
    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"),
        to_double_array(F.col(vec_col)).alias("__c"),
    )
    sim = cosine("__v", "__c", dim)
    scored = v.join(F.broadcast(c)).select(
        F.col(id_col), F.col("__cid"), sim.alias("__sim")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__sim").desc(), F.col("__cid"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(F.col(id_col), F.col("__cid").cast("long").alias("bucket"))
    )


def bucketed_topk(
    queries_with_bucket: DataFrame,
    corpus_with_bucket: DataFrame,
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Exact cosine top-k restricted to same-bucket candidates.

    The scale path: the candidate join is bucket-local; exact scoring
    touches only the candidates. Recall depends on bucket bits (trade
    via hyperplane count / multi-probe).
    """
    emb = vectors.select(
        F.col(id_col), to_double_array(F.col(vec_col)).alias("__v")
    )
    q = queries_with_bucket.select(
        F.col(id_col).alias("query_id"), "bucket"
    ).join(emb.select(F.col(id_col).alias("query_id"), F.col("__v").alias("__qv")), on="query_id")
    c = corpus_with_bucket.select(
        F.col(id_col).alias("neighbor_id"), "bucket"
    ).join(emb.select(F.col(id_col).alias("neighbor_id"), F.col("__v").alias("__cv")), on="neighbor_id")
    sim = cosine("__qv", "__cv", dim)
    scored = (
        q.join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("__sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sim"), 6).alias("cosine_sim"),
        )
    )
