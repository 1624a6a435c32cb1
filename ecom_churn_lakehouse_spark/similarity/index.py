"""Persistent ANN index: build once, probe many — the 100 TB serving
shape.

The ``ann_*`` registry queries rebuild their LSH buckets inline, which
is right for a one-shot batch job but wrong for a serving corpus: at
scale the index is MATERIALIZED (one pass over the corpus) and every
query batch probes the stored buckets. This module persists the
(bucket, vec_id, embedding) relation as a Spark BUCKETED table keyed
by ``bucket``, so the probe-time candidate join co-locates on bucket
files with NO exchange on the corpus side — index probing reads only
the matching buckets' files, independent of corpus size.

Parity: ``topk_from_index`` returns exactly what the inline
``ann_lsh_topk`` plan returns (asserted in
tests/test_bucketing_formats.py), the difference is purely physical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.similarity.ann import (
    bucketed_topk,
    hyperplane_lsh_buckets,
)

__all__ = ["build_lsh_index", "topk_from_index"]


def build_lsh_index(
    vectors: DataFrame,
    hyperplanes: DataFrame,
    table_name: str,
    n_buckets: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One corpus pass: sign-LSH bucket per vector, persisted as a
    bucketed+sorted table on ``bucket`` (saveAsTable — bucket layout
    lives in the catalog, so later sessions get the co-location for
    free)."""
    spark = vectors.sparkSession
    # idempotent rebuild: drop any prior catalog entry AND its
    # warehouse directory — a stale location from a dead session
    # otherwise fails saveAsTable with LOCATION_ALREADY_EXISTS.
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    import shutil
    from urllib.parse import urlparse

    loc = urlparse(warehouse).path or warehouse
    shutil.rmtree(f"{loc.rstrip('/')}/{table_name.lower()}", ignore_errors=True)

    indexed = hyperplane_lsh_buckets(
        vectors, hyperplanes, id_col=id_col, vec_col=vec_col
    ).join(vectors.select(id_col, vec_col), on=id_col)
    (
        indexed.write.mode("overwrite")
        .bucketBy(n_buckets, "bucket")
        .sortBy("bucket")
        .format("parquet")
        .saveAsTable(table_name)
    )


def topk_from_index(
    spark: SparkSession,
    table_name: str,
    queries_with_bucket: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k restricted to the stored index's matching buckets.

    The candidate join keys on ``bucket``; because the index table is
    bucketed on it, Spark plans the corpus side without an exchange —
    probe cost scales with the touched buckets, not the corpus.
    """
    index = spark.table(table_name)
    corpus_cells = index.select(id_col, "bucket")
    vectors = index.select(id_col, vec_col)
    return bucketed_topk(
        queries_with_bucket, corpus_cells, vectors, k, id_col=id_col, vec_col=vec_col
    )
