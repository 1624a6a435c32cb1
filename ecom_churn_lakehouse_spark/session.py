"""SparkSession factory with a scale-aware default profile.

Re-expresses the reference's session builder
(``/root/reference/src/common/spark.py:5-11``) which only wires the
Delta extension. Our profile additionally turns on the Catalyst/AQE
features a 100 TB deployment relies on; Delta is optional (gated on
the ``delta-spark`` package being importable) because the engine's
mutable-table layer has a parquet fallback
(:mod:`ecom_churn_lakehouse_spark.sources.managed_table`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

try:  # delta-spark is optional; parquet fallback otherwise
    from delta import configure_spark_with_delta_pip  # type: ignore

    HAVE_DELTA = True
except Exception:  # pragma: no cover - depends on environment
    configure_spark_with_delta_pip = None
    HAVE_DELTA = False

#: Defaults chosen for correctness-at-scale, not just local runs:
#: - AQE on: runtime shuffle-partition coalescing + skew-join splitting
#:   replace hand-tuned ``spark.sql.shuffle.partitions`` on big inputs.
#:   ``canChangeCachedPlanOutputPartitioning`` extends that to persisted
#:   frames: without it Spark builds every cache with its final-stage
#:   shuffle optimizations off, so a cached frame keeps every shuffle
#:   partition and its publish writes one file per partition, however
#:   few rows it holds. Spark's documented trade-off is that a reader of
#:   a coalesced cache may need one more shuffle; every reader of the
#:   package's caches shuffles by its own keys anyway.
#: - advisory partition size 64 MB: reasonable post-shuffle target for
#:   both local[32] and a real cluster.
#: - Arrow on: every pandas interchange (Pandas UDFs, toPandas for
#:   bounded metadata) goes through Arrow batches.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Runtime row-level filtering for large shuffle joins: build a bloom
    # filter from the small side's join keys and push it into the big
    # side's scan — at 100 TB this prunes fact-table rows that would be
    # dropped by the join anyway, before they ever shuffle. (The
    # companion semiJoinReduction flag is deliberately NOT set: enabling
    # it stalls session startup for minutes on this Spark build — a
    # py4j classloading storm during getOrCreate, reproduced in
    # isolation with that single key.)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "ecom-churn-lakehouse-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's conf profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured — on a real deployment the
    master comes from spark-submit and this argument stays ``None``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    if HAVE_DELTA:
        conf.setdefault(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        )
        conf.setdefault(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    if HAVE_DELTA and configure_spark_with_delta_pip is not None:
        builder = configure_spark_with_delta_pip(builder)
    return builder.getOrCreate()
