"""SparkSession factory with a scale-aware default profile.

Re-expresses the reference's session builder
(``/root/reference/src/common/spark.py:5-11``), which only wires the
Delta extension. This engine needs no extension: its mutable tables
(:mod:`ecom_churn_lakehouse_spark.sources.managed_table`) write and
read the Delta log themselves over plain parquet. The profile instead
turns on the Catalyst/AQE features a 100 TB deployment relies on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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
#: - Tungsten page 1 MB (the least Spark's own sizing picks): unset,
#:   it scales with heap / cores (16 MB on a 2 GB, 4-core driver), and
#:   each broadcast hash relation on non-long keys holds a whole page
#:   until the ContextCleaner drops it after an old-generation GC, so
#:   the heap a run keeps swung by 16 MB per relation with GC timing.
#:   Cost: a task's 8192-page table caps its Tungsten memory at 8 GB.
#: - JVM case mapping, not ICU: with ICU on, the first ``lower()`` or
#:   ``upper()`` in a JVM runs ``CollationAwareUTF8String.<clinit>``,
#:   which title-cases all 1,114,112 code points: on a cold local[4]
#:   JVM the first ``lower()`` query took 1.9 s with ICU and 0.5 s
#:   without, and silver's first task pays it.
#:   Without ICU, non-ASCII strings go through the JVM's
#:   ``String.toLowerCase()``/``toUpperCase()`` (full Unicode mapping,
#:   final sigma included, in the JVM's default locale): the case
#:   mapping of pyspark 3.5, the reference's version.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.buffer.pageSize": "1m",
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
    "spark.sql.icu.caseMappings.enabled": "false",
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
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
