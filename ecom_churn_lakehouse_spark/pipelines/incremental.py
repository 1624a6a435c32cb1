"""Incremental (CDC-style) gold maintenance.

The reference recomputes the FULL feature snapshot every run
(``customer_features_daily.py:110-212``) and relies on MERGE to make
the publish idempotent. At 100 TB that is the bottleneck: a daily
silver delta touches a small fraction of customers, yet the full
recompute scans every order ever placed.

This module exploits the decomposability the feature definitions
already have: every feature (recency, windowed counts, tenure, gaps —
SURVEY §2.12) is a function of ONE customer's orders only (all
aggregations, windows, and joins in ``plans/churn.py`` are keyed by
``customer_id``). Recomputing just the touched key set over the
key-scoped silver slice is therefore EXACT, and the keyed MERGE
(S7) publishes only those rows, leaving the rest of the snapshot
untouched.

Scale shape: work ∝ |delta keys| × orders-per-customer, not table
size. The scoping semi-join shuffles only the silver slice for
touched keys; with silver bucketed by customer_id it is co-located
and shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.pipelines.medallion import (
    _GOLD_GATES,
    StageResult,
    _contract,
    _write_stage_metadata,
)
from ecom_churn_lakehouse_spark.plans.churn import customer_features
from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable
from ecom_churn_lakehouse_spark.versioning import canonical_hash
from ecom_churn_lakehouse_spark.logging_util import log_event

__all__ = ["incremental_gold_update"]


def incremental_gold_update(
    spark: SparkSession,
    silver_path: str,
    gold_path: str,
    changed_keys: DataFrame,
    as_of_date: str,
    run_id: str,
    feature_version: str | None = None,
) -> StageResult:
    """Recompute + MERGE gold features for ``changed_keys`` only.

    ``changed_keys``: one ``customer_id`` column — typically the
    distinct keys of the latest silver MERGE source (the CDC delta).
    Result rows are bit-identical to a full ``gold_features`` run for
    those customers (asserted in tests/test_incremental.py), because
    the feature plan is per-customer decomposable.
    """
    gold = ManagedTable(spark, gold_path, keys=["customer_id", "as_of_date"])
    if not gold.exists():
        raise ValueError(
            "incremental update requires an existing gold table; run the "
            "full gold_features publish first"
        )
    silver = ManagedTable(spark, silver_path, keys=["order_id"]).read()
    keys = changed_keys.select("customer_id").distinct()
    scoped = silver.join(keys, on="customer_id", how="left_semi")
    orders = scoped.select(
        "customer_id",
        "order_id",
        F.to_date("order_purchase_ts").alias("order_date"),
        "order_status",
    )
    fv = feature_version or _contract("gold_customer_features").contract_hash
    snapshot_id = canonical_hash({"as_of": as_of_date, "fv": fv})
    feats = customer_features(orders, as_of_date).withColumn("_deleted", F.lit(False))
    # One row per changed key: its recomputed features, or — for a key
    # with NO surviving orders (full CDC erasure), which produces no
    # feature row — a tombstone; without it the stale gold row would
    # outlive the data that justified it. merge(delete_col=...) removes
    # them in the same pass that upserts the recomputed rows, and
    # observes their count on that write. The MERGE's key branch needs
    # only the keys, so the optimizer drops the join there and the
    # feature plan runs once.
    source = (
        keys.join(feats, on="customer_id", how="left")
        .withColumn("_deleted", F.coalesce("_deleted", F.lit(True)))
        .withColumn("as_of_date", F.to_date(F.lit(as_of_date)))
        .withColumn("_snapshot_id", F.lit(snapshot_id))
        .withColumn("_feature_version", F.lit(fv))
        .withColumn("_gold_run_id", F.lit(run_id))
        .withColumn("_gold_ts", F.current_timestamp())
    )
    # Same blocking gates as the full run, observed on the delta
    # slice's upserts only (the untouched remainder already passed).
    report = gold.merge(source, checks=_GOLD_GATES, delete_col="_deleted")
    n, n_deleted = report.row_count, report.rows_deleted
    log_event(
        "gold_incremental_published",
        run_id,
        rows=n,
        rows_deleted=n_deleted,
        as_of_date=as_of_date,
        snapshot_id=snapshot_id,
    )
    _write_stage_metadata(
        gold_path,
        run_id,
        {
            "stage": "gold_incremental",
            "as_of_date": as_of_date,
            "snapshot_id": snapshot_id,
            "feature_version": fv,
            "rows_published": n,
            "rows_deleted": n_deleted,
            "gates": report.to_dict(),
        },
    )
    return StageResult(rows_published=n, metadata=report.to_dict())
