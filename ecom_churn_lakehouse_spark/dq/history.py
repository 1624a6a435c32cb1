"""DQ metric history + drift detection — observability over time.

The reference's DQ layer (quality.py) judges each run in isolation: a
gate passes or fails against fixed thresholds. Production lakehouse
monitoring also needs the TIME dimension — a metric can stay inside
its hard threshold while drifting somewhere bad (bad-row ratio
creeping 0.1% → 0.9%, row counts sagging). This module persists each
run's check metrics to a managed table and flags drift statistically.

Scale posture: the history table grows by a handful of rows per
pipeline run (one per check), so every frame here is tiny — the
trailing-window stats are one aggregation over a key whose cardinality
is (checks × retained runs). The expensive part (measuring the
metrics) already rode the publish write via ManagedTable.merge's
observed checks; recording
and drift detection add no scan of the data plane.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.dq.checks import DQReport
from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable

__all__ = ["record_report", "detect_drift"]


def record_report(
    spark: SparkSession,
    history_path: str,
    run_id: str,
    report: DQReport,
) -> None:
    """Append one row per check result to the history table.

    ``run_id`` must be unique and monotone per pipeline run (the
    repo's run ids embed a sequence/timestamp); replaying a run id is
    an idempotent no-op via keyed MERGE on (run_id, check name).
    """
    t = ManagedTable(spark, history_path, keys=["run_id", "name"])
    n, results = int(report.row_count), report.results
    # from pandas: a LocalRelation, so the write starts no Python worker
    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "run_id": [run_id] * len(results),
                "name": [r.name for r in results],
                "check_type": [r.check_type for r in results],
                "severity": [r.severity for r in results],
                "bad_rows": [int(r.bad_rows) for r in results],
                "row_count": [n] * len(results),
                "bad_ratio": [float(r.bad_rows) / n if n else 0.0 for r in results],
                "passed": [bool(r.passed) for r in results],
            }
        ),
        "run_id string, name string, check_type string, severity string, "
        "bad_rows long, row_count long, bad_ratio double, passed boolean",
    )
    t.merge(src)


def detect_drift(
    spark: SparkSession,
    history_path: str,
    z_threshold: float = 3.0,
    min_history: int = 5,
) -> DataFrame:
    """Flag checks whose LATEST bad_ratio is a z-score outlier against
    their own trailing history (all earlier runs).

    Returns one row per check name with the latest ratio, trailing
    mean/std, the z-score, and ``drifted`` — true when |z| exceeds
    ``z_threshold`` and at least ``min_history`` earlier runs exist
    (small histories can't support a stable baseline; they report
    ``drifted = false``, never a guess). A zero-variance history with
    a changed latest value is reported as drifted (the spike IS the
    signal; no z-score exists).
    """
    t = ManagedTable(spark, history_path, keys=["run_id", "name"])
    h = t.read().select("run_id", "name", "bad_ratio")
    latest_run = h.agg(F.max("run_id").alias("run_id"))
    latest = h.join(F.broadcast(latest_run), on="run_id").select(
        "name", F.col("bad_ratio").alias("latest_ratio")
    )
    prior = h.join(F.broadcast(latest_run), on="run_id", how="left_anti")
    stats = prior.groupBy("name").agg(
        F.count("*").alias("n_history"),
        F.avg("bad_ratio").alias("mean_ratio"),
        F.stddev_pop("bad_ratio").alias("std_ratio"),
    )
    j = latest.join(stats, on="name", how="left")
    z = F.when(
        F.col("std_ratio") > 0,
        (F.col("latest_ratio") - F.col("mean_ratio")) / F.col("std_ratio"),
    )
    spiked_flat = (F.col("std_ratio") == 0) & (
        F.col("latest_ratio") != F.col("mean_ratio")
    )
    enough = F.coalesce(F.col("n_history"), F.lit(0)) >= min_history
    drifted = enough & (
        spiked_flat | (F.abs(F.coalesce(z, F.lit(0.0))) > z_threshold)
    )
    return j.select(
        "name",
        "latest_ratio",
        "mean_ratio",
        "std_ratio",
        F.coalesce(F.col("n_history"), F.lit(0)).alias("n_history"),
        z.alias("zscore"),
        drifted.alias("drifted"),
    )
