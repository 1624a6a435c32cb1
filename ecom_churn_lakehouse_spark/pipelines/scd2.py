"""Incremental SCD2 dimension maintenance.

The batch build (``operators/scd2.py``) is per-key decomposable: a
key's interval history depends only on that key's events. So when a
new event batch arrives, the dimension stays exact by rebuilding ONLY
the touched keys' histories from the key-scoped event slice and
publishing them with a keyed MERGE — the same delta-scoped-recompute
argument as ``pipelines/incremental.py`` for gold features, applied to
a dimension whose row COUNT per key can change:

- rebuilt rows upsert on ``(key, version)`` (a previously-open run
  gets its ``valid_to`` closed in place; appended runs insert);
- stale higher versions (possible when late/corrected events shrink a
  history) are tombstoned through the MERGE's CDC delete channel, so
  the table never retains versions the rebuild no longer produces.

Scale shape: work ∝ |touched keys| x events-per-key, never table
size; with the event table bucketed by key the scoping semi-join is
co-located and shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.operators.scd2 import scd2_build
from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable

__all__ = ["incremental_scd2_update"]


def incremental_scd2_update(
    spark: SparkSession,
    dim: ManagedTable,
    all_events: DataFrame,
    changed_keys: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> int:
    """Rebuild + MERGE the SCD2 histories of ``changed_keys`` only.

    ``dim`` must be keyed ``[key_col, "version"]``. Returns the number
    of upserted rows. Result is bit-identical to a full rebuild over
    ``all_events`` for those keys (asserted in tests/test_scd2.py).
    """
    keys = changed_keys.select(key_col).distinct()
    scoped = all_events.join(keys, on=key_col, how="left_semi")
    rebuilt = scd2_build(
        scoped,
        key_col=key_col,
        attr_col=attr_col,
        ts_col=ts_col,
        tiebreak_col=tiebreak_col,
    )
    if dim.exists():
        # Tombstone versions the rebuild no longer produces for the
        # touched keys (late/corrected events can merge two runs).
        current = dim.read()
        max_new = rebuilt.groupBy(key_col).agg(
            F.max("version").alias("__maxv")
        )
        stale = (
            current.join(keys, on=key_col, how="left_semi")
            .join(F.broadcast(max_new), on=key_col, how="left")
            .filter(
                F.col("__maxv").isNull()
                | (F.col("version") > F.col("__maxv"))
            )
            .select(*rebuilt.columns)
            .withColumn("__deleted", F.lit(True))
        )
        source = rebuilt.withColumn("__deleted", F.lit(False)).unionByName(
            stale
        )
        report = dim.merge(source, delete_col="__deleted")
    else:
        report = dim.merge(rebuilt)
    return report.row_count
