"""Incremental gold maintenance: delta-scoped recompute ≡ full recompute.

The guarantee under test: because every feature is a function of one
customer's orders only, recomputing just the touched key set and
MERGE-ing yields a gold table bit-identical to a full re-run.
"""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.pipelines import gold_features
from ecom_churn_lakehouse_spark.pipelines.incremental import incremental_gold_update
from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable

AS_OF = "2025-03-31"

_SILVER_SCHEMA = (
    "order_id string, customer_id string, "
    "order_purchase_ts timestamp, order_status string"
)


def _silver_rows():
    return [
        ("o1", "c1", dt.datetime(2025, 1, 10, 8), "delivered"),
        ("o2", "c1", dt.datetime(2025, 3, 10, 12), "delivered"),
        ("o3", "c2", dt.datetime(2025, 2, 15, 10), "delivered"),
        ("o4", "c3", dt.datetime(2025, 3, 1, 9), "delivered"),
    ]


_FEATURE_COLS = [
    "customer_id", "as_of_date", "recency_days", "orders_30d", "orders_90d",
    "lifetime_orders", "customer_tenure_days", "avg_days_between_orders",
]


def _features(table):
    return {
        r["customer_id"]: tuple(r[c] for c in _FEATURE_COLS[1:])
        for r in table.read().select(*_FEATURE_COLS).collect()
    }


def test_incremental_update_equals_full_recompute(spark, tmp_path):
    silver = ManagedTable(spark, str(tmp_path / "silver"), keys=["order_id"])
    silver.overwrite(spark.createDataFrame(_silver_rows(), _SILVER_SCHEMA))
    gold_features(spark, str(tmp_path / "silver"), str(tmp_path / "gold"), AS_OF, "r1")

    # CDC delta: c1 places a new order, c3's o4 status changes
    delta = spark.createDataFrame(
        [
            ("o5", "c1", dt.datetime(2025, 3, 20, 9), "delivered"),
            ("o4", "c3", dt.datetime(2025, 3, 1, 9), "canceled"),
        ],
        _SILVER_SCHEMA,
    )
    silver.merge(delta)

    # incremental: recompute ONLY the delta's customers
    r = incremental_gold_update(
        spark,
        str(tmp_path / "silver"),
        str(tmp_path / "gold"),
        delta.select("customer_id"),
        AS_OF,
        "r2",
    )
    assert r.rows_published == 2  # c1 and c3 only

    # ground truth: full recompute into a fresh gold table
    gold_features(spark, str(tmp_path / "silver"), str(tmp_path / "gold_full"), AS_OF, "r3")
    inc = _features(ManagedTable(spark, str(tmp_path / "gold"), keys=["customer_id", "as_of_date"]))
    full = _features(ManagedTable(spark, str(tmp_path / "gold_full"), keys=["customer_id", "as_of_date"]))
    assert inc == full
    assert set(inc) == {"c1", "c2", "c3"}  # untouched c2 row survived the merge


def test_incremental_requires_existing_gold(spark, tmp_path):
    silver = ManagedTable(spark, str(tmp_path / "silver"), keys=["order_id"])
    silver.overwrite(spark.createDataFrame(_silver_rows(), _SILVER_SCHEMA))
    with pytest.raises(ValueError, match="existing gold table"):
        incremental_gold_update(
            spark,
            str(tmp_path / "silver"),
            str(tmp_path / "gold"),
            spark.createDataFrame([("c1",)], "customer_id string"),
            AS_OF,
            "r1",
        )


def test_gold_incremental_cli(spark, tmp_path):
    import json
    import os
    import subprocess
    import sys

    silver = ManagedTable(spark, str(tmp_path / "silver"), keys=["order_id"])
    silver.overwrite(spark.createDataFrame(_silver_rows(), _SILVER_SCHEMA))
    gold_features(spark, str(tmp_path / "silver"), str(tmp_path / "gold"), AS_OF, "r1")
    delta = spark.createDataFrame(
        [("o9", "c1", dt.datetime(2025, 3, 25, 9), "delivered")], _SILVER_SCHEMA
    )
    silver.merge(delta)
    keys = str(tmp_path / "keys")
    delta.select("customer_id").write.parquet(keys)

    out = subprocess.run(
        [sys.executable, "-m", "ecom_churn_lakehouse_spark.pipelines.cli",
         "gold-incremental", "--silver", str(tmp_path / "silver"),
         "--gold", str(tmp_path / "gold"), "--keys", keys,
         "--as-of", AS_OF, "--run-id", "r2"],
        capture_output=True, text=True, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.strip().splitlines()[-1])
    assert payload["cmd"] == "gold-incremental" and payload["rows_published"] == 1


def test_incremental_update_tombstones_erased_customers(spark, tmp_path):
    """Full CDC erasure of a customer's orders must delete their gold row,
    keeping incremental ≡ full recompute."""
    silver = ManagedTable(spark, str(tmp_path / "silver"), keys=["order_id"])
    silver.overwrite(spark.createDataFrame(_silver_rows(), _SILVER_SCHEMA))
    gold_features(spark, str(tmp_path / "silver"), str(tmp_path / "gold"), AS_OF, "r1")

    # erase ALL of c3's orders from silver (GDPR-style CDC delete)
    silver.merge(
        spark.createDataFrame(
            [("o4", "c3", dt.datetime(2025, 3, 1, 9), "delivered", True)],
            _SILVER_SCHEMA + ", _deleted boolean",
        ),
        delete_col="_deleted",
    )
    r = incremental_gold_update(
        spark,
        str(tmp_path / "silver"),
        str(tmp_path / "gold"),
        spark.createDataFrame([("c3",)], "customer_id string"),
        AS_OF,
        "r2",
    )
    assert r.rows_published == 0
    assert r.metadata is not None
    with open(tmp_path / "gold" / "_metadata" / "run-r2.json") as f:
        assert json.load(f)["rows_deleted"] == 1

    gold_features(
        spark, str(tmp_path / "silver"), str(tmp_path / "gold_full"), AS_OF, "r3"
    )
    inc = _features(
        ManagedTable(spark, str(tmp_path / "gold"), keys=["customer_id", "as_of_date"])
    )
    full = _features(
        ManagedTable(
            spark, str(tmp_path / "gold_full"), keys=["customer_id", "as_of_date"]
        )
    )
    assert inc == full
    assert set(inc) == {"c1", "c2"}  # c3's stale row is gone


def test_all_erased_update_returns_at_engine_width(spark, tmp_path, engine_width, within):
    """Every changed key was erased, so the persisted feature frame is
    empty and, at the engine's shuffle width, may coalesce to no
    partitions at all: the gated MERGE must still observe its gates and
    return instead of waiting on an observation that never fires."""
    silver = ManagedTable(spark, str(tmp_path / "silver"), keys=["order_id"])
    silver.overwrite(spark.createDataFrame(_silver_rows(), _SILVER_SCHEMA))
    gold_features(spark, str(tmp_path / "silver"), str(tmp_path / "gold"), AS_OF, "r1")
    silver.merge(
        spark.createDataFrame(
            [("o3", "c2", dt.datetime(2025, 2, 15, 10), "delivered", True),
             ("o4", "c3", dt.datetime(2025, 3, 1, 9), "delivered", True)],
            _SILVER_SCHEMA + ", _deleted boolean",
        ),
        delete_col="_deleted",
    )
    r = within(lambda: incremental_gold_update(
        spark, str(tmp_path / "silver"), str(tmp_path / "gold"),
        spark.createDataFrame([("c2",), ("c3",)], "customer_id string"),
        AS_OF, "r2",
    ), 120)
    assert r.rows_published == 0 and r.metadata["rows_deleted"] == 2
    with open(tmp_path / "gold" / "_metadata" / "run-r2.json") as f:
        assert json.load(f)["rows_deleted"] == 2
    gold = ManagedTable(spark, str(tmp_path / "gold"), keys=["customer_id", "as_of_date"])
    assert set(_features(gold)) == {"c1"}


def test_diff_versions_feeds_incremental_update(spark, tmp_path):
    # The changed-keys feed can come FROM the table itself: diff the
    # silver snapshots after a CDC merge, scope gold recompute to those
    # customers, and land bit-identical to a full re-run.
    silver = ManagedTable(spark, str(tmp_path / "silver"), keys=["order_id"])
    silver.overwrite(spark.createDataFrame(_silver_rows(), _SILVER_SCHEMA))
    gold_features(spark, str(tmp_path / "silver"), str(tmp_path / "gold"), AS_OF, "r1")
    v_before = silver.versions()[-1]

    silver.merge(spark.createDataFrame(
        [
            ("o5", "c1", dt.datetime(2025, 3, 20, 9), "delivered"),
            ("o4", "c3", dt.datetime(2025, 3, 1, 9), "canceled"),
        ],
        _SILVER_SCHEMA,
    ))

    changes = silver.diff_versions(v_before)
    changed_customers = (
        silver.read()
        .join(changes.select("order_id"), on="order_id", how="left_semi")
        .select("customer_id")
        .distinct()
    )
    assert {r["customer_id"] for r in changed_customers.collect()} == {"c1", "c3"}

    incremental_gold_update(
        spark, str(tmp_path / "silver"), str(tmp_path / "gold"),
        changed_customers, AS_OF, "r2",
    )
    got = _features(ManagedTable(spark, str(tmp_path / "gold"),
                                 keys=["customer_id", "as_of_date"]))

    gold_features(spark, str(tmp_path / "silver"), str(tmp_path / "full"),
                  AS_OF, "rf")
    want = _features(ManagedTable(spark, str(tmp_path / "full"),
                                  keys=["customer_id", "as_of_date"]))
    assert got == want
