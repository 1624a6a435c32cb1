"""Mutable-table lifecycle entries: the S7 keyed MERGE and the
version change feed, ORACLE-verified (previously pytest-golden only —
SURVEY §2.1 S7, reference orders_bronze_to_silver.py:184-195).

Each entry drives the real ManagedTable machinery against a temp
directory: deterministic batches derived from the orders fixture are
MERGEd (insert + update + CDC tombstone), and the resulting table
state / change feed is read back and hash-compared against a pure-SQL
derivation of what the state MUST be. A wrong matched/unmatched
branch, a tombstone applied to an absent key, or a retention bug in
time travel all hash-fail.
"""

from __future__ import annotations

from ecom_churn_lakehouse_spark.scratch import scratch_dir

from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.registry import register
from ecom_churn_lakehouse_spark.sources import load_table
from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable


def _batches(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b1 = orders.filter(F.col("o_orderkey") % 3 != 0)
    b2 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("F").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    b3 = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        F.lit(0.0).alias("o_totalprice"),
        F.lit(True).alias("__deleted"),
    )
    return b1, b2, b3


def _run_merges(spark, sf_dir):
    base = scratch_dir(prefix="lifecycle_q_")
    b1, b2, b3 = _batches(spark, sf_dir)
    t = ManagedTable(spark, f"{base}/orders", keys=["o_orderkey"])
    t.merge(b1)
    t.merge(b2)
    t.merge(b3, delete_col="__deleted")
    return t


_MERGE_STATE_SQL = """
WITH b1 AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 3 <> 0
),
b2 AS (
    SELECT o_orderkey, 'F' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
),
upserted AS (
    SELECT COALESCE(b2.o_orderkey, b1.o_orderkey) AS order_id,
           COALESCE(b2.o_orderstatus, b1.o_orderstatus) AS order_status,
           COALESCE(b2.o_totalprice, b1.o_totalprice) AS total_price
    FROM b1 FULL OUTER JOIN b2 ON b1.o_orderkey = b2.o_orderkey
)
SELECT order_id, order_status, total_price
FROM upserted
WHERE order_id % 7 <> 0
"""


@register(
    "merge_upsert_state",
    _MERGE_STATE_SQL,
    doc="S7 keyed MERGE, oracle-verified end-to-end: three real "
    "ManagedTable.merge calls against a temp table — inserts (batch "
    "1), matched updates (batch 2 rewrites status+price for even "
    "keys), and CDC tombstones (batch 3 deletes every 7th key; "
    "tombstones for absent keys are no-ops) — then the final state "
    "is read back and hash-compared against the pure-SQL derivation "
    "(full-outer coalesce + delete filter). Source-wins, "
    "delete-over-update, and absent-key-tombstone semantics all "
    "pinned by value. The MERGE itself is the engine's snapshot "
    "full-outer publish, committed by claiming the next Delta log "
    "version (_delta_log/{v:020d}.json, put-if-absent).",
)
def q_merge_upsert_state(spark, sf_dir):
    t = _run_merges(spark, sf_dir)
    return t.read().select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_totalprice").alias("total_price"),
    )


_CHANGE_FEED_SQL = """
WITH b1 AS (
    SELECT o_orderkey FROM orders WHERE o_orderkey % 3 <> 0
),
b2 AS (
    SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
),
state2 AS (
    SELECT COALESCE(b2.o_orderkey, b1.o_orderkey) AS order_id
    FROM b1 FULL OUTER JOIN b2 ON b1.o_orderkey = b2.o_orderkey
)
SELECT order_id, 'delete' AS change_type
FROM state2
WHERE order_id % 7 = 0
"""


@register(
    "version_change_feed",
    _CHANGE_FEED_SQL,
    doc="Time travel + change-data-feed, oracle-verified: after the "
    "same three MERGEs, diff_versions() between the two retained "
    "log versions (1, after batch 2, vs 2, the newest) must emit "
    "exactly the delete feed of the tombstone batch — every 7th key "
    "that existed in the pre-delete state, nothing else. Pins "
    "retention (the last two versions' snapshot dirs), version "
    "ordering, and the full-outer null-safe "
    "payload diff in one hash (ManagedTable.diff_versions; the "
    "incremental gold pipeline consumes this exact feed).",
)
def q_version_change_feed(spark, sf_dir):
    t = _run_merges(spark, sf_dir)
    prev = t.versions()[-2]
    return t.diff_versions(prev).select(
        F.col("o_orderkey").alias("order_id"), "change_type"
    )


# ----------------------------------------------- GDPR erasure cascade

_ERASURE_SQL = """
WITH subjects AS (
    SELECT c_custkey AS id FROM customer WHERE c_custkey % 37 = 0
),
del_orders AS (
    SELECT o_orderkey FROM orders
    WHERE o_custkey IN (SELECT id FROM subjects)
)
SELECT 'customer' AS table_name,
       CAST((SELECT COUNT(*) FROM subjects) AS BIGINT) AS n_rows_to_delete
UNION ALL
SELECT 'orders', CAST(COUNT(*) AS BIGINT) FROM del_orders
UNION ALL
SELECT 'lineitem', CAST(COUNT(*) AS BIGINT) FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)
UNION ALL
SELECT 'events', CAST(COUNT(*) AS BIGINT) FROM events
WHERE user_id IN (SELECT id FROM subjects)
"""


@register(
    "user_erasure_audit",
    _ERASURE_SQL,
    doc="Right-to-erasure cascade audit: given a deterministic "
    "data-subject set (custkey % 37), the exact row counts a "
    "delete would cascade to across every table that references the "
    "subject — directly (orders, events) or transitively through "
    "the order foreign key (lineitem). The compliance-review "
    "artifact that runs BEFORE the destructive MERGE-delete "
    "(sources/managed_table.py's CDC tombstone channel executes it); "
    "every probe is a LEFT SEMI join against the broadcast-size "
    "subject/order-key sets, so the audit costs one scan per table "
    "at any scale, and nothing here mutates state.",
)
def q_user_erasure_audit(spark, sf_dir):
    subjects = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 37 == 0)
        .select(F.col("c_custkey").alias("id"))
    )
    orders = load_table(spark, sf_dir, "orders")
    del_orders = orders.join(
        F.broadcast(subjects), orders.o_custkey == subjects.id, "left_semi"
    ).select("o_orderkey")
    lineitem = load_table(spark, sf_dir, "lineitem")
    del_lines = lineitem.join(
        F.broadcast(del_orders),
        lineitem.l_orderkey == del_orders.o_orderkey,
        "left_semi",
    )
    from ecom_churn_lakehouse_spark.sources import load_events

    events = load_events(spark, sf_dir)
    del_events = events.join(
        F.broadcast(subjects), events.user_id == subjects.id, "left_semi"
    )

    def count_row(name, df):
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count("*").cast("long").alias("n_rows_to_delete"),
        )

    return (
        count_row("customer", subjects)
        .unionByName(count_row("orders", del_orders))
        .unionByName(count_row("lineitem", del_lines))
        .unionByName(count_row("events", del_events))
    )
