"""Dimensional-warehouse operators (round-5 extension surface).

Entries that close lakehouse-operator gaps the reference's
medallion pipeline implies but never materializes (SURVEY §7.7
extension tier):

- SCD2 dimension build (``scd2_priority_history``): the
  slowly-changing-dimension type-2 history every warehouse derives
  from a change stream — gaps-and-islands run detection + interval
  stitching, the batch twin of the MERGE/CDC surface in
  ``sources/managed_table.py``.
- Conditional/boolean aggregate parity (``boolean_agg_battery``).
- Discrete percentiles (``percentile_disc_battery``) — the
  non-interpolated twin of ``order_value_percentiles``.
- Bucketed co-located join (``bucketed_colocated_join``): persists
  both join sides bucketed on the key and joins them exchange-free —
  the storage-layout feature that turns the biggest fact-fact shuffle
  at 100 TB into a local zip per bucket.
- Time-weighted average (``event_value_twap``): per-user TWAP over
  the event stream, all arithmetic in exact decimal/integer space.

Float discipline (ROUNDING_AUDIT.md): every emitted ratio is exact
integer ppm or a decimal-accumulated value — no ROUND over a bare
double anywhere on the oracle surface.
"""

from __future__ import annotations

import weakref

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecom_churn_lakehouse_spark.registry import register
from ecom_churn_lakehouse_spark.sources import load_table
from ecom_churn_lakehouse_spark.streaming.replay import ranges, replay, write_once

# ------------------------------------------------ SCD2 dimension build

_SCD2_SQL = """
WITH ordered AS (
    SELECT o_custkey AS customer_id,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderkey,
           o_orderpriority AS priority,
           CASE WHEN LAG(o_orderpriority) OVER w IS DISTINCT FROM
                     o_orderpriority THEN 1 ELSE 0 END AS chg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey)
),
runs AS (
    SELECT customer_id, order_date, o_orderkey, priority,
           SUM(chg) OVER (PARTITION BY customer_id
                          ORDER BY order_date, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS version
    FROM ordered
),
islands AS (
    SELECT customer_id, CAST(version AS INTEGER) AS version, priority,
           MIN(order_date) AS valid_from,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM runs
    GROUP BY customer_id, version, priority
)
SELECT customer_id, version, priority, valid_from,
       LEAD(valid_from) OVER (PARTITION BY customer_id
                              ORDER BY version) AS valid_to,
       n_orders,
       LEAD(valid_from) OVER (PARTITION BY customer_id
                              ORDER BY version) IS NULL AS is_current
FROM islands
"""


@register(
    "scd2_priority_history",
    _SCD2_SQL,
    doc="Slowly-changing-dimension type 2 built from an event stream: "
    "per-customer order-priority history as [valid_from, valid_to) "
    "intervals with version numbers and an is_current flag — "
    "gaps-and-islands run detection (change flag -> running-sum "
    "version id) followed by interval stitching (LEAD of the next "
    "run's start). The batch derivation of the dimension the "
    "MERGE/CDC surface (sources/managed_table.py) maintains "
    "incrementally. Every window and the aggregate share the "
    "customer_id partition key, so the whole build is ONE shuffle "
    "on customer (the version/lead windows and the run group-by all "
    "reuse it; at 100 TB the dimension build stays a single "
    "exchange of (key, attr, ts) triples — text/payload columns "
    "never enter it).",
)
def q_scd2_priority_history(spark, sf_dir):
    from ecom_churn_lakehouse_spark.operators.scd2 import scd2_build

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("customer_id"),
        F.to_date("o_orderdate").alias("order_date"),
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
    )
    return scd2_build(
        orders,
        key_col="customer_id",
        attr_col="priority",
        ts_col="order_date",
        tiebreak_col="o_orderkey",
    ).withColumnRenamed("n_events", "n_orders")


# --------------------------------------- boolean/conditional aggregates

_BOOL_AGG_SQL = """
SELECT o_orderpriority AS priority,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_orderstatus = 'P') AS any_pending,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
           AS n_open,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
       (MAX({'p': o_totalprice, 'k': o_orderkey})).k AS top_order_key,
       (MIN({'d': CAST(o_orderdate AS DATE), 'k': o_orderkey})).k
           AS first_order_key
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "boolean_agg_battery",
    _BOOL_AGG_SQL,
    doc="Boolean/conditional aggregate parity battery: bool_and / "
    "bool_or, filtered count (count_if), distinct count, and "
    "DETERMINISTIC argmax/argmin — max/min over a (value, key) "
    "struct rather than max_by/min_by, whose tie-breaking is "
    "engine-defined (struct comparison is lexicographic in both "
    "engines, so ties on the double value resolve identically by "
    "key). All single-pass hash aggregates, map-side combinable.",
)
def q_boolean_agg_battery(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "P").alias("any_pending"),
        F.count_if(F.col("o_orderstatus") == "O")
        .cast("long")
        .alias("n_open"),
        F.countDistinct("o_orderstatus").cast("long").alias("n_statuses"),
        F.max(F.struct("o_totalprice", "o_orderkey"))["o_orderkey"].alias(
            "top_order_key"
        ),
        F.min(
            F.struct(F.to_date("o_orderdate").alias("d"), "o_orderkey")
        )["o_orderkey"].alias("first_order_key"),
    )


# ------------------------------------------------- discrete percentiles

_PDISC_SQL = """
SELECT o_orderpriority AS priority,
       CAST(quantile_disc(o_totalprice, 0.25) AS DOUBLE) AS p25_disc,
       CAST(quantile_disc(o_totalprice, 0.5) AS DOUBLE) AS p50_disc,
       CAST(quantile_disc(o_totalprice, 0.9) AS DOUBLE) AS p90_disc,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "percentile_disc_battery",
    _PDISC_SQL,
    doc="Discrete (non-interpolated) percentiles per group: "
    "percentile_disc WITHIN GROUP ≡ DuckDB quantile_disc — both "
    "return the smallest input value whose cumulative distribution "
    "reaches p, so the result is always an actual data value "
    "(bit-identical, no interpolation arithmetic at all; the "
    "interpolated twin is order_value_percentiles). Sort-based "
    "aggregate; at scale the approximate path is approx_percentile "
    "(approx_distinct_profile's tolerance-gated pattern).",
)
def q_percentile_disc_battery(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.expr(
            "percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p25_disc"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p50_disc"),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p90_disc"),
        F.count("*").cast("long").alias("n_orders"),
    )


# ---------------------------------------------- bucketed co-located join

_BUCKETED_JOIN_SQL = """
SELECT o.o_orderkey AS order_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE) AS order_revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey
"""

_BKT_N = 8

# One bucketed layout per (live session, sf_dir): the write is the
# one-time cost that buys every later join on the key an exchange-free
# plan, so re-materializing it per query run conflated layout-build
# with the repeatable join probe in the bench (judge directive r5 #4 —
# the entry timed 2.2 s of which ~80% was the two saveAsTable calls).
# Weak keys so a dead session's entry can never alias a new one.
_BKT_LAYOUT: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def ensure_bucketed_layout(spark, sf_dir: str) -> None:
    """Materialize orders/lineitem bucket-sorted on the join key as
    session tables ``bkt_orders``/``bkt_lineitem`` (idempotent per
    session + sf_dir)."""
    from ecom_churn_lakehouse_spark.scratch import scratch_dir

    if _BKT_LAYOUT.get(spark) == sf_dir:
        return
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    base = scratch_dir(prefix="bucketed_join_")
    for name, df, key in (
        ("bkt_orders", orders, "o_orderkey"),
        ("bkt_lineitem", li, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(_BKT_N, key)
            .sortBy(key)
            .option("path", f"{base}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    _BKT_LAYOUT[spark] = sf_dir


@register(
    "bucketed_colocated_join",
    _BUCKETED_JOIN_SQL,
    doc="Exchange-free fact-fact join via bucketed storage layout: "
    "both orders and lineitem are persisted bucketed (and "
    "bucket-sorted) on the join key, then sort-merge joined and "
    "aggregated on the same key with ZERO shuffles in the join+agg "
    "subplan (tests/test_warehouse.py asserts no Exchange below the "
    "join). This is the layout decision that matters most at "
    "100 TB: the orders-lineitem shuffle is the single largest "
    "exchange in the TPC-H-shaped workload, and bucketing both "
    "sides at write time removes it from EVERY downstream join on "
    "that key. The layout build is session-cached "
    "(ensure_bucketed_layout), so this entry times the repeatable "
    "join probe, not the one-time write. The oracle is the plain "
    "join — layout must never change results.",
)
def q_bucketed_colocated_join(spark, sf_dir):
    ensure_bucketed_layout(spark, sf_dir)
    o = spark.table("bkt_orders")
    l = spark.table("bkt_lineitem")
    # merge hint: without it the tiny test fixture broadcast-joins and
    # the bucket layout is irrelevant; SMJ over equal bucket counts is
    # the exchange-free plan this entry exists to exercise.
    return (
        o.hint("merge")
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(F.col("o_orderkey").alias("order_id"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("order_revenue"),
        )
    )


# ------------------------------------------------- time-weighted average

_TWAP_SQL = """
WITH seg AS (
    SELECT user_id,
           value,
           (epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)) // 1000)
           - (epoch_us(ts) // 1000) AS dt_ms
    FROM events
),
agg AS (
    SELECT user_id,
           SUM(CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                         AS DECIMAL(19,0)) AS DECIMAL(19,0))
               * CAST(dt_ms AS DECIMAL(18,0))) AS num,
           CAST(SUM(dt_ms) AS BIGINT) AS held_ms,
           CAST(COUNT(*) AS BIGINT) AS n_segments
    FROM seg WHERE dt_ms IS NOT NULL AND dt_ms > 0
    GROUP BY user_id
)
SELECT user_id,
       CAST(CAST(num AS HUGEINT) // held_ms AS BIGINT) AS twap_micros,
       held_ms, n_segments
FROM agg
"""


@register(
    "event_value_twap",
    _TWAP_SQL,
    doc="Time-weighted average value per user over the event stream "
    "(TWAP): each observation is held until the next event, weighted "
    "by hold duration at millisecond resolution (timestamps floored "
    "to ms on BOTH sides — the fixture carries sub-second "
    "precision, and flooring each endpoint is the deterministic "
    "cross-engine choice). Numerator accumulates in DECIMAL (exact, "
    "order-independent), the mean is integer-micros floor division — "
    "no double summation or ROUND anywhere (ROUNDING_AUDIT "
    "discipline). One shuffle on user_id shared by the LEAD window "
    "and the aggregate.",
)
def q_event_value_twap(spark, sf_dir):
    from ecom_churn_lakehouse_spark.sources import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "value", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # floor each endpoint to ms BEFORE the lead (unix_micros is a LONG,
    # so DIV 1000 is the exact floor — mirrors the oracle's
    # epoch_us(..) // 1000; lead(floor) ≡ floor(lead) since the window
    # still orders by the raw ts)
    seg = (
        ev.withColumn("__ms", F.expr("unix_micros(ts) DIV 1000"))
        .withColumn(
            "dt_ms",
            (F.lead("__ms").over(w) - F.col("__ms")).cast("long"),
        )
        .filter(F.col("dt_ms").isNotNull() & (F.col("dt_ms") > 0))
    )
    # Numerator accumulates directly in integer micros: quantize value
    # to exact 6-dp micros FIRST (DECIMAL(19,0)), then multiply by the
    # DECIMAL(18,0) hold time -> DECIMAL(38,0) product, never above
    # Spark's 38-digit cap. The old num*1000000 post-multiply pushed a
    # DECIMAL(38,6) past precision 38, which with ANSI off silently
    # NULLs twap once a user's value*dt mass grows large (ADVICE r5).
    v_micros = (
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("decimal(19,0)")
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(v_micros * F.col("dt_ms").cast("decimal(18,0)"))
            .alias("num"),
            F.sum("dt_ms").cast("long").alias("held_ms"),
            F.count("*").cast("long").alias("n_segments"),
        )
        .select(
            "user_id",
            F.expr("CAST(num DIV held_ms AS BIGINT)").alias("twap_micros"),
            "held_ms",
            "n_segments",
        )
    )


@register(
    "stream_scd2_dimension",
    _SCD2_SQL,
    doc="Streaming CDC -> SCD2 dimension: order events arrive as "
    "micro-batches (file source, maxFilesPerTrigger=1) and each "
    "foreachBatch call drives pipelines/scd2.py::"
    "incremental_scd2_update — only the batch's touched keys rebuild "
    "from the accumulated event log and publish through the keyed "
    "MERGE (stale versions tombstoned via the CDC delete channel). "
    "The oracle is the BATCH SCD2 SQL over the original orders, so "
    "the streaming path must converge to the exact batch dimension "
    "state regardless of batch boundaries — the per-key "
    "decomposability argument made executable. Composes §2.9 "
    "foreachBatch + S7 MERGE + the round-5 SCD2 operator in one "
    "pipeline.",
)
def q_stream_scd2_dimension(spark, sf_dir):
    from ecom_churn_lakehouse_spark.pipelines.scd2 import (
        incremental_scd2_update,
    )
    from ecom_churn_lakehouse_spark.scratch import scratch_dir
    from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("customer_id"),
        F.to_date("o_orderdate").alias("order_date"),
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
    )
    base = scratch_dir(prefix="stream_scd2_")
    dim = ManagedTable(
        spark, f"{base}/dim", keys=["customer_id", "version"]
    )

    def _apply(batch_df, batch_id):
        # foreachBatch is at-least-once: a retried batch must not
        # duplicate events in the accumulated log (it would inflate
        # n_orders and break batch-convergence), so the batch lands in
        # its own batch_id partial through write_once; the SCD2 rebuild
        # for the batch's keys is itself idempotent (MERGE on
        # key+version), so re-running the update is safe.
        write_once(batch_df, f"{base}/seen/batch_id={batch_id}")
        incremental_scd2_update(
            spark,
            dim,
            spark.read.parquet(f"{base}/seen").drop("batch_id"),
            batch_df.select("customer_id").distinct(),
            key_col="customer_id",
            attr_col="priority",
            ts_col="order_date",
            tiebreak_col="o_orderkey",
        )

    # Shuffle sizing (VERDICT r11 directive #6): the three foreachBatch
    # MERGE publishes each run several small joins/aggregates whose 32
    # default post-shuffle tasks are pure overhead at fixture scale —
    # 8 partitions bound it (the stream_dedup_replay_daily knob; a
    # per-query setting sized UP with the key space at 100 TB).
    # Restored afterwards so batch entries keep the session default.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # Three chronological chunks -> three micro-batches (customers
        # recur across chunks, so mid-stream batches really do close
        # previously-open intervals and bump versions). Orders span
        # 1995-01-01 to 2001-08-01, so every chunk is non-empty.
        replay(
            orders, ranges("order_date", "1997-01-01", "1999-01-01"), _apply, base
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return dim.read().withColumnRenamed("n_events", "n_orders")


# ------------------------------------------------ rank-function battery

_RANK_BATTERY_SQL = """
WITH ranked AS (
    SELECT o_orderpriority AS priority, o_orderkey AS order_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n,
           CAST(NTILE(4) OVER w AS INTEGER) AS price_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
)
SELECT priority, order_id, price_quartile,
       CAST(CASE WHEN n > 1 THEN ((rn - 1) * 1000000) // (n - 1)
                 ELSE 0 END AS BIGINT) AS percent_rank_ppm,
       CAST((rn * 1000000) // n AS BIGINT) AS cume_dist_ppm
FROM ranked
"""


@register(
    "rank_function_battery",
    _RANK_BATTERY_SQL,
    doc="Ranking-function battery: NTILE(4), percent_rank and "
    "cume_dist per priority partition, all over ONE window "
    "specification (one shuffle + one sort serves every function). "
    "The rank ratios are emitted as exact integer ppm with the rank "
    "widened to BIGINT before the multiply (ROW_NUMBER/RANK are "
    "INT32 in Spark — unwidened, populations past ~2148 rows "
    "overflow under ANSI; round-5 gotcha list), and the tie-break "
    "(price, orderkey) makes every rank deterministic so "
    "percent_rank needs no RANK-vs-ROW_NUMBER ambiguity. "
    "percent_rank's n=1 partition edge is guarded explicitly — both "
    "engines define it as 0 but the guarded floor-division spelling "
    "would otherwise divide by zero.",
)
def q_rank_function_battery(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wp = Window.partitionBy("o_orderpriority")
    return orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderkey").alias("order_id"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(wp).cast("long").alias("n"),
        F.ntile(4).over(w).cast("int").alias("price_quartile"),
    ).select(
        "priority",
        "order_id",
        "price_quartile",
        F.when(
            F.col("n") > 1,
            F.expr("((rn - 1) * 1000000) DIV (n - 1)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("percent_rank_ppm"),
        F.expr("(rn * 1000000) DIV n").cast("long").alias("cume_dist_ppm"),
    )


# -------------------------------- incremental aggregate maintenance (MV)

_MV_SPLIT = "1997-01-01"

_MV_SQL = """
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS revenue_cents
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@register(
    "incremental_agg_maintenance",
    _MV_SQL,
    doc="Incremental materialized-view maintenance by partial-"
    "aggregate merge: the revenue-by-nation MV is materialized from "
    "orders before the split date, PERSISTED, read back, and then "
    "brought current by merging the delta partition's partial "
    "aggregate (SUM and COUNT are commutative monoids, so "
    "merge(base, delta) re-aggregates the two partial frames — the "
    "same algebra Spark's own map-side combine uses, lifted to "
    "cross-run persistence). The oracle is the full recompute over "
    "all orders: maintenance must be indistinguishable from rebuild. "
    "All money in exact integer cents. At 100 TB this is THE "
    "difference between touching one day's partition and re-scanning "
    "years of facts on every refresh; avg-type measures derive at "
    "read time from the summed partials, never get merged "
    "themselves.",
)
def q_incremental_agg_maintenance(spark, sf_dir):
    from ecom_churn_lakehouse_spark.scratch import scratch_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )

    def partial(df):
        return (
            df.join(F.broadcast(cust), df.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("revenue_cents"),
            )
        )

    base = partial(orders.filter(F.col("o_orderdate") < _MV_SPLIT))
    mv_path = scratch_dir(prefix="mv_rev_nation_") + "/mv"
    base.write.mode("overwrite").parquet(mv_path)
    materialized = spark.read.parquet(mv_path)
    delta = partial(orders.filter(F.col("o_orderdate") >= _MV_SPLIT))
    return (
        materialized.unionByName(delta)
        .groupBy("nation")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
    )


@register(
    "stream_agg_maintenance",
    _MV_SQL,
    doc="Streaming twin of incremental_agg_maintenance: order files "
    "arrive as micro-batches (file source, maxFilesPerTrigger=1) and "
    "each foreachBatch call writes the batch's PARTIAL revenue-by-"
    "nation aggregate to a batch_id-keyed partial directory through "
    "streaming/replay.py::write_once — skipped only when the "
    "partial's _SUCCESS marker is there, so at-least-once redelivery "
    "cannot double-count and a half-written partial is rewritten. "
    "The served view is the read-time merge (re-aggregate) "
    "of all partials; the oracle is the batch full recompute, so "
    "convergence must be exact regardless of batch boundaries. "
    "Partials are |nations| rows per batch — the shuffle the "
    "streaming path pays is constant-size, while the fact scan "
    "happens once per arriving file.",
)
def q_stream_agg_maintenance(spark, sf_dir):
    from ecom_churn_lakehouse_spark.scratch import scratch_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )

    def partial(df):
        return (
            df.join(F.broadcast(cust), df.o_custkey == cust.c_custkey)
            .join(
                F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
            )
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("revenue_cents"),
            )
        )

    base = scratch_dir(prefix="stream_mv_")
    replay(
        orders,
        ranges("o_orderdate", "1996-01-01", "1998-01-01"),
        lambda bdf, bid: write_once(
            partial(bdf), f"{base}/partials/batch_id={bid}"
        ),
        base,
    )
    return (
        spark.read.parquet(f"{base}/partials")
        .drop("batch_id")
        .groupBy("nation")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
    )


# ------------------------------------------- penny-exact installment split

_INSTALLMENT_SQL = """
WITH c AS (
    SELECT o_orderpriority AS priority,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
    FROM orders
),
split AS (
    SELECT priority, cents,
           cents // 3 + CASE WHEN cents % 3 >= 1 THEN 1 ELSE 0 END AS i1,
           cents // 3 + CASE WHEN cents % 3 >= 2 THEN 1 ELSE 0 END AS i2,
           cents // 3 AS i3
    FROM c
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(SUM(i1) AS BIGINT) AS inst1_cents,
       CAST(SUM(i2) AS BIGINT) AS inst2_cents,
       CAST(SUM(i3) AS BIGINT) AS inst3_cents
FROM split GROUP BY priority
"""


@register(
    "installment_split_battery",
    _INSTALLMENT_SQL,
    doc="Penny-exact installment allocation: each order's cents split "
    "into 3 installments with the remainder pennies assigned to the "
    "EARLIEST installments (the standard finance allocation rule — "
    "never divide money as floats and round, or pennies appear and "
    "vanish). Conservation i1+i2+i3 = cents holds row-wise by "
    "construction and is visible in the aggregate (total_cents = "
    "sum of the three installment columns — the oracle hash pins "
    "it). All operands non-negative, so DuckDB // and Spark DIV "
    "agree; single scan, map-side combinable.",
)
def q_installment_split_battery(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    split = c.select(
        "priority",
        "cents",
        F.expr(
            "cents DIV 3 + CASE WHEN cents % 3 >= 1 THEN 1 ELSE 0 END"
        ).alias("i1"),
        F.expr(
            "cents DIV 3 + CASE WHEN cents % 3 >= 2 THEN 1 ELSE 0 END"
        ).alias("i2"),
        F.expr("cents DIV 3").alias("i3"),
    )
    return split.groupBy("priority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum("i1").cast("long").alias("inst1_cents"),
        F.sum("i2").cast("long").alias("inst2_cents"),
        F.sum("i3").cast("long").alias("inst3_cents"),
    )


# ------------------------------------- schema-evolution union semantics

_SCHEMA_EVO_SQL = """
WITH legacy AS (
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
           CAST(NULL AS VARCHAR) AS priority
    FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01'
),
modern AS (
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
           o_orderpriority AS priority
    FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
),
unioned AS (
    SELECT * FROM legacy UNION ALL SELECT * FROM modern
)
SELECT COALESCE(priority, '<pre-schema>') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(COUNT(priority) AS BIGINT) AS n_with_priority
FROM unioned GROUP BY COALESCE(priority, '<pre-schema>')
"""


@register(
    "schema_evolution_union",
    _SCHEMA_EVO_SQL,
    doc="Schema-evolution read semantics: a 'legacy' extract missing "
    "the priority column unions with the evolved extract via "
    "unionByName(allowMissingColumns=True) — Spark's mergeSchema "
    "read path in miniature — and the missing column surfaces as "
    "typed NULLs that flow correctly through grouping (NULL-keyed "
    "group), COUNT(col) vs COUNT(*), and COALESCE labeling. The "
    "oracle spells the same union with explicit NULL padding, so "
    "the hash pins that evolution never invents or drops rows or "
    "miscounts the null-column population.",
)
def q_schema_evolution_union(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.to_date("o_orderdate").alias("d"),
        F.col("o_orderpriority"),
    )
    legacy = orders.filter(F.col("d") < "1996-01-01").select(
        "o_orderkey", "cents"
    )
    modern = orders.filter(F.col("d") >= "1996-01-01").select(
        "o_orderkey", "cents", F.col("o_orderpriority").alias("priority")
    )
    unioned = legacy.unionByName(modern, allowMissingColumns=True)
    return unioned.groupBy(
        F.coalesce(F.col("priority"), F.lit("<pre-schema>")).alias(
            "priority"
        )
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.count("priority").cast("long").alias("n_with_priority"),
    )


# ------------------------------------------- streaming checksum maintenance

from ecom_churn_lakehouse_spark.queries.dataops_queries import (  # noqa: E402
    _CHECKSUM_SQL as _CHECKSUM_TWIN_SQL,
)


@register(
    "stream_checksum_maintenance",
    _CHECKSUM_TWIN_SQL,
    doc="Streaming twin of table_checksum_by_segment: BIT_XOR is a "
    "mergeable sketch (XOR of per-batch XORs IS the total XOR, and a "
    "re-applied row cancels itself), so the replication checksum is "
    "maintainable from micro-batches without reprocessing history. "
    "Three customer chunks (c_custkey % 3, so every chunk is "
    "non-empty and the cross-batch merge really runs) stream through "
    "foreachBatch (_SUCCESS-gated write_once partials per batch_id, "
    "at-least-once safe); the merged "
    "partials must equal the one-shot batch checksum exactly — which "
    "is the oracle.",
)
def q_stream_checksum_maintenance(spark, sf_dir):
    from ecom_churn_lakehouse_spark.operators.sampling import hash_bucket
    from ecom_churn_lakehouse_spark.scratch import scratch_dir

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )

    row_key = F.concat(
        F.col("c_custkey").cast("string"),
        F.lit("|"),
        F.col("c_name"),
        F.lit("|"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").cast("string"),
    )

    def partial(df):
        h = hash_bucket(row_key, "ck:", mod=2**60)
        return (
            df.select(F.col("c_mktsegment").alias("segment"), h.alias("h"))
            .groupBy("segment")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.expr("bit_xor(h)").cast("long").alias("xor_checksum"),
                F.min("h").cast("long").alias("min_hash"),
                F.max("h").cast("long").alias("max_hash"),
            )
        )

    base = scratch_dir(prefix="stream_ck_")
    replay(
        cust,
        [F.col("c_custkey") % 3 == m for m in (0, 1, 2)],
        lambda bdf, bid: write_once(
            partial(bdf), f"{base}/partials/batch_id={bid}"
        ),
        base,
    )
    return (
        spark.read.parquet(f"{base}/partials")
        .drop("batch_id")
        .groupBy("segment")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.expr("bit_xor(xor_checksum)").cast("long").alias("xor_checksum"),
            F.min("min_hash").cast("long").alias("min_hash"),
            F.max("max_hash").cast("long").alias("max_hash"),
        )
    )


# ------------------------------------------- SCD2 as-of fact join

#: The dimension CTE is the scd2_priority_history oracle VERBATIM so
#: the two entries cannot desynchronize.
_SCD2_ASOF_SQL = _SCD2_SQL.strip().replace("WITH ", "", 1)

_SCD2_ASOF_JOIN_SQL = f"""
WITH {_SCD2_ASOF_SQL.split("SELECT customer_id, version")[0].rstrip().rstrip(")").rstrip()}
),
dim AS (
SELECT customer_id, version{_SCD2_ASOF_SQL.split("SELECT customer_id, version", 1)[1]}
),
fact AS (
    SELECT o.o_custkey AS customer_id,
           CAST(l.l_shipdate AS DATE) AS ship_date,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_cents
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT COALESCE(d.priority, 'PRE-HISTORY') AS priority_at_ship,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(f.price_cents) AS BIGINT) AS revenue_cents,
       CAST(COUNT(DISTINCT f.customer_id) AS BIGINT) AS n_customers
FROM fact f
ASOF LEFT JOIN dim d
  ON f.customer_id = d.customer_id AND f.ship_date >= d.valid_from
GROUP BY COALESCE(d.priority, 'PRE-HISTORY')
"""


@register(
    "scd2_asof_fact_join",
    _SCD2_ASOF_JOIN_SQL,
    doc="Temporal (as-of) fact-to-dimension join: every line item "
    "resolves the customer's order-priority VERSION that was valid at "
    "ship time against the SCD2 history scd2_priority_history builds, "
    "then rolls revenue up by priority-as-of-ship. The join is "
    "customer-equi with a residual [valid_from, valid_to) range "
    "predicate — per-key version lists are short, so the range check "
    "is row-local after the equi shuffle; intervals partition each "
    "customer's timeline, so exactly one version matches per line "
    "(asserted in tests). This is the late-arriving-dimension "
    "resolution every warehouse MERGE pipeline needs.",
)
def q_scd2_asof_fact_join(spark, sf_dir):
    from ecom_churn_lakehouse_spark.operators.scd2 import scd2_build

    orders = load_table(spark, sf_dir, "orders")
    dim = scd2_build(
        orders.select(
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
        ),
        "customer_id",
        "priority",
        "order_date",
        "o_orderkey",
    ).select("customer_id", "priority", "valid_from", "valid_to")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_shipdate").cast("date").alias("ship_date"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    fact = li.join(
        orders.select("o_orderkey", F.col("o_custkey").alias("customer_id")),
        li.l_orderkey == F.col("o_orderkey"),
    ).select("customer_id", "ship_date", "price_cents")
    joined = fact.join(
        dim.withColumnRenamed("customer_id", "d_customer_id"),
        (F.col("customer_id") == F.col("d_customer_id"))
        & (F.col("valid_from") <= F.col("ship_date"))
        & (F.col("valid_to").isNull() | (F.col("ship_date") < F.col("valid_to"))),
        "left",
    )
    return joined.groupBy(
        F.coalesce(F.col("priority"), F.lit("PRE-HISTORY")).alias("priority_at_ship")
    ).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("price_cents").cast("long").alias("revenue_cents"),
        F.count_distinct("customer_id").cast("long").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# Round 9 fourth wave: value-window function battery.
# ---------------------------------------------------------------------------

def _value_battery_sql(engine: str) -> str:
    # The one token ANSI left dialect-specific here: DuckDB spells
    # null-skipping INSIDE the call (FIRST_VALUE(x IGNORE NULLS)),
    # Spark AFTER it (FIRST_VALUE(x) IGNORE NULLS). One template,
    # engine-split on that token only (the Bradley-Terry discipline).
    inner = " IGNORE NULLS" if engine == "duck" else ""
    outer = " IGNORE NULLS" if engine == "spark" else ""
    return _VALUE_BATTERY_TEMPLATE.format(IN_INNER=inner, IN_OUTER=outer)


_VALUE_BATTERY_TEMPLATE = """
SELECT o_orderpriority AS priority,
       CAST(o_orderkey AS BIGINT) AS order_id,
       CAST(FIRST_VALUE(o_orderkey) OVER w AS BIGINT) AS cheapest_id,
       CAST(LAST_VALUE(o_orderkey) OVER (
            PARTITION BY o_orderpriority
            ORDER BY o_totalprice, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS BIGINT) AS priciest_id,
       CAST(NTH_VALUE(o_orderkey, 3) OVER (
            PARTITION BY o_orderpriority
            ORDER BY o_totalprice, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS BIGINT) AS third_cheapest_id,
       CAST(LAG(o_orderkey, 2, -1) OVER w AS BIGINT) AS lag2_id,
       CAST(LEAD(o_orderkey, 2, -1) OVER w AS BIGINT) AS lead2_id,
       CAST(FIRST_VALUE(
            CASE WHEN o_orderstatus = 'F' THEN o_orderkey END{IN_INNER}
       ){IN_OUTER} OVER w AS BIGINT) AS first_finished_id
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)
"""


@register(
    "value_window_battery",
    _value_battery_sql("duck"),
    doc="Value-window function battery per priority partition (the "
    "companion to rank_function_battery's ranking surface): "
    "FIRST_VALUE under the default frame, LAST_VALUE and NTH_VALUE "
    "under an EXPLICIT full frame — the classic correctness pitfall "
    "this battery exists to pin: the default RANGE frame ends at "
    "CURRENT ROW, so an unframed LAST_VALUE is just the current "
    "row and an unframed NTH_VALUE(3) is NULL for the first two "
    "rows; both engines agree only when the frame is spelled out — "
    "plus LAG/LEAD with explicit offset-2 and -1 defaults, and "
    "FIRST_VALUE ... IGNORE NULLS over a CASE-nulled column (the "
    "first FINISHED order by price, skipping others — the "
    "null-skipping semantics a naive first_value silently gets "
    "wrong; the IGNORE NULLS placement is the one engine-split "
    "token — inside the call for the oracle, after it for Spark). "
    "Deterministic total order via the (price, orderkey) "
    "tie-break; one named WINDOW serves five of the six functions "
    "(one shuffle + one sort). All values are key columns — exact "
    "integers.",
)
def q_value_window_battery(spark, sf_dir):
    from ecom_churn_lakehouse_spark.sources.catalog import run_sql

    return run_sql(spark, sf_dir, _value_battery_sql("spark"))
