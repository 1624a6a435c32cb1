"""Analytic operator extensions round 2 (SURVEY.md §2.5/§2.6/§2.8).

Fills the operator families SURVEY lists as absent-in-reference but
engine-built-in, each verified against the DuckDB oracle:

- set ops: INTERSECT (``repeat_customers``) to pair the existing
  EXCEPT (``lapsed_customers``); UNION ALL conform-then-aggregate
  (``activity_timeline``)
- joins: FULL OUTER (``orders_vs_events_monthly``) — the one join
  type previously missing from the inventory
- windows: ``lead`` (``next_order_gap``), ``ntile``
  (``customer_value_deciles``), and a RANGE frame
  (``orders_trailing_30d``) to pair the existing ROWS frame
- grouping: CUBE (``status_priority_cube``) to pair ROLLUP/pivot

Scale notes are per-query; the common rule: every window here is
keyed by customer (parallel across the key space) except the ntile
ranking, whose global-order note explains the 100 TB substitute.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecom_churn_lakehouse_spark.registry import register
from ecom_churn_lakehouse_spark.sources import load_events, load_table
from ecom_churn_lakehouse_spark.streaming.replay import ranges, replay, write_once


def _dsum(col, scale=2):
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


# ------------------------------------------------------- set: INTERSECT

_REPEAT_SQL = """
SELECT o_custkey AS customer_id FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
INTERSECT
SELECT o_custkey AS customer_id FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
"""


@register(
    "repeat_customers",
    _REPEAT_SQL,
    doc="Set op INTERSECT: customers active in both 1996 and 1997 "
    "(SURVEY §2.8 built-in; pairs with lapsed_customers' EXCEPT). "
    "Set semantics = distinct-then-intersect, one shuffle per side.",
)
def q_repeat_customers(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("customer_id"),
        F.to_date("o_orderdate").alias("d"),
    )

    def year(y):
        return orders.filter(
            (F.col("d") >= F.lit(f"{y}-01-01").cast("date"))
            & (F.col("d") < F.lit(f"{y + 1}-01-01").cast("date"))
        ).select("customer_id")

    return year(1996).distinct().intersect(year(1997).distinct())


# ------------------------------------------------- set: UNION ALL conform

_TIMELINE_SQL = """
WITH ulog AS (
    SELECT 'order' AS kind, CAST(date_trunc('month', o_orderdate) AS DATE) AS month
    FROM orders
    UNION ALL
    SELECT 'event' AS kind, CAST(date_trunc('month', ts) AS DATE) AS month
    FROM events
)
SELECT kind, month, COUNT(*) AS n
FROM ulog GROUP BY kind, month
"""


@register(
    "activity_timeline",
    _TIMELINE_SQL,
    doc="UNION ALL conform-then-aggregate: orders and events mapped onto "
    "one (kind, month) log (SURVEY §2.8). unionByName keeps the "
    "conform explicit; the aggregate is a single hash-agg over the "
    "concatenated scan — no extra shuffle for the union itself.",
)
def q_activity_timeline(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit("order").alias("kind"),
        F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
    )
    events = load_events(spark, sf_dir).select(
        F.lit("event").alias("kind"),
        F.trunc(F.to_date("ts"), "month").alias("month"),
    )
    return (
        orders.unionByName(events)
        .groupBy("kind", "month")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------- join: FULL OUTER

_FULL_OUTER_SQL = """
WITH om AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1
),
em AS (
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
)
SELECT COALESCE(om.month, em.month) AS month,
       COALESCE(om.n_orders, 0) AS n_orders,
       COALESCE(em.n_events, 0) AS n_events
FROM om FULL OUTER JOIN em ON om.month = em.month
"""


@register(
    "orders_vs_events_monthly",
    _FULL_OUTER_SQL,
    doc="FULL OUTER join of two monthly aggregates with COALESCE'd key "
    "and defaults — the join type missing from SURVEY §2.6's "
    "inventory. Both sides pre-aggregate before the join, so the "
    "outer join runs over months (tiny), not raw rows.",
)
def q_orders_vs_events_monthly(spark, sf_dir):
    om = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("month"))
        .agg(F.count("*").alias("n_orders"))
    )
    em = (
        load_events(spark, sf_dir)
        .groupBy(F.trunc(F.to_date("ts"), "month").alias("month"))
        .agg(F.count("*").alias("n_events"))
    )
    return om.join(em, on="month", how="full_outer").select(
        F.col("month"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


# ------------------------------------------------------- window: lead

_LEAD_SQL = """
SELECT o_custkey AS customer_id,
       o_orderkey AS order_id,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(next_d AS DATE))
            AS INTEGER) AS days_to_next
FROM (
    SELECT o_custkey, o_orderkey, o_orderdate,
           LEAD(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS next_d
    FROM orders
)
"""


@register(
    "next_order_gap",
    _LEAD_SQL,
    doc="lead() analytic — forward twin of the reference's lag (W3, "
    "customer_features_daily.py:150-170); last order per customer "
    "keeps a NULL gap. Keyed window, parallel across customers.",
)
def q_next_order_gap(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_id"),
        F.to_date("o_orderdate").alias("order_date"),
        F.datediff(F.to_date(F.lead("o_orderdate").over(w)), F.to_date("o_orderdate"))
        .cast("int")
        .alias("days_to_next"),
    )


# ------------------------------------------------------ window: ntile

_DECILE_SQL = """
WITH spend AS (
    SELECT o_custkey AS customer_id,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders GROUP BY 1
)
SELECT customer_id, total_spend,
       CAST(NTILE(10) OVER (ORDER BY total_spend DESC, customer_id) AS INTEGER)
           AS spend_decile
FROM spend
"""


@register(
    "customer_value_deciles",
    _DECILE_SQL,
    doc="ntile(10) ranking over per-customer spend (window extension, "
    "SURVEY §2.5 absent-list). The unpartitioned ORDER BY serializes "
    "through one task — fine for the per-customer aggregate (rows = "
    "customers, not orders); at 100 TB swap to approx_percentile "
    "cutoffs + a broadcast bucket lookup, which this engine's "
    "order_value_percentiles query demonstrates.",
)
def q_customer_value_deciles(spark, sf_dir):
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("customer_id"))
        .agg(_dsum(F.col("o_totalprice")).alias("total_spend"))
    )
    w = Window.orderBy(F.col("total_spend").desc(), "customer_id")
    return spend.select(
        "customer_id",
        "total_spend",
        F.ntile(10).over(w).cast("int").alias("spend_decile"),
    )


# ------------------------------------------------- window: RANGE frame

_RANGE_FRAME_SQL = """
SELECT customer_id, order_id, order_date, orders_trailing_30d
FROM (
    SELECT o_custkey AS customer_id,
           o_orderkey AS order_id,
           CAST(o_orderdate AS DATE) AS order_date,
           COUNT(*) OVER (
               PARTITION BY o_custkey
               ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
           ) AS orders_trailing_30d
    FROM orders
)
"""


@register(
    "orders_trailing_30d",
    _RANGE_FRAME_SQL,
    doc="RANGE frame (value-based window, vs cumulative_customer_spend's "
    "ROWS frame): per order, how many orders the same customer placed "
    "in the trailing 30 days — the windowed-count feature (A2) as a "
    "sliding per-row analytic. Ties (same-day orders) are frame peers "
    "on both engines, so the result is deterministic.",
)
def q_orders_trailing_30d(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    epoch_day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_day)
        .rangeBetween(-29, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_id"),
        F.to_date("o_orderdate").alias("order_date"),
        F.count("*").over(w).alias("orders_trailing_30d"),
    )


# -------------------------------------------------------- grouping: CUBE

_CUBE_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS order_status,
       COALESCE(o_orderpriority, 'ALL') AS order_priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register(
    "status_priority_cube",
    _CUBE_SQL,
    doc="CUBE grouping sets (pairs the existing ROLLUP/pivot entries, "
    "SURVEY §2.4 absent-list). Spark expands the 4 grouping sets in "
    "one pass with partial aggregation — no per-set rescan. Fixture "
    "columns are non-null, so COALESCE('ALL') is unambiguous.",
)
def q_status_priority_cube(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("order_status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("order_priority"),
            "n_orders",
            "total_price",
        )
    )


# --------------------------------------------- generator: posexplode

_TOKEN_POS_SQL = r"""
WITH toks AS (
    SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
)
SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, t[i] AS token
FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
"""


@register(
    "doc_token_positions",
    _TOKEN_POS_SQL,
    doc="posexplode generator (UDTF family, SURVEY §2.10 absent-list): "
    "position-indexed token stream per document. regexp_extract_all "
    "on both engines keeps tokenization bit-identical; the explode is "
    "scan-local (no shuffle).",
)
def q_doc_token_positions(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "token")
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), "token")


# ------------------------------------- scalar subquery / decorrelation

_ABOVE_AVG_SQL = """
WITH spend AS (
    SELECT o_custkey AS customer_id,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(CAST(total_spend AS DECIMAL(18,2))) AS DOUBLE) AS s,
           COUNT(*) AS n
    FROM spend
)
SELECT customer_id, total_spend
FROM spend, tot
WHERE total_spend * n > s
"""


@register(
    "customers_above_avg_spend",
    _ABOVE_AVG_SQL,
    doc="Scalar-aggregate subquery (SQL shape) decorrelated into a "
    "broadcast 1-row cross join (the plan Catalyst produces for "
    "scalar subqueries). The avg comparison is expressed "
    "multiplicatively (spend*n > sum) over exact decimal sums, so no "
    "float-division jitter can flip boundary rows between engines.",
)
def q_customers_above_avg_spend(spark, sf_dir):
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("customer_id"))
        .agg(_dsum(F.col("o_totalprice")).alias("total_spend"))
    )
    tot = spend.agg(
        _dsum(F.col("total_spend")).alias("s"), F.count("*").alias("n")
    )
    return (
        spend.join(F.broadcast(tot))
        .filter(F.col("total_spend") * F.col("n") > F.col("s"))
        .select("customer_id", "total_spend")
    )


# ------------------------------------------------------- cross join

_GRID_SQL = """
WITH segs AS (SELECT DISTINCT c_mktsegment AS segment FROM customer),
pris AS (SELECT DISTINCT o_orderpriority AS priority FROM orders),
grid AS (SELECT segment, priority FROM segs CROSS JOIN pris),
counts AS (
    SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
)
SELECT g.segment, g.priority, COALESCE(n.n_orders, 0) AS n_orders
FROM grid g LEFT JOIN counts n
  ON g.segment = n.segment AND g.priority = n.priority
"""


@register(
    "segment_priority_grid",
    _GRID_SQL,
    doc="CROSS JOIN dimension grid + left join with zero-fill: the "
    "dense segment×priority matrix including empty cells (SURVEY "
    "§2.6 absent-list). Both grid sides are tiny distinct sets, so "
    "the cross product is broadcast-cheap; the fact-side count "
    "aggregates before joining.",
)
def q_segment_priority_grid(spark, sf_dir):
    segs = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("segment"))
        .distinct()
    )
    pris = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("priority"))
        .distinct()
    )
    counts = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_mktsegment"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        segs.crossJoin(pris)
        .join(F.broadcast(counts), on=["segment", "priority"], how="left")
        .select(
            "segment",
            "priority",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


# ------------------------------------------------ window: rank family

_RANK_FAMILY_SQL = """
SELECT o_custkey AS customer_id,
       o_orderkey AS order_id,
       CAST(RANK() OVER w AS INTEGER) AS price_rank,
       CAST(DENSE_RANK() OVER w AS INTEGER) AS price_dense_rank,
       ROUND(PERCENT_RANK() OVER w, 6) AS price_percent_rank,
       ROUND(CUME_DIST() OVER w, 6) AS price_cume_dist
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
"""


@register(
    "order_rank_stats",
    _RANK_FAMILY_SQL,
    doc="The remaining ranking functions in one keyed window: rank, "
    "dense_rank, percent_rank, cume_dist (SURVEY §2.5 absent-list). "
    "percent_rank/cume_dist are exact integer ratios, so both engines "
    "produce identical doubles. Keyed window — parallel across "
    "customers, one shuffle.",
)
def q_order_rank_stats(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_id"),
        F.rank().over(w).cast("int").alias("price_rank"),
        F.dense_rank().over(w).cast("int").alias("price_dense_rank"),
        F.round(F.percent_rank().over(w), 6).alias("price_percent_rank"),
        F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
    )


# ----------------------------- entity resolution: blocked fuzzy join

_NAME_MATCH_SQL = """
WITH blocked AS (
    SELECT c_custkey, c_name, substring(c_name, 1, 16) AS blk
    FROM customer
)
SELECT a.c_custkey AS customer_a,
       b.c_custkey AS customer_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_distance
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


@register(
    "customer_name_matches",
    _NAME_MATCH_SQL,
    doc="Entity-resolution blocking join: near-identical customer names "
    "(levenshtein <= 1) found via a 16-char blocking key, so the "
    "quadratic comparison runs inside bounded blocks (<= 100 rows "
    "here) instead of all-pairs — the standard record-linkage shape, "
    "same candidate-pruning idea as the dedup LSH surface but for "
    "string keys. Block count scales with data, block size doesn't.",
)
def q_customer_name_matches(spark, sf_dir):
    blocked = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.substring("c_name", 1, 16).alias("blk")
    )
    a = blocked.select(
        F.col("c_custkey").alias("customer_a"),
        F.col("c_name").alias("__na"),
        "blk",
    )
    b = blocked.select(
        F.col("c_custkey").alias("customer_b"),
        F.col("c_name").alias("__nb"),
        "blk",
    )
    # Bounded levenshtein (threshold 1): O(len·k) with early exit
    # instead of the full O(len²) DP per pair; returns -1 above the
    # threshold, so "dist <= 1" becomes "dist >= 0" with identical
    # kept rows and identical emitted distances (r12: the ER-family
    # event log showed the blocked pair join's levenshtein stage
    # dominating at 4.7 s).
    dist = F.levenshtein("__na", "__nb", 1)
    return (
        a.join(b, on="blk")
        .filter((F.col("customer_a") < F.col("customer_b")) & (dist >= 0))
        .select(
            "customer_a", "customer_b", dist.cast("int").alias("edit_distance")
        )
    )


# ------------------------------------ time series: hourly gap fill

_GAPFILL_SQL = """
WITH bounds AS (
    SELECT date_trunc('hour', MIN(ts)) AS tmin, date_trunc('hour', MAX(ts)) AS tmax
    FROM events
),
spine AS (
    SELECT unnest(generate_series(tmin, tmax, INTERVAL 1 HOUR)) AS hour
    FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT t.event_type, s.hour FROM types t CROSS JOIN spine s),
counts AS (
    SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT g.event_type, g.hour, COALESCE(c.n, 0) AS n_events
FROM grid g LEFT JOIN counts c
  ON g.event_type = c.event_type AND g.hour = c.hour
"""


@register(
    "hourly_events_gapfilled",
    _GAPFILL_SQL,
    doc="Time-series resample + gap fill: a dense (event_type, hour) "
    "spine generated natively (sequence over the broadcast global "
    "bounds — no driver collect) left-joined with hourly counts, "
    "empty hours zero-filled. The spine is tiny regardless of data "
    "volume (types x hours), so the only data-sized work is the "
    "hourly aggregate.",
)
def q_hourly_events_gapfilled(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("tmin"),
        F.date_trunc("hour", F.max("ts")).alias("tmax"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("tmin", "tmax", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    return grid.join(
        F.broadcast(counts), on=["event_type", "hour"], how="left"
    ).select(
        "event_type", "hour", F.coalesce("n", F.lit(0)).alias("n_events")
    )


# --------------------------------------------------- funnel analysis

_FUNNEL_SQL = """
WITH firsts AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_viewed,
       CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clicked_after_view,
       CAST(SUM(CASE WHEN t_click > t_view AND t_purchase > t_click
                THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after_click
FROM firsts
"""


@register(
    "conversion_funnel",
    _FUNNEL_SQL,
    doc="Ordered-stage funnel (view -> click -> purchase) via "
    "conditional-MIN first-occurrence times per user, then ordered "
    "comparisons — one grouped pass over events plus a scalar "
    "aggregate; no joins, no windows. NULL stage times drop out of "
    "the > comparisons naturally on both engines.",
)
def q_conversion_funnel(spark, sf_dir):
    ev = load_events(spark, sf_dir)

    def first(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_click") > F.col("t_view")
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_viewed"),
        F.sum(F.when(clicked, 1).otherwise(0))
        .cast("long")
        .alias("n_clicked_after_view"),
        F.sum(F.when(purchased, 1).otherwise(0))
        .cast("long")
        .alias("n_purchased_after_click"),
    )


# ------------------------------------- ordered list aggregation

_ORDER_HISTORY_SQL = """
SELECT o_custkey AS customer_id,
       COUNT(*) AS n_orders,
       string_agg(strftime(o_orderdate, '%Y-%m-%d'), ','
                  ORDER BY strftime(o_orderdate, '%Y-%m-%d')) AS order_dates
FROM orders
GROUP BY o_custkey
"""


@register(
    "customer_order_history",
    _ORDER_HISTORY_SQL,
    doc="Ordered list aggregation: each customer's full order-date "
    "sequence as one deterministic comma-joined value "
    "(sort_array(collect_list(...)) = string_agg ORDER BY). The "
    "sequence-feature shape a training pipeline uses for "
    "event-history columns; one grouped pass, order imposed "
    "explicitly because collect_list is otherwise "
    "partition-order-dependent.",
)
def q_customer_order_history(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    d = F.date_format("o_orderdate", "yyyy-MM-dd")
    return orders.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        F.count("*").alias("n_orders"),
        F.array_join(F.sort_array(F.collect_list(d)), ",").alias("order_dates"),
    )


# ------------------------------------- percent-of-total (ratio to report)

_NATION_SHARE_SQL = """
WITH rev AS (
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
)
SELECT nation, revenue,
       ROUND(revenue / SUM(revenue) OVER (), 6) AS revenue_share
FROM rev
"""


@register(
    "nation_revenue_share",
    _NATION_SHARE_SQL,
    doc="Percent-of-total (ratio-to-report): each nation's share of "
    "global revenue via an unpartitioned window over the AGGREGATED "
    "frame. The global window is safe at any scale because it runs "
    "over |nations| rows, not the fact table — aggregate first, "
    "window the small result.",
)
def q_nation_revenue_share(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(_dsum(F.col("o_totalprice")).alias("revenue"))
    )
    total = Window.partitionBy()
    return rev.select(
        "nation",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(total), 6).alias(
            "revenue_share"
        ),
    )


# ------------------------------------------------- set: UNION (distinct)

_ACTIVE_IDS_SQL = """
SELECT o_custkey AS entity_id FROM orders
UNION
SELECT user_id FROM events WHERE event_type = 'purchase'
"""


@register(
    "active_entity_ids",
    _ACTIVE_IDS_SQL,
    doc="UNION distinct (completes the §2.8 set-op family beside "
    "INTERSECT/EXCEPT/UNION ALL): the deduplicated union of ordering "
    "customers and purchasing event users. df.union is bag semantics; "
    "the trailing distinct is what makes it SQL UNION — one hash "
    "aggregate, map-side combinable.",
)
def q_active_entity_ids(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id")
    )
    from ecom_churn_lakehouse_spark.sources.tables import load_events

    purchasers = (
        load_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("entity_id"))
    )
    return orders.union(purchasers).distinct()


# ------------------------------------------------- set: EXCEPT ALL

_DEMAND_OVERHANG_SQL = """
SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_excess
FROM (
    SELECT l_partkey AS part_id FROM lineitem
    WHERE year(CAST(l_shipdate AS DATE)) = 1996
    EXCEPT ALL
    SELECT l_partkey AS part_id FROM lineitem
    WHERE year(CAST(l_shipdate AS DATE)) = 1997
)
GROUP BY part_id
"""


@register(
    "part_demand_overhang",
    _DEMAND_OVERHANG_SQL,
    doc="EXCEPT ALL (multiset difference — each 1997 shipment cancels "
    "ONE 1996 occurrence, unlike distinct EXCEPT): per part, how many "
    "more line items shipped in 1996 than 1997. df.exceptAll keeps "
    "multiplicities; the oracle-parity trap is that SQL EXCEPT is "
    "distinct-set semantics, so the two must never be swapped.",
)
def q_part_demand_overhang(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    y96 = li.filter(F.year(F.to_date("l_shipdate")) == 1996).select(
        F.col("l_partkey").alias("part_id")
    )
    y97 = li.filter(F.year(F.to_date("l_shipdate")) == 1997).select(
        F.col("l_partkey").alias("part_id")
    )
    return (
        y96.exceptAll(y97)
        .groupBy("part_id")
        .agg(F.count("*").cast("long").alias("n_excess"))
    )


# ------------------------------------- referential-integrity audit

_RI_AUDIT_SQL = """
SELECT 'orphan_lineitems' AS check_name,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
           AS n_violations
UNION ALL
SELECT 'childless_orders',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                               WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT)
UNION ALL
SELECT 'customerless_orders',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
"""


@register(
    "referential_integrity_audit",
    _RI_AUDIT_SQL,
    doc="Cross-table referential-integrity audit (the relational cousin "
    "of the DQ row checks): orphaned lineitems, childless orders, and "
    "orders pointing at missing customers — three anti-join counts "
    "conformed into one report frame. Each anti join shuffles only "
    "keys (projected before the join); at 100 TB the dimension side "
    "broadcasts and the fact side never re-partitions.",
)
def q_referential_integrity_audit(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    def _count(df, name):
        return df.agg(F.count("*").cast("long").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    orphan = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "left_anti"
    )
    childless = orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_anti"
    )
    customerless = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti"
    )
    return (
        _count(orphan, "orphan_lineitems")
        .unionAll(_count(childless, "childless_orders"))
        .unionAll(_count(customerless, "customerless_orders"))
    )


# ------------------- deciles, the scale path: threshold assignment

_DECILE_SCALABLE_SQL = """
WITH spend AS (
    SELECT o_custkey AS customer_id,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_spend
    FROM orders GROUP BY 1
),
cuts AS (
    SELECT quantile_cont(total_spend,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
    FROM spend
)
SELECT s.customer_id, s.total_spend,
       CAST(1
            + CASE WHEN s.total_spend > c.qs[1] THEN 1 ELSE 0 END
            + CASE WHEN s.total_spend > c.qs[2] THEN 1 ELSE 0 END
            + CASE WHEN s.total_spend > c.qs[3] THEN 1 ELSE 0 END
            + CASE WHEN s.total_spend > c.qs[4] THEN 1 ELSE 0 END
            + CASE WHEN s.total_spend > c.qs[5] THEN 1 ELSE 0 END
            + CASE WHEN s.total_spend > c.qs[6] THEN 1 ELSE 0 END
            + CASE WHEN s.total_spend > c.qs[7] THEN 1 ELSE 0 END
            + CASE WHEN s.total_spend > c.qs[8] THEN 1 ELSE 0 END
            + CASE WHEN s.total_spend > c.qs[9] THEN 1 ELSE 0 END
        AS INTEGER) AS spend_decile
FROM spend s, cuts c
"""


@register(
    "customer_value_deciles_scalable",
    _DECILE_SCALABLE_SQL,
    doc="Decile assignment WITHOUT the global sort: nine exact "
    "interpolated percentile cutoffs from one aggregation (broadcast "
    "1-row frame), then each row counts how many cutoffs it exceeds "
    "— a map-side comparison, no single-task NTILE window, no "
    "shuffle after the spend aggregate. The scale twin of "
    "customer_value_deciles (NTILE assigns exact equal-count "
    "buckets; thresholds put equal VALUES in the same bucket — the "
    "usual analytics semantics — and parallelize at any population). "
    "decile 1 = bottom spenders here (ascending cutoffs); exact "
    "percentiles keep the oracle hash-identical, at scale swap in "
    "approx_percentile with the same plan shape.",
)
def q_customer_value_deciles_scalable(spark, sf_dir):
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("customer_id"))
        .agg(_dsum(F.col("o_totalprice")).alias("total_spend"))
    )
    qs = [i / 10.0 for i in range(1, 10)]
    cuts = spend.agg(
        *[
            F.percentile("total_spend", F.lit(q)).alias(f"q{i}")
            for i, q in enumerate(qs, start=1)
        ]
    )
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + (F.col("total_spend") > F.col(f"q{i}")).cast("int")
    return spend.crossJoin(F.broadcast(cuts)).select(
        "customer_id",
        "total_spend",
        decile.cast("int").alias("spend_decile"),
    )


# ------------------------- time series: linear interpolation of gaps

_INTERP_SQL = """
WITH bounds AS (
    SELECT date_trunc('hour', MIN(ts)) AS tmin, date_trunc('hour', MAX(ts)) AS tmax
    FROM events
),
spine AS (
    SELECT unnest(generate_series(tmin, tmax, INTERVAL 1 HOUR)) AS hour
    FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT t.event_type, s.hour FROM types t CROSS JOIN spine s),
vals AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT))
                // COUNT(*) AS BIGINT) AS v
    FROM events GROUP BY 1, 2
),
g AS (
    SELECT gr.event_type, gr.hour, va.v
    FROM grid gr LEFT JOIN vals va
      ON gr.event_type = va.event_type AND gr.hour = va.hour
),
w AS (
    SELECT event_type, hour, v,
           LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS pv,
           LAST_VALUE(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
               OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS ph,
           FIRST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ) AS nv,
           FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
               OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ) AS nh
    FROM g
)
SELECT event_type, hour,
       CAST(v IS NOT NULL AS BOOLEAN) AS is_observed,
       CAST(CASE
           WHEN v IS NOT NULL THEN v
           WHEN pv IS NULL THEN nv
           WHEN nv IS NULL THEN pv
           ELSE (pv * (CAST(epoch(nh) AS BIGINT) - CAST(epoch(hour) AS BIGINT))
                 + nv * (CAST(epoch(hour) AS BIGINT) - CAST(epoch(ph) AS BIGINT)))
                // (CAST(epoch(nh) AS BIGINT) - CAST(epoch(ph) AS BIGINT))
       END AS BIGINT) AS value_interp_micros
FROM w
ORDER BY event_type, hour
"""


@register(
    "hourly_value_interpolated",
    _INTERP_SQL,
    doc="Linear interpolation of missing hourly values per series — "
    "the resample step a feature pipeline runs before lag/rolling "
    "features on irregular telemetry (forward-fill twin: "
    "last_purchase_ffill; zero-fill twin: hourly_events_gapfilled). "
    "On the dense spine, each gap hour takes the convex combination "
    "of the nearest observed hours via two-sided IGNORE NULLS frame "
    "windows; series edges fall back to nearest-value. ALL "
    "arithmetic is exact integer micros (per-event micros are exact "
    "for 2dp values; hourly mean and interpolation are floor "
    "divisions of non-negative integers) — the round-5 rounding "
    "audit found 43 sf0.1 interpolated doubles sitting exactly on "
    "6dp half boundaries, where ROUND is engine-version-dependent. "
    "One window sort per direction, partitioned by series key — at "
    "100 TB each series' frame is independent, and the spine join "
    "stays broadcast (types x hours is metadata-sized next to the "
    "event volume).",
)
def q_hourly_value_interpolated(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("tmin"),
        F.date_trunc("hour", F.max("ts")).alias("tmax"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("tmin", "tmax", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    # Exact integer micros end-to-end (round-5 rounding audit: the
    # sf0.1 fixture put 43 interpolated doubles exactly on 6dp half
    # boundaries, where ROUND is engine-version-dependent): per-event
    # micros are exact (values are 2dp), the hourly mean is a floor
    # division of non-negative integers, and the interpolation is the
    # convex integer combination (pv*(nh-h) + nv*(h-ph)) DIV (nh-ph).
    vals = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.expr(
            "SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) DIV COUNT(*)"
        )
        .cast("long")
        .alias("v")
    )
    g = grid.join(F.broadcast(vals), on=["event_type", "hour"], how="left")
    back = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("v").isNotNull(), F.col("hour"))
    w = g.select(
        "event_type",
        "hour",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(back).alias("ph"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_hour, ignorenulls=True).over(fwd).alias("nh"),
    )
    gap = F.col("v").isNull() & F.col("pv").isNotNull() & F.col(
        "nv"
    ).isNotNull()
    # convex combination of non-negative integer micros: floor
    # division agrees across engines (it never would on negatives)
    interp = F.when(
        gap,
        F.expr(
            "(pv * (unix_timestamp(nh) - unix_timestamp(hour))"
            " + nv * (unix_timestamp(hour) - unix_timestamp(ph)))"
            " DIV (unix_timestamp(nh) - unix_timestamp(ph))"
        ),
    ).otherwise(
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .otherwise(F.col("pv"))
    )
    return w.select(
        "event_type",
        "hour",
        F.col("v").isNotNull().alias("is_observed"),
        interp.cast("long").alias("value_interp_micros"),
    ).orderBy("event_type", "hour")


# ------------------- CUPED covariate adjustment (experiment readout)

_CUPED_PRE = ("1996-01-01", "1997-01-01")
_CUPED_POST = ("1997-01-01", "1998-01-01")

_CUPED_SQL = f"""
WITH percust AS (
    SELECT c.c_custkey, c.c_mktsegment AS segment,
           CAST(COALESCE(SUM(CASE
               WHEN CAST(o.o_orderdate AS DATE) >= DATE '{_CUPED_PRE[0]}'
                AND CAST(o.o_orderdate AS DATE) < DATE '{_CUPED_PRE[1]}'
               THEN CAST(o.o_totalprice AS DECIMAL(18,4)) END), 0)
               AS DOUBLE) AS x,
           CAST(COALESCE(SUM(CASE
               WHEN CAST(o.o_orderdate AS DATE) >= DATE '{_CUPED_POST[0]}'
                AND CAST(o.o_orderdate AS DATE) < DATE '{_CUPED_POST[1]}'
               THEN CAST(o.o_totalprice AS DECIMAL(18,4)) END), 0)
               AS DOUBLE) AS y
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
),
gstats AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x AS DECIMAL(28,4)) * CAST(y AS DECIMAL(28,4)))
               AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x AS DECIMAL(28,4)) * CAST(x AS DECIMAL(28,4)))
               AS DOUBLE) AS sxx
    FROM percust
),
theta AS (
    SELECT n, sx / n AS mean_x,
           (sxy - sx * sy / n) / (sxx - sx * sx / n) AS th
    FROM gstats
)
SELECT p.segment,
       COUNT(*) AS n_customers,
       ROUND(CAST(SUM(CAST(p.y AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6)
           AS mean_post,
       ROUND(CAST(SUM(CAST(p.y AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
             - t.th * (CAST(SUM(CAST(p.x AS DECIMAL(18,4))) AS DOUBLE)
                       / COUNT(*) - t.mean_x), 6) AS mean_post_adjusted,
       ROUND(t.th, 6) AS theta
FROM percust p CROSS JOIN theta t
GROUP BY p.segment, t.th, t.mean_x
ORDER BY p.segment
"""


@register(
    "cuped_adjusted_spend",
    _CUPED_SQL,
    doc="CUPED covariate adjustment for experiment readouts: per-"
    "segment post-period spend corrected by theta x (pre-period "
    "deviation), theta = cov(x,y)/var(x) from one pass of exact "
    "decimal moments (sx, sy, sxy, sxx — order-free; the few double "
    "ops after are single-expression deterministic). The adjusted "
    "mean needs only SEGMENT-level sums (linearity of the "
    "correction), so no per-row adjusted column ever materializes — "
    "at 100 TB this is two map-side-combinable aggregates and a "
    "1-row broadcast. On this fixture pre/post spends are "
    "independent by construction, so theta (and the correction) is "
    "honestly near zero — the report SHOWS the covariate is useless "
    "here, which is exactly what a CUPED readout is for.",
)
def q_cuped_adjusted_spend(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    def _window_sum(lo, hi):
        cond = (
            F.to_date("o_orderdate") >= F.lit(lo).cast("date")
        ) & (F.to_date("o_orderdate") < F.lit(hi).cast("date"))
        return F.coalesce(
            F.sum(F.when(cond, F.col("o_totalprice").cast("decimal(18,4)"))),
            F.lit(0).cast("decimal(18,4)"),
        ).cast("double")

    percust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "segment")
        .agg(
            _window_sum(*_CUPED_PRE).alias("x"),
            _window_sum(*_CUPED_POST).alias("y"),
        )
    )
    xd = F.col("x").cast("decimal(18,4)")
    yd = F.col("y").cast("decimal(18,4)")
    xw = F.col("x").cast("decimal(28,4)")
    yw = F.col("y").cast("decimal(28,4)")
    glob = percust.agg(
        F.count("*").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xw * yw).cast("double").alias("sxy"),
        F.sum(xw * xw).cast("double").alias("sxx"),
    ).select(
        "n",
        (F.col("sx") / F.col("n")).alias("mean_x"),
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("th"),
    )
    seg = percust.groupBy("segment").agg(
        F.count("*").alias("n_customers"),
        F.sum(yd).cast("double").alias("__sy"),
        F.sum(xd).cast("double").alias("__sx"),
    )
    return (
        seg.join(F.broadcast(glob))
        .select(
            "segment",
            "n_customers",
            F.round(F.col("__sy") / F.col("n_customers"), 6).alias(
                "mean_post"
            ),
            F.round(
                F.col("__sy") / F.col("n_customers")
                - F.col("th")
                * (F.col("__sx") / F.col("n_customers") - F.col("mean_x")),
                6,
            ).alias("mean_post_adjusted"),
            F.round("th", 6).alias("theta"),
        )
        .orderBy("segment")
    )


# --------------- per-group OLS: discount -> quantity regression

_ELASTICITY_SQL = """
WITH labeled AS (
    SELECT p.p_brand AS brand,
           CAST(l.l_discount AS DOUBLE) AS x,
           CAST(l.l_quantity AS DOUBLE) AS y
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
moments AS (
    SELECT brand,
           COUNT(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6)))
               AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6)))
               AS DOUBLE) AS sxx
    FROM labeled GROUP BY brand
)
SELECT brand,
       CAST(n AS BIGINT) AS n_lines,
       ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
       ROUND(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
             * (sx / n), 6) AS intercept
FROM moments
ORDER BY brand
"""


@register(
    "discount_quantity_regression",
    _ELASTICITY_SQL,
    doc="Per-group OLS in one aggregation pass: the discount->quantity "
    "slope and intercept per brand from exact decimal moments (n, "
    "Sx, Sy, Sxy, Sxx) — the elasticity screen a pricing team runs "
    "per segment, and the per-GROUP regression twin of "
    "cuped_adjusted_spend's global theta. All sums are "
    "order-independent decimals; the slope arithmetic is a fixed "
    "single-expression chain, so both engines agree bit-for-bit at "
    "6dp. One map-side-combinable shuffle keyed by brand; the part "
    "dimension broadcasts into the fact scan.",
)
def q_discount_quantity_regression(spark, sf_dir):
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_discount", "l_quantity"
    )
    labeled = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select(
        F.col("p_brand").alias("brand"),
        F.col("l_discount").cast("double").alias("x"),
        F.col("l_quantity").cast("double").alias("y"),
    )
    xd = F.col("x").cast("decimal(18,6)")
    yd = F.col("y").cast("decimal(18,6)")
    m = labeled.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    return m.select(
        "brand",
        F.col("n").cast("long").alias("n_lines"),
        F.round(slope, 6).alias("slope"),
        F.round(
            F.col("sy") / F.col("n") - slope * (F.col("sx") / F.col("n")), 6
        ).alias("intercept"),
    ).orderBy("brand")


# ---------------------- day-of-week seasonality profile

_DOW_SQL = """
WITH dows AS (
    SELECT CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS INTEGER) AS weekday,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders
),
tot AS (SELECT COUNT(*) AS n FROM dows)
SELECT weekday,
       COUNT(*) AS n_orders,
       ROUND(CAST(COUNT(*) AS DOUBLE) / ((SELECT n FROM tot) / 7.0), 6)
           AS seasonal_index,
       CAST(SUM(price) AS DOUBLE) AS total_value
FROM dows
GROUP BY weekday
ORDER BY weekday
"""


@register(
    "dow_seasonality_profile",
    _DOW_SQL,
    doc="Day-of-week seasonality profile: order counts, revenue, and "
    "the seasonal index (observed / uniform expectation) per ISO "
    "weekday — the demand-shape input to staffing and forecast "
    "models (a flat index near 1.0 on this uniform fixture is the "
    "correct readout). Weekday numbering is pinned to ISO Monday=0 "
    "on BOTH engines (Spark weekday() ≡ DuckDB isodow()-1 — the "
    "Sunday-first dayofweek() builtins disagree across engines and "
    "are avoided). One scan, one 7-row aggregate, 1-row broadcast "
    "total.",
)
def q_dow_seasonality_profile(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    dows = orders.select(
        F.weekday(F.to_date("o_orderdate")).cast("int").alias("weekday"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    tot = dows.agg(F.count("*").alias("n"))
    return (
        dows.groupBy("weekday")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price").cast("double").alias("total_value"),
        )
        .join(F.broadcast(tot))
        .select(
            "weekday",
            "n_orders",
            F.round(
                F.col("n_orders").cast("double") / (F.col("n") / 7.0), 6
            ).alias("seasonal_index"),
            "total_value",
        )
        .orderBy("weekday")
    )


# ------------------- new vs returning revenue split per month

_NEW_RET_SQL = """
WITH flagged AS (
    SELECT o_custkey, o_totalprice,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS rn
    FROM orders
)
SELECT month,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new_customers,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returning_orders,
       CAST(SUM(CASE WHEN rn = 1
                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
           AS new_revenue,
       CAST(SUM(CASE WHEN rn > 1
                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
           AS returning_revenue
FROM flagged
GROUP BY month
ORDER BY month
"""


@register(
    "new_vs_returning_revenue",
    _NEW_RET_SQL,
    doc="Monthly revenue split between each customer's FIRST order and "
    "all subsequent ones — the acquisition-vs-retention decomposition "
    "every growth dashboard leads with (cohort_retention gives the "
    "matrix; this is the revenue-weighted headline). First-order "
    "detection is a per-customer rank window (keyed, parallel), the "
    "split is conditional decimal sums — two shuffles total. NULL "
    "months never arise (every order has a date), and empty "
    "categories surface as NULL sums, matching the oracle exactly.",
)
def q_new_vs_returning_revenue(spark, sf_dir):
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = orders.select(
        F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.row_number().over(w).alias("rn"),
    )
    first = F.col("rn") == 1
    return (
        flagged.groupBy("month")
        .agg(
            F.sum(F.when(first, 1).otherwise(0)).cast("long").alias(
                "n_new_customers"
            ),
            F.sum(F.when(~first, 1).otherwise(0)).cast("long").alias(
                "n_returning_orders"
            ),
            F.sum(F.when(first, F.col("price"))).cast("double").alias(
                "new_revenue"
            ),
            F.sum(F.when(~first, F.col("price"))).cast("double").alias(
                "returning_revenue"
            ),
        )
        .orderBy("month")
    )


# ------------------- null-safe equality join (<=> semantics)

_NULLSAFE_SQL = """
WITH l AS (
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'P' THEN NULL
                ELSE o_orderstatus END AS status_key
    FROM orders WHERE o_orderkey % 5 = 0
),
r AS (
    SELECT CASE WHEN s = 'P' THEN NULL ELSE s END AS status_key,
           CASE s WHEN 'O' THEN 'open' WHEN 'F' THEN 'done'
                  ELSE 'pending-null' END AS status_label
    FROM (SELECT DISTINCT o_orderstatus AS s FROM orders)
)
SELECT l.o_orderkey AS order_id, r.status_label AS status_label
FROM l JOIN r ON l.status_key IS NOT DISTINCT FROM r.status_key
ORDER BY order_id
"""


@register(
    "null_safe_join_battery",
    _NULLSAFE_SQL,
    doc="Null-safe equality join: NULL keys MATCH each other "
    "(Spark `eqNullSafe` / <=> ≡ SQL IS NOT DISTINCT FROM) — the "
    "join variant a plain equi-join silently drops rows on, and the "
    "last §2.6 join flavor not yet in the inventory. Dirty keys are "
    "manufactured by NULLing one status; the pending rows must "
    "survive the join with the NULL-keyed label. Plan note: Spark "
    "plans <=> as a hash join key (null-safe keys hash like values), "
    "so the broadcast dimension path is identical to a plain "
    "equi-join — no nested-loop penalty.",
)
def q_null_safe_join_battery(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    left = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("status_key"),
    )
    right = (
        orders.select(F.col("o_orderstatus").alias("s"))
        .distinct()
        .select(
            F.when(F.col("s") == "P", None).otherwise(F.col("s")).alias(
                "status_key"
            ),
            F.when(F.col("s") == "O", "open")
            .when(F.col("s") == "F", "done")
            .otherwise("pending-null")
            .alias("status_label"),
        )
    )
    return (
        left.join(
            F.broadcast(right),
            left.status_key.eqNullSafe(right.status_key),
        )
        .select(
            F.col("o_orderkey").alias("order_id"),
            "status_label",
        )
        .orderBy("order_id")
    )


# --------------------------------------------- piecewise trend breakpoint

#: Segment SSE from raw sums (one shared IEEE text; every input an
#: exact integer or exact DECIMAL cast to double — products may exceed
#: 2^53 but each float op is correctly rounded, so both engines agree
#: bitwise). SSE = Syy - Sy^2/n - (Sxy - SxSy/n)^2 / (Sxx - Sx^2/n).
_SEG_SSE = (
    "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"
    " - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "   * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
)
_SEG_SLOPE_MICRO = (
    "CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000.0) AS BIGINT)"
)

_BREAKPOINT_SQL = f"""
WITH daily AS (
    SELECT CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS x,
           CAST(o_orderdate AS DATE) AS d,
           -- kilo-dollar grain: keeps SUM(y*y) exact in int64 (a
           -- DECIMAL(38)->DOUBLE cast rounds DIFFERENTLY across
           -- engines above 2^53, caught by the oracle at sf0.01; and
           -- the dollar-grain Syy overflowed int64 at the 10x probe)
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                // 100000 AS BIGINT) AS y
    FROM orders GROUP BY o_orderdate
),
cands AS (
    SELECT DISTINCT CAST(date_trunc('month', d) AS DATE) AS cand
    FROM daily
    WHERE CAST(date_trunc('month', d) AS DATE) > (SELECT MIN(d) FROM daily)
),
left_s AS (
    SELECT c.cand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dd.x) AS BIGINT) AS sx,
           CAST(SUM(dd.y) AS BIGINT) AS sy,
           CAST(SUM(dd.x * dd.x) AS BIGINT) AS sxx,
           CAST(SUM(dd.x * dd.y) AS BIGINT) AS sxy,
           CAST(SUM(dd.y * dd.y) AS BIGINT) AS syy
    FROM cands c JOIN daily dd ON dd.d < c.cand
    GROUP BY c.cand
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM daily
),
sides AS (
    SELECT cand, 'L' AS side, n, sx, sy, sxx, sxy, syy FROM left_s
    UNION ALL
    SELECT l.cand, 'R' AS side,
           t.n - l.n, t.sx - l.sx, t.sy - l.sy, t.sxx - l.sxx,
           t.sxy - l.sxy, t.syy - l.syy
    FROM left_s l CROSS JOIN tot t
),
scored AS (
    SELECT cand, side, n,
           {_SEG_SSE} AS sse,
           {_SEG_SLOPE_MICRO} AS slope_micro
    FROM sides WHERE n >= 2
),
agg AS (
    SELECT cand AS candidate_day,
           CAST(MAX(CASE WHEN side = 'L' THEN n END) AS BIGINT) AS n_left,
           CAST(MAX(CASE WHEN side = 'R' THEN n END) AS BIGINT) AS n_right,
           CAST(FLOOR(SUM(sse)) AS BIGINT) AS sse_total_kd2,
           CAST(MAX(CASE WHEN side = 'L' THEN slope_micro END) AS BIGINT)
               AS slope_left_micro,
           CAST(MAX(CASE WHEN side = 'R' THEN slope_micro END) AS BIGINT)
               AS slope_right_micro
    FROM scored GROUP BY cand
    HAVING COUNT(*) = 2
)
SELECT candidate_day, n_left, n_right, sse_total_kd2,
       slope_left_micro, slope_right_micro,
       sse_total_kd2 = MIN(sse_total_kd2) OVER () AS is_best
FROM agg ORDER BY candidate_day
"""


@register(
    "piecewise_trend_breakpoint",
    _BREAKPOINT_SQL,
    doc="Piecewise-linear breakpoint search on daily revenue: fit "
    "separate OLS lines left and right of every month-start "
    "candidate and score total SSE — the segmented-regression "
    "complement to revenue_cusum_changepoint (which detects LEVEL "
    "shifts; this finds SLOPE breaks). Daily revenue is re-grained "
    "to whole KILO-dollars so every raw sum (incl. Syy) stays an "
    "exact int64 — the first spelling kept cents and carried Syy "
    "in DECIMAL(38), whose cast to double rounds DIFFERENTLY "
    "across engines above 2^53 (9 of 78 rows flipped by one ulp "
    "at sf0.01), and the dollar-grain retry overflowed int64 Syy "
    "at the 10x probe; int64->double is a single correctly-rounded "
    "hardware conversion on both. Slopes are micro-kilodollars "
    "(= milli-dollars) per day; SSE in whole kilodollar^2. Each side's SSE and slope are ONE shared "
    "IEEE expression per row, the two-term SSE sum is a fixed-order "
    "float add, output quantized to whole dollars^2. Scale: the fact "
    "reduces to the day grain first (map-combinable), candidates "
    "are CALENDAR-bounded (~1 per month), so the candidate x day "
    "join is bounded by days*months regardless of fact size — the "
    "same discipline as theil_sen's calendar-bounded pair frame.",
)
def q_piecewise_trend_breakpoint(spark, sf_dir):
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)) DIV 100000 AS BIGINT)"
            ).alias("y")
        )
        .select(
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
            .cast("long")
            .alias("x"),
            F.to_date("o_orderdate").alias("d"),
            "y",
        )
        .localCheckpoint(eager=False)
    )
    min_d = daily.agg(F.min("d").alias("min_d"))
    cands = (
        daily.select(F.trunc("d", "month").alias("cand"))
        .distinct()
        .crossJoin(F.broadcast(min_d))
        .filter(F.col("cand") > F.col("min_d"))
        .select("cand")
    )
    sums = [
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    ]
    left_s = (
        F.broadcast(cands)
        .join(daily, daily.d < F.col("cand"))
        .groupBy("cand")
        .agg(*sums)
    )
    tot = daily.agg(*sums).select(
        F.col("n").alias("tn"),
        F.col("sx").alias("tsx"),
        F.col("sy").alias("tsy"),
        F.col("sxx").alias("tsxx"),
        F.col("sxy").alias("tsxy"),
        F.col("syy").alias("tsyy"),
    )
    right_s = left_s.crossJoin(F.broadcast(tot)).select(
        "cand",
        F.lit("R").alias("side"),
        (F.col("tn") - F.col("n")).alias("n"),
        (F.col("tsx") - F.col("sx")).alias("sx"),
        (F.col("tsy") - F.col("sy")).alias("sy"),
        (F.col("tsxx") - F.col("sxx")).alias("sxx"),
        (F.col("tsxy") - F.col("sxy")).alias("sxy"),
        (F.col("tsyy") - F.col("syy")).alias("syy"),
    )
    sides = left_s.select(
        "cand", F.lit("L").alias("side"), "n", "sx", "sy", "sxx", "sxy", "syy"
    ).unionByName(right_s)
    scored = sides.filter(F.col("n") >= 2).select(
        "cand",
        "side",
        "n",
        F.expr(_SEG_SSE).alias("sse"),
        F.expr(_SEG_SLOPE_MICRO).alias("slope_micro"),
    )
    agg = (
        scored.groupBy(F.col("cand").alias("candidate_day"))
        .agg(
            F.max(F.when(F.col("side") == "L", F.col("n")))
            .cast("long")
            .alias("n_left"),
            F.max(F.when(F.col("side") == "R", F.col("n")))
            .cast("long")
            .alias("n_right"),
            F.expr("CAST(FLOOR(SUM(sse)) AS BIGINT)").alias(
                "sse_total_kd2"
            ),
            F.max(F.when(F.col("side") == "L", F.col("slope_micro")))
            .cast("long")
            .alias("slope_left_micro"),
            F.max(F.when(F.col("side") == "R", F.col("slope_micro")))
            .cast("long")
            .alias("slope_right_micro"),
            F.count("*").alias("_sides"),
        )
        .filter(F.col("_sides") == 2)
        .drop("_sides")
    )
    w_all = Window.partitionBy()
    return agg.select(
        "candidate_day",
        "n_left",
        "n_right",
        "sse_total_kd2",
        "slope_left_micro",
        "slope_right_micro",
        (
            F.col("sse_total_kd2")
            == F.min("sse_total_kd2").over(w_all)
        ).alias("is_best"),
    ).orderBy("candidate_day")


# --------------------------------------------- Granger-style lead screen

#: Layered shared-text float pipeline: every layer is plain +-*/ on
#: columns from the previous layer (each op correctly rounded =>
#: bit-identical cross-engine); distinct names per layer because
#: DuckDB resolves lateral aliases and Spark does not (round-4 gotcha).
_GRANGER_L1 = {
    "c_aa": "CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n AS DOUBLE)",
    "c_bb": "CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n AS DOUBLE)",
    "c_ab": "CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n AS DOUBLE)",
    "c_ay": "CAST(say AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)",
    "c_by": "CAST(sby AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)",
    "c_yy": "CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)",
}
_GRANGER_L2 = {
    "sse_r": "c_yy - c_ay * c_ay / c_aa",
    "b1": "(c_bb * c_ay - c_ab * c_by) / (c_aa * c_bb - c_ab * c_ab)",
    "b2": "(c_aa * c_by - c_ab * c_ay) / (c_aa * c_bb - c_ab * c_ab)",
}
_GRANGER_L3 = {"sse_u": "c_yy - b1 * c_ay - b2 * c_by"}
_GRANGER_OUT = {
    "f_milli": "CAST(FLOOR((sse_r - sse_u) / (sse_u / (CAST(n AS DOUBLE) - 3.0))"
    " * 1000.0) AS BIGINT)",
    "r2_restricted_micro": "CAST(FLOOR((1.0 - sse_r / c_yy) * 1000000.0) AS BIGINT)",
    "r2_full_micro": "CAST(FLOOR((1.0 - sse_u / c_yy) * 1000000.0) AS BIGINT)",
}

_GRANGER_SQL = f"""
WITH series AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS y,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS x
    FROM events GROUP BY CAST(ts AS DATE)
),
lagged AS (
    SELECT y,
           LAG(y) OVER (ORDER BY d) AS a,
           LAG(x) OVER (ORDER BY d) AS b
    FROM series
),
comp AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(a * a) AS BIGINT) AS saa,
           CAST(SUM(b * b) AS BIGINT) AS sbb,
           CAST(SUM(a * b) AS BIGINT) AS sab,
           CAST(SUM(a * y) AS BIGINT) AS say,
           CAST(SUM(b * y) AS BIGINT) AS sby,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM lagged WHERE a IS NOT NULL
),
l1 AS (SELECT n, say, sby, {", ".join(f"{v} AS {k}" for k, v in _GRANGER_L1.items())} FROM comp),
l2 AS (SELECT n, c_yy, c_ay, c_by, {", ".join(f"{v} AS {k}" for k, v in _GRANGER_L2.items())} FROM l1),
l3 AS (SELECT n, c_yy, sse_r, {_GRANGER_L3["sse_u"]} AS sse_u FROM l2)
SELECT n,
       {_GRANGER_OUT["f_milli"]} AS f_milli,
       {_GRANGER_OUT["r2_restricted_micro"]} AS r2_restricted_micro,
       {_GRANGER_OUT["r2_full_micro"]} AS r2_full_micro,
       {_GRANGER_OUT["f_milli"]} > 3841 AS reject_at_05
FROM l3
"""


@register(
    "granger_causality_screen",
    _GRANGER_SQL,
    doc="Granger-style lead screen: does yesterday's CLICK volume "
    "improve the prediction of today's PURCHASE volume beyond "
    "yesterday's purchases alone? Nested OLS (y ~ y_lag vs "
    "y ~ y_lag + x_lag) via the explicit 2x2 normal-equation solve; "
    "F = (SSE_r - SSE_u)/(SSE_u/(n-3)), the one-lag Granger test. "
    "Both series are exact integer daily counts from ONE fused "
    "conditional agg (orders and events occupy disjoint date ranges "
    "in this fixture, so the screen stays within the event log); "
    "the float pipeline is LAYERED shared expressions — each layer "
    "only +-*/ on the previous layer's columns, distinct names per "
    "layer because DuckDB resolves lateral aliases and Spark does "
    "not. Scale: one map-combinable day-grain agg, one lag window "
    "over the CALENDAR-bounded day frame — fact size only moves "
    "the agg, never the window.",
)
def q_granger_causality_screen(spark, sf_dir):
    series = (
        load_events(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("y"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
    )
    w = Window.orderBy("d")
    lagged = series.select(
        "y", F.lag("y").over(w).alias("a"), F.lag("x").over(w).alias("b")
    ).filter(F.col("a").isNotNull())
    comp = lagged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("sbb"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("sab"),
        F.sum(F.col("a") * F.col("y")).cast("long").alias("say"),
        F.sum(F.col("b") * F.col("y")).cast("long").alias("sby"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    l1 = comp.select(
        "n",
        "say",
        "sby",
        *[F.expr(v).alias(k) for k, v in _GRANGER_L1.items()],
    )
    l2 = l1.select(
        "n",
        "c_yy",
        "c_ay",
        "c_by",
        *[F.expr(v).alias(k) for k, v in _GRANGER_L2.items()],
    )
    l3 = l2.select(
        "n", "c_yy", "sse_r", F.expr(_GRANGER_L3["sse_u"]).alias("sse_u")
    )
    return l3.select(
        "n",
        F.expr(_GRANGER_OUT["f_milli"]).alias("f_milli"),
        F.expr(_GRANGER_OUT["r2_restricted_micro"]).alias("r2_restricted_micro"),
        F.expr(_GRANGER_OUT["r2_full_micro"]).alias("r2_full_micro"),
        (F.expr(_GRANGER_OUT["f_milli"]) > 3841).alias("reject_at_05"),
    )


# --------------------------------------------- seasonality strength

#: Variance explained by a calendar component: 1 - SS_resid/SS_total
#: where the component predictor is the per-bucket (month / weekday)
#: mean. SS identities from exact int64 sums at the kilo-dollar
#: grain: SS_explained = SUM_b floor(s_b^2/n_b) - floor(S^2/N), each
#: term integer-floored (deterministic), ratio in exact ppm.
_SEASONALITY_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) // 100000 AS BIGINT) AS y
    FROM orders GROUP BY o_orderdate
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS s,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM daily
),
comp AS (
    SELECT 'month_of_year' AS component,
           CAST(month(d) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_b,
           CAST(SUM(y) AS BIGINT) AS s_b
    FROM daily GROUP BY month(d)
    UNION ALL
    SELECT 'day_of_week',
           CAST(dayofweek(d) AS BIGINT),
           CAST(COUNT(*) AS BIGINT), CAST(SUM(y) AS BIGINT)
    FROM daily GROUP BY dayofweek(d)
),
explained AS (
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(s_b * s_b // n_b) AS BIGINT) AS bucket_ss
    FROM comp GROUP BY component
)
SELECT e.component, e.n_buckets, t.n AS n_days,
       CAST((e.bucket_ss - t.s * t.s // t.n) * 1000000
            // (t.syy - t.s * t.s // t.n) AS BIGINT) AS strength_ppm
FROM explained e CROSS JOIN tot t
ORDER BY e.component
"""


@register(
    "seasonality_strength_decomposition",
    _SEASONALITY_SQL,
    doc="Seasonality strength per calendar component: the share of "
    "daily-revenue variance explained by month-of-year and by "
    "day-of-week bucket means (the eta-squared of a one-way "
    "calendar ANOVA) — the scalar that says whether "
    "dow_seasonality_profile's pattern is signal or noise, and "
    "which calendar feature a forecasting model should receive "
    "first. Kilo-dollar day grain keeps every sum-of-squares exact "
    "int64; SS_explained uses the per-bucket s^2//n identity with "
    "INTEGER flooring per bucket (deterministic, bias < 1 unit per "
    "bucket); the final ratio is non-negative integer DIV in ppm. "
    "NOTE dayofweek: both engines are Sunday=1 on DATE inputs "
    "(pinned by the dow entry's round-5 fixture). Scale: one "
    "map-combinable day-grain agg, then 12-row and 7-row "
    "aggregates.",
)
def q_seasonality_strength_decomposition(spark, sf_dir):
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.expr(
                "CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)) AS BIGINT) DIV 100000 AS BIGINT)"
            ).alias("y")
        )
        .localCheckpoint(eager=False)
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    comp = None
    for name, bucket in (
        ("month_of_year", F.month("d")),
        ("day_of_week", F.dayofweek("d")),
    ):
        c = daily.groupBy(bucket.cast("long").alias("bucket")).agg(
            F.count("*").cast("long").alias("n_b"),
            F.sum("y").cast("long").alias("s_b"),
        ).select(F.lit(name).alias("component"), "bucket", "n_b", "s_b")
        comp = c if comp is None else comp.unionByName(c)
    explained = comp.groupBy("component").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(F.expr("s_b * s_b DIV n_b")).cast("long").alias("bucket_ss"),
    )
    return (
        explained.crossJoin(F.broadcast(tot))
        .select(
            "component",
            "n_buckets",
            F.col("n").alias("n_days"),
            F.expr(
                "CAST((bucket_ss - s * s DIV n) * 1000000"
                " DIV (syy - s * s DIV n) AS BIGINT)"
            ).alias("strength_ppm"),
        )
        .orderBy("component")
    )


# --------------------------------------------- retention decay fit

#: OLS of per-point integer-quantized ln(retention) on cohort age.
#: Each point's log is floored to micro BEFORE the sums (float
#: accumulation never matters); the slope is one shared IEEE
#: expression over five exact int64 sums.
_RDF_SLOPE_MICRO = (
    "CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxl AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sl AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)"
)

_RDF_SQL = """
WITH om AS (
    SELECT o_custkey,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
               AS ym
    FROM orders
),
coh AS (SELECT o_custkey, CAST(MIN(ym) AS BIGINT) AS cym FROM om
        GROUP BY o_custkey),
sz AS (SELECT cym, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM coh
       GROUP BY cym),
active AS (
    SELECT c.cym, CAST(o.ym - c.cym AS BIGINT) AS age,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active
    FROM om o JOIN coh c ON c.o_custkey = o.o_custkey
    WHERE o.ym - c.cym BETWEEN 1 AND 12
    GROUP BY c.cym, o.ym - c.cym
),
points AS (
    SELECT CAST(a.cym // 12 AS BIGINT) AS cohort_year,
           a.age,
           CAST(a.n_active * 1000000 // s.cohort_size AS BIGINT) AS ret_ppm,
           CAST(FLOOR(ln(CAST(a.n_active AS DOUBLE)
                         / CAST(s.cohort_size AS DOUBLE)) * 1000000.0)
                AS BIGINT) AS l_micro
    FROM active a JOIN sz s ON s.cym = a.cym
),
fit AS (
    SELECT cohort_year,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(age) AS BIGINT) AS sx,
           CAST(SUM(age * age) AS BIGINT) AS sxx,
           CAST(SUM(l_micro) AS BIGINT) AS sl,
           CAST(SUM(age * l_micro) AS BIGINT) AS sxl,
           CAST(SUM(ret_ppm) // COUNT(*) AS BIGINT) AS mean_ret_ppm
    FROM points GROUP BY cohort_year
)
SELECT cohort_year, n AS n_points, mean_ret_ppm,
       {slope} AS decay_micro_per_month,
       CAST(CASE WHEN {slope} < 0
                 THEN FLOOR(693147.0 / CAST(-({slope}) AS DOUBLE) * 30.0)
                 ELSE -1 END AS BIGINT) AS half_life_days
FROM fit WHERE n >= 3 ORDER BY cohort_year
""".format(slope=_RDF_SLOPE_MICRO)


@register(
    "retention_decay_fit",
    _RDF_SQL,
    doc="Exponential retention-decay fit per acquisition cohort year: "
    "OLS of log monthly retention on cohort age (months 1-12) gives "
    "the decay rate and the implied half-life in days — the scalar "
    "that turns cohort_retention's triangle into a comparable "
    "number per vintage. Retention ratios are exact ppm; each "
    "point's log is floor-quantized to micro BEFORE the integer "
    "sums; the slope is one shared IEEE expression over five int64 "
    "sums (half-life = ln2/rate, -1 sentinel for non-decaying "
    "fits). Scale: one per-customer MIN, one (cohort x age) "
    "distinct-count agg, then a <=12-point fit per cohort year.",
)
def q_retention_decay_fit(spark, sf_dir):
    om = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("ym"),
    )
    coh = om.groupBy("o_custkey").agg(F.min("ym").cast("long").alias("cym"))
    sz = coh.groupBy("cym").agg(F.count("*").cast("long").alias("cohort_size"))
    active = (
        om.join(coh, "o_custkey")
        .filter((F.col("ym") - F.col("cym")).between(1, 12))
        .groupBy("cym", (F.col("ym") - F.col("cym")).alias("age"))
        .agg(F.countDistinct("o_custkey").cast("long").alias("n_active"))
    )
    points = active.join(F.broadcast(sz), "cym").select(
        F.expr("CAST(cym DIV 12 AS BIGINT)").alias("cohort_year"),
        F.col("age").cast("long").alias("age"),
        F.expr("CAST(n_active * 1000000 DIV cohort_size AS BIGINT)").alias(
            "ret_ppm"
        ),
        F.expr(
            "CAST(FLOOR(ln(CAST(n_active AS DOUBLE)"
            " / CAST(cohort_size AS DOUBLE)) * 1000000.0) AS BIGINT)"
        ).alias("l_micro"),
    )
    fit = points.groupBy("cohort_year").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("age").cast("long").alias("sx"),
        F.sum(F.col("age") * F.col("age")).cast("long").alias("sxx"),
        F.sum("l_micro").cast("long").alias("sl"),
        F.sum(F.col("age") * F.col("l_micro")).cast("long").alias("sxl"),
        F.expr("CAST(SUM(ret_ppm) DIV COUNT(*) AS BIGINT)").alias(
            "mean_ret_ppm"
        ),
    )
    return (
        fit.filter(F.col("n") >= 3)
        .select(
            "cohort_year",
            F.col("n").alias("n_points"),
            "mean_ret_ppm",
            F.expr(_RDF_SLOPE_MICRO).alias("decay_micro_per_month"),
            F.expr(
                f"CAST(CASE WHEN {_RDF_SLOPE_MICRO} < 0"
                f" THEN FLOOR(693147.0 / CAST(-({_RDF_SLOPE_MICRO}) AS DOUBLE)"
                " * 30.0)"
                " ELSE -1 END AS BIGINT)"
            ).alias("half_life_days"),
        )
        .orderBy("cohort_year")
    )


# --------------------------------------------- Page-Hinkley drift

_PH_DELTA_KD = 5  # insensitivity band, kilo-dollars
_PH_LAMBDA_KD_MICRO = 200 * 1000000  # alarm threshold (200 k$ cumulative)

#: Per-day PH increment x_t - mean_t - delta with mean_t = S_t/t the
#: RUNNING mean, quantized micro per day from exact ints (the
#: division is the only non-integer op and it happens inside a
#: per-row shared expression), then integer-cumsummed.
_PH_TERM_MICRO = (
    "CAST(FLOOR((CAST(y AS DOUBLE)"
    " - CAST(s_run AS DOUBLE) / CAST(t AS DOUBLE)"
    f" - {_PH_DELTA_KD}.0) * 1000000.0) AS BIGINT)"
)

_PH_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                // 100000 AS BIGINT) AS y
    FROM orders GROUP BY o_orderdate
),
run AS (
    SELECT d, y,
           CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
           CAST(SUM(y) OVER (ORDER BY d) AS BIGINT) AS s_run
    FROM daily
),
terms AS (
    SELECT d, y, t, {_PH_TERM_MICRO} AS term_micro FROM run
),
cums AS (
    SELECT d, CAST(SUM(term_micro) OVER (ORDER BY d) AS BIGINT) AS m_micro
    FROM terms
),
traj AS (
    SELECT d, m_micro,
           CAST(MIN(m_micro) OVER (ORDER BY d) AS BIGINT) AS m_min_micro
    FROM cums
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(m_micro - m_min_micro) AS BIGINT) AS ph_max_micro,
       CAST(SUM(CASE WHEN m_micro - m_min_micro > {_PH_LAMBDA_KD_MICRO}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days,
       CAST(MIN(CASE WHEN m_micro - m_min_micro > {_PH_LAMBDA_KD_MICRO}
                     THEN d END) AS DATE) AS first_alarm_day
FROM traj
"""


@register(
    "page_hinkley_drift",
    _PH_SQL,
    doc="Page-Hinkley upward-drift detector on daily revenue: the "
    "cumulative deviation from the SELF-REFERENTIAL running mean "
    "(minus an insensitivity band) tracked against its running "
    "minimum — unlike revenue_cusum_changepoint, which needs a "
    "known reference level, PH adapts its baseline as it goes, "
    "which is why it is the standard concept-drift monitor for "
    "model-input streams. Each day's increment quantizes to micro "
    "inside one shared per-row expression (running sums are exact "
    "kilo-dollar ints); the PH statistic and its running minimum "
    "are integer window aggregates; alarms are integer compares. "
    "Scale: one map-combinable day-grain agg, then calendar-bounded "
    "windows.",
)
def q_page_hinkley_drift(spark, sf_dir):
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)) DIV 100000 AS BIGINT)"
            ).alias("y")
        )
    )
    w = Window.orderBy("d")
    run = daily.select(
        "d",
        "y",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("y").over(w).cast("long").alias("s_run"),
    )
    terms = run.select("d", F.expr(_PH_TERM_MICRO).alias("term_micro"))
    traj = terms.select(
        "d",
        F.sum("term_micro").over(w).cast("long").alias("m_micro"),
    ).select(
        "d",
        "m_micro",
        F.min("m_micro").over(w).cast("long").alias("m_min_micro"),
    )
    alarm = F.col("m_micro") - F.col("m_min_micro") > _PH_LAMBDA_KD_MICRO
    return traj.agg(
        F.count("*").cast("long").alias("n_days"),
        F.max(F.col("m_micro") - F.col("m_min_micro"))
        .cast("long")
        .alias("ph_max_micro"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarm_days"),
        F.min(F.when(alarm, F.col("d"))).cast("date").alias("first_alarm_day"),
    )


# ----------------------------------- streaming Page-Hinkley maintenance


@register(
    "stream_page_hinkley_maintenance",
    _PH_SQL,
    doc="Streaming twin of page_hinkley_drift with SCALAR state: "
    "unlike the mergeable-sketch twins (KMV/CMS) and the keyed-state "
    "twin (transitions), PH is an ORDER-DEPENDENT recursion — each "
    "batch resumes from exactly four carried integers (day count t, "
    "running sum S, statistic m, running min of m) and replays only "
    "its own days against those offsets; the per-day quantization "
    "point (micro-floor inside the shared expression) is identical "
    "to the batch entry, so the reconstructed trajectory is "
    "bit-equal and the oracle is the batch SQL verbatim. State "
    "writes are keyed by batch_id (replay-safe re-derivation, the "
    "transition twin's discipline). Scale: O(1) state, per-batch "
    "work = one day-grain agg + one window over the batch's days — "
    "the cheapest possible streaming drift monitor.",
)
def q_stream_page_hinkley_maintenance(spark, sf_dir):
    import os

    from ecom_churn_lakehouse_spark.scratch import scratch_dir
    from ecom_churn_lakehouse_spark.sources import load_table as _lt

    orders = _lt(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    base = scratch_dir(prefix="stream_ph_")

    b = orders.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    ).collect()[0]
    lo, hi = b["lo"], b["hi"]
    span = (hi - lo) / 3

    def _apply(batch_df, batch_id):
        # resume from the newest earlier batch's state (an empty batch
        # writes none, so it need not be batch_id - 1)
        state = f"{base}/state"
        prior = (
            spark.read.parquet(state)
            .filter(F.col("batch_id") < batch_id)
            .orderBy(F.desc("batch_id"))
            .limit(1)
            .collect()
            if os.path.isdir(state)
            else []
        )
        if prior:
            st = prior[0]
            t0, s0, m0, min0 = (
                st["t"], st["s_run"], st["m_micro"], st["m_min_micro"]
            )
        else:
            t0, s0, m0, min0 = 0, 0, 0, None
        daily = batch_df.groupBy(F.to_date("o_orderdate").alias("d")).agg(
            F.expr(
                "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)) DIV 100000 AS BIGINT)"
            ).alias("y")
        )
        w = Window.orderBy("d")
        run = daily.select(
            "d",
            "y",
            (F.row_number().over(w).cast("long") + F.lit(t0)).alias("t"),
            (F.sum("y").over(w).cast("long") + F.lit(s0)).alias("s_run"),
        )
        terms = run.select("d", "t", "s_run", F.expr(_PH_TERM_MICRO).alias("term"))
        cums = terms.select(
            "d",
            "t",
            "s_run",
            (F.sum("term").over(w).cast("long") + F.lit(m0)).alias("m_micro"),
        )
        batch_min = F.min("m_micro").over(w).cast("long")
        traj = cums.select(
            "d",
            "t",
            "s_run",
            "m_micro",
            (
                F.least(batch_min, F.lit(min0).cast("long"))
                if min0 is not None
                else batch_min
            ).alias("m_min_micro"),
        )
        write_once(traj, f"{base}/traj/batch_id={batch_id}")
        last = traj.orderBy(F.col("d").desc()).limit(1).select(
            "t", "s_run", "m_micro", "m_min_micro"
        )
        write_once(last, f"{state}/batch_id={batch_id}")

    replay(
        orders, ranges("o_orderdate", lo + span, lo + 2 * span), _apply, base
    )

    traj = spark.read.parquet(f"{base}/traj")
    alarm = F.col("m_micro") - F.col("m_min_micro") > _PH_LAMBDA_KD_MICRO
    return traj.agg(
        F.count("*").cast("long").alias("n_days"),
        F.max(F.col("m_micro") - F.col("m_min_micro"))
        .cast("long")
        .alias("ph_max_micro"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarm_days"),
        F.min(F.when(alarm, F.col("d"))).cast("date").alias("first_alarm_day"),
    )


# --------------------------------------------- VaR backtest (Kupiec POF)

#: LR_pof = 2[(n-x) ln((1-phat)/(1-p)) + x ln(phat/p)], p = 0.05,
#: phat = x/n. One shared IEEE expression over two exact ints, with
#: x=0 and x=n guarded by CASE (0 ln 0 = 0). chi2_{1,.05} = 3.841.
_KUPIEC_LR_MILLI = (
    "CAST(FLOOR(2.0 * ("
    "CAST(n_test - x AS DOUBLE)"
    " * (CASE WHEN x = n_test THEN 0.0"
    "         ELSE ln((1.0 - CAST(x AS DOUBLE) / CAST(n_test AS DOUBLE))"
    "                 / 0.95) END)"
    " + CAST(x AS DOUBLE)"
    "   * (CASE WHEN x = 0 THEN 0.0"
    "           ELSE ln(CAST(x AS DOUBLE) / CAST(n_test AS DOUBLE) / 0.05)"
    "      END)"
    ") * 1000.0) AS BIGINT)"
)

_KUPIEC_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                // 100000 AS BIGINT) AS y
    FROM orders GROUP BY o_orderdate
),
bounds AS (
    SELECT MIN(d) AS lo,
           MIN(d) + CAST((date_diff('day', MIN(d), MAX(d)) // 2)
                         AS BIGINT) * INTERVAL 1 DAY AS mid
    FROM daily
),
cal AS (SELECT y FROM daily, bounds WHERE d < mid),
var_q AS (
    SELECT CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY y) AS BIGINT)
        AS var_kd
    FROM cal
),
test AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN daily.y < v.var_kd THEN 1 ELSE 0 END)
                AS BIGINT) AS x
    FROM daily, bounds, var_q v WHERE d >= mid
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cal) AS n_cal,
       (SELECT var_kd FROM var_q) AS var_kd,
       n_test, x AS n_violations,
       CAST(n_test * 50 AS BIGINT) AS expected_violations_milli,
       {_KUPIEC_LR_MILLI} AS lr_milli,
       {_KUPIEC_LR_MILLI} > 3841 AS reject_at_05
FROM test
"""


@register(
    "var_backtest_kupiec",
    _KUPIEC_SQL,
    doc="Kupiec proportion-of-failures backtest: a 5% revenue VaR is "
    "calibrated on the first half of the calendar (exact "
    "percentile_disc), violations are counted on the second half, "
    "and the POF likelihood ratio tests whether the violation rate "
    "matches the nominal 5% — the regulatory-standard check that a "
    "risk threshold still means what it claims out of sample "
    "(revenue_max_drawdown's forward-looking sibling). The split "
    "point is exact date arithmetic; the LR is one shared IEEE "
    "expression over two integers with 0*ln(0) CASE guards; "
    "chi2_{{1,.05}} = 3.841. Scale: one day-grain agg; calibration "
    "and test are scan-local date filters.",
)
def q_var_backtest_kupiec(spark, sf_dir):
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)) DIV 100000 AS BIGINT)"
            ).alias("y")
        )
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(
        F.expr(
            "date_add(MIN(d), CAST(datediff(MAX(d), MIN(d)) DIV 2 AS INT))"
        ).alias("mid")
    )
    with_mid = daily.crossJoin(F.broadcast(bounds))
    cal = with_mid.filter(F.col("d") < F.col("mid"))
    var_q = cal.agg(
        F.expr(
            "CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY y) AS BIGINT)"
        ).alias("var_kd")
    )
    n_cal = cal.agg(F.count("*").cast("long").alias("n_cal"))
    test = (
        with_mid.filter(F.col("d") >= F.col("mid"))
        .crossJoin(F.broadcast(var_q))
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(F.when(F.col("y") < F.col("var_kd"), 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
    )
    return (
        test.crossJoin(F.broadcast(n_cal))
        .crossJoin(F.broadcast(var_q))
        .select(
            "n_cal",
            "var_kd",
            "n_test",
            F.col("x").alias("n_violations"),
            (F.col("n_test") * 50).cast("long").alias(
                "expected_violations_milli"
            ),
            F.expr(_KUPIEC_LR_MILLI).alias("lr_milli"),
            (F.expr(_KUPIEC_LR_MILLI) > 3841).alias("reject_at_05"),
        )
    )


# --------------------------------------------- Ljung-Box portmanteau

_LB_MAX_LAG = 5

#: r_k = num_k / num_0 with num_k = SUM y_t y_(t-k) - ybar*(sh+st)
#: + (n-k)*ybar^2, every input an exact int64 (kilo-dollar grain);
#: each lag's Q contribution floor-quantizes to nano BEFORE the
#: integer sum (fixed-order independence), then one integer finish.
_LB_TERM_NANO = (
    "CAST(FLOOR("
    "((CAST(sxy AS DOUBLE)"
    "  - (CAST(sh AS DOUBLE) + CAST(st AS DOUBLE))"
    "    * (CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE))"
    "  + CAST(cnt AS DOUBLE) * (CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE))"
    "    * (CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE)))"
    " / (CAST(syy AS DOUBLE)"
    "    - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE)))"
    " * ((CAST(sxy AS DOUBLE)"
    "  - (CAST(sh AS DOUBLE) + CAST(st AS DOUBLE))"
    "    * (CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE))"
    "  + CAST(cnt AS DOUBLE) * (CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE))"
    "    * (CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE)))"
    " / (CAST(syy AS DOUBLE)"
    "    - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE)))"
    " / CAST(n - k AS DOUBLE) * 1000000000.0) AS BIGINT)"
)

_LB_SQL = f"""
WITH daily AS (
    SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                // 100000 AS BIGINT) AS y,
           CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate) AS BIGINT) AS t
    FROM orders GROUP BY o_orderdate
),
gstats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS s_all,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM daily
),
per_lag AS (
    SELECT ks.k,
           CAST(SUM(a.y * b.y) AS BIGINT) AS sxy,
           CAST(SUM(a.y) AS BIGINT) AS sh,
           CAST(SUM(b.y) AS BIGINT) AS st,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (VALUES {", ".join(f"(CAST({k} AS BIGINT))" for k in range(1, _LB_MAX_LAG + 1))})
        AS ks(k)
    JOIN daily a ON TRUE
    JOIN daily b ON b.t = a.t - ks.k
    GROUP BY ks.k
),
terms AS (
    SELECT p.k, {_LB_TERM_NANO} AS term_nano
    FROM per_lag p CROSS JOIN gstats
)
SELECT (SELECT n FROM gstats) AS n_days,
       CAST({_LB_MAX_LAG} AS BIGINT) AS max_lag,
       CAST(SUM(term_nano) AS BIGINT) AS sum_term_nano,
       CAST((SELECT n * (n + 2) FROM gstats) * SUM(term_nano) // 1000000
            AS BIGINT) AS q_milli,
       CAST((SELECT n * (n + 2) FROM gstats) * SUM(term_nano) // 1000000
            AS BIGINT) > 11070 AS reject_at_05
FROM terms
"""


@register(
    "ljung_box_test",
    _LB_SQL,
    doc=f"Ljung-Box portmanteau test at lags 1..{_LB_MAX_LAG} on daily "
    "revenue: is the series white noise, or does autocorrelation at "
    "ANY early lag survive (chi2 df=5, crit 11.07)? The formal test "
    "behind revenue_autocorr_components' point estimates — the "
    "gate a forecasting residual must pass. Lagged cross-products "
    "come from equi-joins on the day index (exact kilo-dollar "
    "ints); each lag's r_k^2/(n-k) contribution floor-quantizes to "
    "nano from one shared IEEE expression before the integer sum; "
    "the n(n+2) finish is pure int64. Scale: day-grain; five "
    "calendar-bounded self-joins.",
)
def q_ljung_box_test(spark, sf_dir):
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)) DIV 100000 AS BIGINT)"
            ).alias("y")
        )
        .select(
            "y",
            F.row_number().over(Window.orderBy("o_orderdate")).cast("long").alias("t"),
        )
        .localCheckpoint(eager=False)
    )
    glob = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s_all"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    ks = spark.range(1, _LB_MAX_LAG + 1).select(F.col("id").alias("k"))
    a = daily.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = daily.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    per_lag = (
        F.broadcast(ks)
        .join(a, F.lit(True))
        .join(b, F.col("tb") == F.col("ta") - F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.col("ya") * F.col("yb")).cast("long").alias("sxy"),
            F.sum("ya").cast("long").alias("sh"),
            F.sum("yb").cast("long").alias("st"),
            F.count("*").cast("long").alias("cnt"),
        )
    )
    terms = per_lag.crossJoin(F.broadcast(glob)).select(
        "k", F.expr(_LB_TERM_NANO).alias("term_nano"), "n"
    )
    return terms.agg(
        F.max("n").cast("long").alias("n_days"),
        F.lit(_LB_MAX_LAG).cast("long").alias("max_lag"),
        F.sum("term_nano").cast("long").alias("sum_term_nano"),
        F.expr(
            "CAST(MAX(n) * (MAX(n) + 2) * SUM(term_nano) DIV 1000000"
            " AS BIGINT)"
        ).alias("q_milli"),
        (
            F.expr(
                "CAST(MAX(n) * (MAX(n) + 2) * SUM(term_nano) DIV 1000000"
                " AS BIGINT)"
            )
            > 11070
        ).alias("reject_at_05"),
    )


# --------------------------------------------------------------------------
# CUPED variance reduction: pre-period spend as the control covariate.
# --------------------------------------------------------------------------

#: theta = Cov(X,Y)/Var(X) from pooled exact dollar-grain int64 sums;
#: every float below is ONE shared IEEE expression over those sums
#: (int64 -> double is a single correctly-rounded conversion).
_CUPED_THETA_RAW = (
    "((CAST(n_tot AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx_tot AS DOUBLE) * CAST(sy_tot AS DOUBLE))"
    " / (CAST(n_tot AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "    - CAST(sx_tot AS DOUBLE) * CAST(sx_tot AS DOUBLE)))"
)
_CUPED_THETA_MICRO = f"CAST(FLOOR({_CUPED_THETA_RAW} * 1000000.0) AS BIGINT)"
_CUPED_RED_PPM = (
    "CAST(FLOOR("
    "(CAST(n_tot AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx_tot AS DOUBLE) * CAST(sy_tot AS DOUBLE))"
    " * (CAST(n_tot AS DOUBLE) * CAST(sxy AS DOUBLE)"
    "    - CAST(sx_tot AS DOUBLE) * CAST(sy_tot AS DOUBLE))"
    " / ((CAST(n_tot AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "     - CAST(sx_tot AS DOUBLE) * CAST(sx_tot AS DOUBLE))"
    "    * (CAST(n_tot AS DOUBLE) * CAST(syy AS DOUBLE)"
    "       - CAST(sy_tot AS DOUBLE) * CAST(sy_tot AS DOUBLE)))"
    " * 1000000.0) AS BIGINT)"
)
_CUPED_ADJ_MEAN_MILLI = (
    f"CAST(FLOOR((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - {_CUPED_THETA_RAW} * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"
    f"    - CAST(sx_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)))"
    " * 1000.0) AS BIGINT)"
)

_CUPED_SQL = f"""
WITH yearly AS (
    SELECT o_custkey AS cust,
           CAST(SUM(CASE WHEN EXTRACT(YEAR FROM CAST(o_orderdate AS DATE))
                              = 1996
                    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS BIGINT) // 100 ELSE 0 END) AS BIGINT) AS x,
           CAST(SUM(CASE WHEN EXTRACT(YEAR FROM CAST(o_orderdate AS DATE))
                              = 1997
                    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS BIGINT) // 100 ELSE 0 END) AS BIGINT) AS y
    FROM orders GROUP BY o_custkey
),
assigned AS (
    SELECT CASE WHEN ({{HB}}) < 5000 THEN 'treat' ELSE 'control' END AS arm,
           x, y
    FROM yearly
),
per_arm AS (
    SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
    FROM assigned GROUP BY arm
),
pooled AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
           CAST(SUM(x) AS BIGINT) AS sx_tot,
           CAST(SUM(y) AS BIGINT) AS sy_tot,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM assigned
)
SELECT a.arm, a.n, a.sx, a.sy,
       CAST(a.sy * 1000 // a.n AS BIGINT) AS raw_mean_milli,
       {_CUPED_ADJ_MEAN_MILLI.replace("CAST(sy AS DOUBLE)", "CAST(a.sy AS DOUBLE)").replace("CAST(n AS DOUBLE)", "CAST(a.n AS DOUBLE)").replace("CAST(sx AS DOUBLE)", "CAST(a.sx AS DOUBLE)")} AS adj_mean_milli,
       {_CUPED_THETA_MICRO} AS theta_micro,
       {_CUPED_RED_PPM} AS var_reduction_ppm
FROM per_arm a CROSS JOIN pooled
ORDER BY a.arm
"""


def _cuped_sql() -> str:
    from ecom_churn_lakehouse_spark.operators.sampling import hash_bucket_sql

    return _CUPED_SQL.replace("{HB}", hash_bucket_sql("cust", "cuped:"))


@register(
    "cuped_variance_reduction",
    _cuped_sql(),
    doc="CUPED variance reduction for the 1997-spend metric using "
    "1996 spend as the pre-period covariate (the industry-standard "
    "A/B sensitivity technique; same pooled-theta convention as "
    "production systems): customers hash-split 50/50 (the shared "
    "hash_bucket idiom), theta = Cov(X,Y)/Var(X) and the achieved "
    "variance reduction rho^2 computed from EXACT dollar-grain int64 "
    "moment sums, each surfaced float one shared IEEE expression "
    "(int64 -> double is one correctly-rounded conversion); per-arm "
    "raw vs CUPED-adjusted means show the correction in action. "
    "Scale: one map-combinable customer-grain agg + a 2-row arm "
    "frame; moment products stay under int64 to ~1e6-dollar "
    "customer-years x 1e7 customers, past which spend re-grains to "
    "kilo-dollars (documented knob).",
)
def q_cuped_variance_reduction(spark, sf_dir):
    from ecom_churn_lakehouse_spark.operators.sampling import hash_bucket

    dollars = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 100"
    )
    yearly = (
        load_table(spark, sf_dir, "orders")
        .withColumn("yr", F.year("o_orderdate"))
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(F.when(F.col("yr") == 1996, dollars).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("yr") == 1997, dollars).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    assigned = yearly.select(
        F.when(hash_bucket(F.col("cust"), "cuped:") < 5000, "treat")
        .otherwise("control")
        .alias("arm"),
        "x",
        "y",
    ).localCheckpoint(eager=False)
    per_arm = assigned.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
    )
    pooled = assigned.agg(
        F.count("*").cast("long").alias("n_tot"),
        F.sum("x").cast("long").alias("sx_tot"),
        F.sum("y").cast("long").alias("sy_tot"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
        F.sum(F.expr("y * y")).cast("long").alias("syy"),
    )
    adj = (
        _CUPED_ADJ_MEAN_MILLI
        .replace("CAST(sy AS DOUBLE)", "CAST(a.sy AS DOUBLE)")
        .replace("CAST(n AS DOUBLE)", "CAST(a.n AS DOUBLE)")
        .replace("CAST(sx AS DOUBLE)", "CAST(a.sx AS DOUBLE)")
        .replace("a.sx_tot", "sx_tot")  # guard: only arm cols aliased
    )
    return (
        per_arm.alias("a")
        .crossJoin(F.broadcast(pooled))
        .select(
            "arm",
            "n",
            "sx",
            "sy",
            F.expr("CAST(sy * 1000 DIV n AS BIGINT)").alias("raw_mean_milli"),
            F.expr(adj).alias("adj_mean_milli"),
            F.expr(_CUPED_THETA_MICRO).alias("theta_micro"),
            F.expr(_CUPED_RED_PPM).alias("var_reduction_ppm"),
        )
        .orderBy("arm")
    )


@register(
    "stream_cuped_maintenance",
    _cuped_sql(),
    doc="Streaming twin of cuped_variance_reduction, demonstrating WHY "
    "the maintenance grain matters: the CUPED moment sums (sxx, sxy, "
    "syy) are NOT row-mergeable — a customer's orders span batches, "
    "and x^2 of a partial year is not a partial of x^2 — so each "
    "foreachBatch writes batch_id-keyed partials at the CUSTOMER "
    "grain (cust, x_partial, y_partial; the keyed-state class of the "
    "streaming taxonomy) through the _SUCCESS-gated write_once for "
    "replay safety. The served view merges partials to the customer grain "
    "FIRST, then computes arms/theta/rho^2 exactly as the batch "
    "entry; the oracle is the batch SQL verbatim, so convergence "
    "must be bit-exact regardless of batch boundaries. Scale: "
    "per-batch shuffle is bounded by the batch's distinct customers; "
    "the moment finish runs on the merged customer frame once per "
    "read.",
)
def q_stream_cuped_maintenance(spark, sf_dir):
    from ecom_churn_lakehouse_spark.operators.sampling import hash_bucket
    from ecom_churn_lakehouse_spark.scratch import scratch_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    dollars = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 100"
    )

    def customer_partial(df):
        return (
            df.withColumn("yr", F.year("o_orderdate"))
            .groupBy(F.col("o_custkey").alias("cust"))
            .agg(
                F.sum(F.when(F.col("yr") == 1996, dollars).otherwise(0))
                .cast("long")
                .alias("x"),
                F.sum(F.when(F.col("yr") == 1997, dollars).otherwise(0))
                .cast("long")
                .alias("y"),
            )
        )

    base = scratch_dir(prefix="stream_cuped_")
    replay(
        orders,
        ranges("o_orderdate", "1996-07-01", "1997-07-01"),
        lambda bdf, bid: write_once(
            customer_partial(bdf), f"{base}/partials/batch_id={bid}"
        ),
        base,
    )
    yearly = (
        spark.read.parquet(f"{base}/partials")
        .drop("batch_id")
        .groupBy("cust")
        .agg(
            F.sum("x").cast("long").alias("x"),
            F.sum("y").cast("long").alias("y"),
        )
    )
    assigned = yearly.select(
        F.when(hash_bucket(F.col("cust"), "cuped:") < 5000, "treat")
        .otherwise("control")
        .alias("arm"),
        "x",
        "y",
    ).localCheckpoint(eager=False)
    per_arm = assigned.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
    )
    pooled = assigned.agg(
        F.count("*").cast("long").alias("n_tot"),
        F.sum("x").cast("long").alias("sx_tot"),
        F.sum("y").cast("long").alias("sy_tot"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
        F.sum(F.expr("y * y")).cast("long").alias("syy"),
    )
    adj = (
        _CUPED_ADJ_MEAN_MILLI
        .replace("CAST(sy AS DOUBLE)", "CAST(a.sy AS DOUBLE)")
        .replace("CAST(n AS DOUBLE)", "CAST(a.n AS DOUBLE)")
        .replace("CAST(sx AS DOUBLE)", "CAST(a.sx AS DOUBLE)")
    )
    return (
        per_arm.alias("a")
        .crossJoin(F.broadcast(pooled))
        .select(
            "arm",
            "n",
            "sx",
            "sy",
            F.expr("CAST(sy * 1000 DIV n AS BIGINT)").alias("raw_mean_milli"),
            F.expr(adj).alias("adj_mean_milli"),
            F.expr(_CUPED_THETA_MICRO).alias("theta_micro"),
            F.expr(_CUPED_RED_PPM).alias("var_reduction_ppm"),
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# Round 9: jackknife (leave-one-brand-out) influence on mean revenue.
# --------------------------------------------------------------------------

#: Revenue per line in EXACT micro-dollars: price quantizes to cents
#: and discount to basis points SEPARATELY (each a single double ->
#: DECIMAL rounding of a raw column — the canonical money
#: quantization) and only THEN multiply: cents x keep-bp = exact
#: micro-dollars. Quantizing the double product l_extendedprice *
#: (1 - l_discount) directly diverges cross-engine (caught by the
#: sf0.01 oracle on first spelling: half-boundary products round
#: differently).
_JACKKNIFE_SQL = """
WITH rev AS (
    SELECT p.p_brand AS brand,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           * (10000 - CAST(CAST(l.l_discount AS DECIMAL(18,4)) * 10000
                      AS BIGINT)) AS micros
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
by_brand AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_i,
           CAST(SUM(micros) AS BIGINT) AS s_i
    FROM rev GROUP BY brand
),
tot AS (
    SELECT CAST(SUM(n_i) AS BIGINT) AS n_tot,
           CAST(SUM(s_i) AS BIGINT) AS s_tot
    FROM by_brand
)
SELECT b.brand, b.n_i,
       CAST(b.s_i // 1000000 AS BIGINT) AS brand_revenue_dollars,
       CAST(t.s_tot // t.n_tot AS BIGINT) AS overall_mean_micros,
       CAST((t.s_tot - b.s_i) // (t.n_tot - b.n_i) AS BIGINT)
           AS loo_mean_micros,
       CAST((t.s_tot - b.s_i) // (t.n_tot - b.n_i)
            - t.s_tot // t.n_tot AS BIGINT) AS influence_micros
FROM by_brand b CROSS JOIN tot t
ORDER BY influence_micros, brand
"""


@register(
    "jackknife_brand_revenue_influence",
    _JACKKNIFE_SQL,
    doc="Leave-one-brand-out jackknife influence on the mean line "
    "revenue: for each brand, the overall mean recomputed WITHOUT "
    "that brand's lines, from the SAME one-pass exact cents sums "
    "(influence = loo_mean - overall_mean; a strongly negative "
    "influence marks the brand propping the mean up — the "
    "robustness screen behind 'is this aggregate one segment deep'). "
    "Companions: james_stein_brand_means shrinks per-brand means, "
    "this measures each brand's leverage on the pooled mean. All "
    "exact integer micro-dollars — price quantizes to cents and "
    "discount to basis points SEPARATELY before multiplying (the "
    "double product diverges cross-engine; caught by the oracle on "
    "first spelling) — and non-negative DIV throughout; the "
    "jackknife is closed-form for the mean, no resampling. Scale: "
    "one map-combinable brand agg + a broadcast 1-row total; 25-row "
    "output; micro-dollar sums stay under int64 to ~1e7 lines per "
    "brand, past which the grain drops to cents x percent.",
)
def q_jackknife_brand_revenue_influence(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " * (10000 - CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000"
            " AS BIGINT))"
        ).alias("micros"),
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    rev = li.join(part, li.l_partkey == part.p_partkey).select(
        "brand", "micros"
    )
    by_brand = rev.groupBy("brand").agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum("micros").cast("long").alias("s_i"),
    )
    tot = by_brand.agg(
        F.sum("n_i").cast("long").alias("n_tot"),
        F.sum("s_i").cast("long").alias("s_tot"),
    )
    return (
        by_brand.crossJoin(F.broadcast(tot))
        .select(
            "brand",
            "n_i",
            F.expr("s_i DIV 1000000").cast("long").alias(
                "brand_revenue_dollars"
            ),
            F.expr("s_tot DIV n_tot").cast("long").alias(
                "overall_mean_micros"
            ),
            F.expr("(s_tot - s_i) DIV (n_tot - n_i)")
            .cast("long")
            .alias("loo_mean_micros"),
            F.expr(
                "(s_tot - s_i) DIV (n_tot - n_i) - s_tot DIV n_tot"
            )
            .cast("long")
            .alias("influence_micros"),
        )
        .orderBy("influence_micros", "brand")
    )


# --------------------------------------------------------------------------
# Round 9 (second wave): MASE backtest of the seasonal-naive forecast.
# --------------------------------------------------------------------------

_MASE_SQL = """
WITH monthly AS (
    SELECT CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
                + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1
           AS BIGINT) AS midx,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders GROUP BY 1
),
scored AS (
    SELECT m.midx, m.rev_cents,
           n.rev_cents AS naive_pred,
           s.rev_cents AS seasonal_pred
    FROM monthly m
    JOIN monthly n ON n.midx = m.midx - 1
    JOIN monthly s ON s.midx = m.midx - 12
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_months_scored,
       CAST(SUM(ABS(rev_cents - naive_pred)) // COUNT(*) AS BIGINT)
           AS mae_naive_cents,
       CAST(SUM(ABS(rev_cents - seasonal_pred)) // COUNT(*) AS BIGINT)
           AS mae_seasonal_cents,
       CAST((SUM(ABS(rev_cents - seasonal_pred)) // COUNT(*)) * 1000000
            // (SUM(ABS(rev_cents - naive_pred)) // COUNT(*)) AS BIGINT)
           AS mase_ppm
FROM scored
"""


@register(
    "mase_seasonal_naive_backtest",
    _MASE_SQL,
    doc="MASE backtest of the seasonal-naive forecaster on monthly "
    "revenue: for every month with both a previous month and a "
    "same-month-last-year, score |actual - naive(t-1)| and "
    "|actual - seasonal(t-12)| in exact cents and report MASE = "
    "MAE(seasonal) / MAE(naive) as exact ppm (all non-negative int64 "
    "sums and DIVs; ABS of exact integer differences). MASE < 1e6 "
    "ppm means seasonality beats persistence — the scale-free "
    "forecast-quality gate that complements forecast_revenue_change "
    "(point estimate) and seasonality_strength_decomposition "
    "(variance split). Lags are JOINS on the integer month index, "
    "not windows — no global sort anywhere. The ppm ratio divides the "
    "per-month MAEs (not the raw sums) so mae*1e6 stays under int64 "
    "to ~1e11-cent monthly MAE; past that the grain drops to dollars. Scale: one "
    "map-combinable month agg (calendar-bounded frame), then "
    "two self-joins on ~80 rows.",
)
def q_mase_seasonal_naive_backtest(spark, sf_dir):
    monthly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("midx")
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                    " AS BIGINT)"
                )
            )
            .cast("long")
            .alias("rev_cents")
        )
        .localCheckpoint(eager=False)
    )
    naive = monthly.select(
        (F.col("midx") + 1).alias("midx"),
        F.col("rev_cents").alias("naive_pred"),
    )
    seasonal = monthly.select(
        (F.col("midx") + 12).alias("midx"),
        F.col("rev_cents").alias("seasonal_pred"),
    )
    scored = monthly.join(naive, "midx").join(seasonal, "midx")
    return scored.agg(
        F.count("*").cast("long").alias("n_months_scored"),
        F.expr(
            "CAST(SUM(ABS(rev_cents - naive_pred)) DIV COUNT(*) AS BIGINT)"
        ).alias("mae_naive_cents"),
        F.expr(
            "CAST(SUM(ABS(rev_cents - seasonal_pred)) DIV COUNT(*)"
            " AS BIGINT)"
        ).alias("mae_seasonal_cents"),
        F.expr(
            "CAST((SUM(ABS(rev_cents - seasonal_pred)) DIV COUNT(*))"
            " * 1000000"
            " DIV (SUM(ABS(rev_cents - naive_pred)) DIV COUNT(*))"
            " AS BIGINT)"
        ).alias("mase_ppm"),
    )


# --------------------------------------------------------------------------
# Round 9 (third wave): Wald-Wolfowitz runs test on daily revenue.
# --------------------------------------------------------------------------

#: Shared IEEE z from exact integer (r, n1, n2): mu = 2*n1*n2/n + 1,
#: var = 2*n1*n2*(2*n1*n2 - n) / (n^2 * (n-1)). FLOOR (not DIV) on the
#: signed result — FLOOR floors toward -inf identically on both
#: engines.
_RUNS_Z_MILLI = (
    "CAST(FLOOR((CAST(r AS DOUBLE)"
    " - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))"
    " / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "           - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))"
    "        / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
    "           * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
    "           * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))"
    " * 1000.0) AS BIGINT)"
)

_RUNS_TEST_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS rev
    FROM orders GROUP BY 1
),
med AS (
    SELECT CAST(quantile_disc(rev, 0.5) AS BIGINT) AS m FROM daily
),
signed_days AS (
    SELECT day, CASE WHEN rev > m THEN 1 ELSE 0 END AS s
    FROM daily, med WHERE rev <> m
),
runs AS (
    SELECT s, LAG(s) OVER (ORDER BY day) AS prev_s FROM signed_days
),
stats AS (
    SELECT CAST(1 + SUM(CASE WHEN prev_s IS NOT NULL AND s <> prev_s
                        THEN 1 ELSE 0 END) AS BIGINT) AS r,
           CAST(SUM(s) AS BIGINT) AS n1,
           CAST(SUM(1 - s) AS BIGINT) AS n2
    FROM runs
)
SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
       {_RUNS_Z_MILLI} AS z_milli,
       ABS({_RUNS_Z_MILLI}) > 1959 AS reject_randomness_at_05
FROM stats
"""


@register(
    "runs_test_daily_revenue",
    _RUNS_TEST_SQL,
    doc="Wald-Wolfowitz runs test for randomness of the daily-revenue "
    "sequence around its median: days sign as above/below the exact "
    "median (percentile_disc on exact cents; exact-median days "
    "excluded per convention), the run count comes from one lag over "
    "the calendar-bounded day frame, and the normal-approximation z "
    "is ONE shared IEEE expression over exact integer (runs, n1, n2) "
    "with the floored 1959-milli critical. Complements "
    "mann_kendall_trend (monotone trend) and ljung_box_test "
    "(autocorrelation) with the classic randomness-of-signs test — "
    "too few runs = clustering/regime, too many = oscillation. "
    "Scale: one map-combinable day agg; the ordered window runs on "
    "the ~2.4k-day calendar frame.",
    bounded_frame="calendar-bounded day frame",
)
def q_runs_test_daily_revenue(spark, sf_dir):
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.expr(
                    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                    " AS BIGINT)"
                )
            )
            .cast("long")
            .alias("rev")
        )
    )
    med = daily.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY rev)")
        .cast("long")
        .alias("m")
    )
    signed_days = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("m"))
        .select(
            "day", F.when(F.col("rev") > F.col("m"), 1).otherwise(0).alias("s")
        )
    )
    runs = signed_days.select(
        "s", F.lag("s").over(Window.orderBy("day")).alias("prev_s")
    )
    stats = runs.agg(
        (
            1
            + F.sum(
                F.when(
                    F.col("prev_s").isNotNull()
                    & (F.col("s") != F.col("prev_s")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("r"),
        F.sum("s").cast("long").alias("n1"),
        F.sum(F.expr("1 - s")).cast("long").alias("n2"),
    )
    z = F.expr(_RUNS_Z_MILLI)
    return stats.select(
        F.col("r").alias("n_runs"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        z.alias("z_milli"),
        (F.abs(z) > 1959).alias("reject_randomness_at_05"),
    )


# ---------------------------------------------------------------------------
# Round 9 fourth wave: (augmented-)Dickey-Fuller unit-root screen.
# ---------------------------------------------------------------------------

#: DF regression  dy_t = alpha + gamma*y_{t-1} + e_t  in closed form
#: from exact dollar-grain int64 moment sums: gamma = Sxy/Sxx over
#: centered sums, t = gamma/se(gamma), se^2 = (SSE/(n-2))/Sxx,
#: SSE = Syy - gamma*Sxy. Everything up to the sums is exact int64;
#: the final expressions are ONE shared IEEE spelling on both
#: engines, floor-quantized. Critical: DF tau_mu(0.05) = -2.86
#: (constant, no trend; asymptotic row of the Dickey-Fuller table),
#: floored-milli compare t_milli < -2860.
_ADF_GAMMA_MICRO = (
    "CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    "            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * 1000000.0) AS BIGINT)"
)
_ADF_T_MILLI = (
    "CAST(FLOOR(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    "             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
    " / sqrt((((CAST(syy AS DOUBLE)"
    "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    "             / CAST(n AS DOUBLE))"
    "          - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    "              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    "             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
    "            * (CAST(sxy AS DOUBLE)"
    "               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    "                 / CAST(n AS DOUBLE)))"
    "         / (CAST(n AS DOUBLE) - 2.0))"
    "        / (CAST(sxx AS DOUBLE)"
    "           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    "             / CAST(n AS DOUBLE)))"
    " * 1000.0) AS BIGINT)"
)

_ADF_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) // 100000 AS y
    FROM orders GROUP BY o_orderdate
),
lagged AS (
    SELECT a.y AS x, b.y - a.y AS dy
    FROM daily a JOIN daily b ON b.d = a.d + 1
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(dy) AS BIGINT) AS sy,
           CAST(SUM(x * dy) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(dy * dy) AS BIGINT) AS syy
    FROM lagged
)
SELECT n, sx, sy, sxy, sxx, syy,
       {_ADF_GAMMA_MICRO} AS gamma_micro,
       {_ADF_T_MILLI} AS t_milli,
       {_ADF_T_MILLI} < -2860 AS stationary_at_05
FROM s
"""


@register(
    "adf_unit_root_screen",
    _ADF_SQL,
    doc="Dickey-Fuller unit-root screen on daily revenue — the "
    "stationarity gate the time-series battery lacked (mann_kendall "
    "answers 'is there a monotone trend', ljung_box 'is there "
    "autocorrelation', runs_test 'are the signs random'; DF answers "
    "'does a shock persist', the property that decides differencing "
    "before any forecast): regress dy_t on y_{t-1} with intercept, "
    "closed form from SIX exact dollar-grain int64 moment sums fused "
    "in one aggregate, then one shared-IEEE expression each for "
    "gamma and its t-ratio, compared against the asymptotic "
    "Dickey-Fuller tau_mu critical (-2.86, floored milli — the DF "
    "distribution, NOT Student t, which is the classic misuse). "
    "Consecutive-day lag pairs come from a date self-join (b.d = "
    "a.d + 1 day) on the calendar-bounded daily frame: no window "
    "anywhere, gaps simply drop pairs. Scale: one scan-local "
    "group-by to the day grain, one bounded self-join, one 1-row "
    "reduce; KILO-dollar grain keeps sxx under int64 to ~sf500 daily "
    "revenue (gamma is scale-invariant, so the coarser grain costs "
    "only ~1e-4 relative resolution; past that, re-grain again — "
    "the cohens_d discipline).",
)
def q_adf_unit_root_screen(spark, sf_dir):
    cents = F.expr(
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))"
        " AS BIGINT) DIV 100000"
    )
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(cents.alias("y"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    lagged = a.join(
        b, F.col("b.d") == F.date_add(F.col("a.d"), 1)
    ).select(
        F.col("a.y").alias("x"), (F.col("b.y") - F.col("a.y")).alias("dy")
    )
    s = lagged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.expr("x * dy")).cast("long").alias("sxy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("dy * dy")).cast("long").alias("syy"),
    )
    return s.select(
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        "syy",
        F.expr(_ADF_GAMMA_MICRO).alias("gamma_micro"),
        F.expr(_ADF_T_MILLI).alias("t_milli"),
        (F.expr(_ADF_T_MILLI) < -2860).alias("stationary_at_05"),
    )


# ---------------------------------------------------------------------------
# Round 9 fourth wave: Lo-MacKinlay variance-ratio random-walk test.
# ---------------------------------------------------------------------------

_VR_QS = [2, 4, 8]

#: VR(q) = Var(y_t - y_{t-q}) / (q * Var(y_t - y_{t-1})) from exact
#: kilodollar-grain int64 moment sums (n, s, ss) per lag; z under the
#: homoskedastic null uses phi(q) = 2(2q-1)(q-1)/(3q). One shared
#: IEEE spelling per output, floored milli.
_VR_VAR = (
    "(CAST(ss{tag} AS DOUBLE) / CAST(n{tag} AS DOUBLE)"
    " - (CAST(s{tag} AS DOUBLE) / CAST(n{tag} AS DOUBLE))"
    "   * (CAST(s{tag} AS DOUBLE) / CAST(n{tag} AS DOUBLE)))"
)
_VR_RATIO = (
    f"({_VR_VAR.format(tag='q')}"
    f" / (CAST(q AS DOUBLE) * {_VR_VAR.format(tag='1')}))"
)
_VR_MILLI = f"CAST(FLOOR({_VR_RATIO} * 1000.0) AS BIGINT)"
_VR_Z_MILLI = (
    f"CAST(FLOOR(({_VR_RATIO} - 1.0)"
    " * sqrt(CAST(nq AS DOUBLE))"
    " / sqrt(2.0 * (2.0 * CAST(q AS DOUBLE) - 1.0)"
    "        * (CAST(q AS DOUBLE) - 1.0) / (3.0 * CAST(q AS DOUBLE)))"
    " * 1000.0) AS BIGINT)"
)


def _vr_sql() -> str:
    lags = []
    for q in _VR_QS:
        lags.append(f"""
l{q} AS (
    SELECT {q} AS q,
           CAST(COUNT(*) AS BIGINT) AS nq,
           CAST(SUM(b.y - a.y) AS BIGINT) AS sq,
           CAST(SUM((b.y - a.y) * (b.y - a.y)) AS BIGINT) AS ssq
    FROM daily a JOIN daily b ON b.d = a.d + {q}
)""")
    return f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) // 100000 AS y
    FROM orders GROUP BY o_orderdate
),
l1 AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n1,
           CAST(SUM(b.y - a.y) AS BIGINT) AS s1,
           CAST(SUM((b.y - a.y) * (b.y - a.y)) AS BIGINT) AS ss1
    FROM daily a JOIN daily b ON b.d = a.d + 1
),{",".join(lags)},
allq AS (
    {" UNION ALL ".join(f"SELECT * FROM l{q}" for q in _VR_QS)}
)
SELECT q, n1, nq, sq AS s_q, ssq AS ss_q,
       {_VR_MILLI} AS vr_milli,
       {_VR_Z_MILLI} AS z_milli,
       abs({_VR_Z_MILLI}) > 1959 AS reject_rw_at_05
FROM allq CROSS JOIN l1
ORDER BY q
"""


@register(
    "variance_ratio_random_walk",
    _vr_sql(),
    doc="Lo-MacKinlay variance-ratio test on daily revenue — the "
    "random-walk diagnostic that complements adf_unit_root_screen "
    "(ADF asks 'is there a unit root'; VR asks 'do q-day increments "
    "accumulate variance like independent steps', the property that "
    "separates mean-reverting from trending from white series; "
    "VR<1 = mean reversion, VR>1 = momentum): for q in {2,4,8}, "
    "q-day increments come from date self-joins (b.d = a.d + q, no "
    "window, gaps drop pairs), variances from exact kilodollar-grain "
    "int64 moment sums fused per lag, and VR(q) plus the "
    "homoskedastic-null z (phi(q) = 2(2q-1)(q-1)/(3q)) are single "
    "shared-IEEE expressions floored to milli, compared against the "
    "1.959 normal critical. Scale: one day-grain group-by then "
    "three bounded self-joins on a ~2.4k-row calendar frame; "
    "kilodollar grain keeps ss under int64 to ~sf500 (the ADF "
    "discipline).",
)
def q_variance_ratio_random_walk(spark, sf_dir):
    cents = F.expr(
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))"
        " AS BIGINT) DIV 100000"
    )
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(cents.alias("y"))
    )

    def lag_sums(q, tag):
        a, b = daily.alias("a"), daily.alias("b")
        diff = F.col("b.y") - F.col("a.y")
        return (
            a.join(b, F.col("b.d") == F.date_add(F.col("a.d"), q))
            .agg(
                F.count("*").cast("long").alias(f"n{tag}"),
                F.sum(diff).cast("long").alias(f"s{tag}"),
                F.sum(diff * diff).cast("long").alias(f"ss{tag}"),
            )
        )

    l1 = lag_sums(1, "1")
    parts = []
    for q in _VR_QS:
        lq = lag_sums(q, "q").withColumn("q", F.lit(q).cast("int"))
        parts.append(lq)
    allq = parts[0]
    for p in parts[1:]:
        allq = allq.unionByName(p)
    j = allq.crossJoin(F.broadcast(l1))
    return j.select(
        "q",
        "n1",
        "nq",
        F.col("sq").alias("s_q"),
        F.col("ssq").alias("ss_q"),
        F.expr(_VR_MILLI).alias("vr_milli"),
        F.expr(_VR_Z_MILLI).alias("z_milli"),
        (F.abs(F.expr(_VR_Z_MILLI)) > 1959).alias("reject_rw_at_05"),
    ).orderBy("q")


# ---------------------------------------------------------------------------
# Round 9 fourth wave: pinball-loss quantile-forecast backtest.
# ---------------------------------------------------------------------------

#: tau grid as exact (numerator, denominator=10) pairs so every
#: pinball term is integer: L*10 = tau10*(y-q) if y>=q else
#: (10-tau10)*(q-y). Units: deci-(dollar-grain) loss.
_PINBALL_TAUS = [5, 9]


def _pinball_sql() -> str:
    tau_rows = ", ".join(f"({t})" for t in _PINBALL_TAUS)
    return f"""
WITH daily AS (
    SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
           CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS
                BIGINT)) AS BIGINT) // 100 AS y
    FROM orders GROUP BY 1, 2
),
fc AS (
    SELECT m,
           CAST(quantile_disc(y, 0.5) AS BIGINT) AS q50,
           CAST(quantile_disc(y, 0.9) AS BIGINT) AS q90
    FROM daily GROUP BY m
),
taus(tau10) AS (VALUES {tau_rows}),
evald AS (
    SELECT t.tau10, d.y,
           CASE WHEN t.tau10 = 5 THEN f.q50 ELSE f.q90 END AS q
    FROM daily d
    JOIN fc f ON d.m = f.m + INTERVAL 1 MONTH
    CROSS JOIN taus t
)
SELECT CAST(tau10 AS BIGINT) AS tau10,
       CAST(COUNT(*) AS BIGINT) AS n_days_eval,
       CAST(SUM(CASE WHEN y >= q THEN tau10 * (y - q)
                     ELSE (10 - tau10) * (q - y) END) AS BIGINT)
           AS pinball_deci_total,
       CAST(SUM(CASE WHEN y >= q THEN tau10 * (y - q)
                     ELSE (10 - tau10) * (q - y) END)
            // COUNT(*) AS BIGINT) AS pinball_deci_per_day,
       CAST(SUM(CASE WHEN y <= q THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS coverage_ppm
FROM evald
GROUP BY tau10
ORDER BY tau10
"""


@register(
    "pinball_loss_quantile_backtest",
    _pinball_sql(),
    doc="Pinball (quantile) loss backtest of a seasonal quantile "
    "forecaster: each month's daily-revenue P50/P90 (exact "
    "percentile_disc data values in dollar grain) forecast the NEXT "
    "month's days, scored with the tau-asymmetric pinball loss — "
    "the proper scoring rule for quantile forecasts and the "
    "evaluation MASE (point forecasts) cannot give: whether the "
    "P90 is a calibrated P90 at all (read coverage_ppm against "
    "900000). Taus are exact tenths so every loss term is pure "
    "int64 (x10 deci units, no float anywhere); month-over-month "
    "pairing is a date_trunc self-join, no window. Scale: one "
    "day-grain reduce, a ~80-row monthly quantile frame, and a "
    "bounded month join — the MASE cost shape; per-group "
    "percentile_disc is the only sort, over days within a month.",
)
def q_pinball_loss_quantile_backtest(spark, sf_dir):
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date")).alias(
                "m"
            ),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)) AS BIGINT) DIV 100"
            ).alias("y")
        )
    )
    fc = daily.groupBy("m").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)")
        .cast("long")
        .alias("q50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY y)")
        .cast("long")
        .alias("q90"),
    )
    taus = daily.sparkSession.createDataFrame(
        [(t,) for t in _PINBALL_TAUS], "tau10 INT"
    )
    evald = (
        daily.join(
            fc.select(
                F.add_months(F.col("m"), 1).alias("m"),
                "q50",
                "q90",
            ),
            on="m",
        )
        .crossJoin(F.broadcast(taus))
        .select(
            "tau10",
            "y",
            F.when(F.col("tau10") == 5, F.col("q50"))
            .otherwise(F.col("q90"))
            .alias("q"),
        )
    )
    loss = F.expr(
        "CASE WHEN y >= q THEN tau10 * (y - q)"
        " ELSE (10 - tau10) * (q - y) END"
    )
    return (
        evald.groupBy(F.col("tau10").cast("long").alias("tau10"))
        .agg(
            F.count("*").cast("long").alias("n_days_eval"),
            F.sum(loss).cast("long").alias("pinball_deci_total"),
            F.expr(
                "CAST(SUM(CASE WHEN y >= q THEN tau10 * (y - q)"
                " ELSE (10 - tau10) * (q - y) END)"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("pinball_deci_per_day"),
            F.expr(
                "CAST(SUM(CASE WHEN y <= q THEN 1 ELSE 0 END) * 1000000"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .orderBy("tau10")
    )


# ---------------------------------------------------------------------------
# Round 9 fourth wave: Haar multi-scale energy decomposition.
# ---------------------------------------------------------------------------

_HAAR_LEVELS = [1, 2, 3, 4, 5]


def _haar_sql() -> str:
    levels = []
    for lv in _HAAR_LEVELS:
        half, block = 2 ** (lv - 1), 2**lv
        levels.append(f"""
lvl{lv} AS (
    SELECT {lv} AS level,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(d * d) AS BIGINT) AS energy
    FROM (
        SELECT idx // {block} AS b,
               CAST(SUM(y * (1 - 2 * ((idx // {half}) % 2))) AS BIGINT)
                   AS d
        FROM indexed GROUP BY idx // {block}
    )
)""")
    return f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS
                BIGINT)) AS BIGINT) // 100000 AS y
    FROM orders GROUP BY o_orderdate
),
d0 AS (SELECT MIN(day) AS day0 FROM daily),
indexed AS (
    SELECT CAST((day - day0) AS BIGINT) AS idx, y
    FROM daily CROSS JOIN d0
),
{",".join(levels)},
allv AS ({" UNION ALL ".join(f"SELECT * FROM lvl{lv}" for lv in _HAAR_LEVELS)}),
tot AS (SELECT CAST(SUM(energy) AS BIGINT) AS total_energy FROM allv)
SELECT level, n_blocks, energy,
       CAST(energy * 1000000 // GREATEST(total_energy, 1) AS BIGINT)
           AS energy_share_ppm
FROM allv CROSS JOIN tot
ORDER BY level
"""


@register(
    "haar_energy_decomposition",
    _haar_sql(),
    doc="Haar wavelet energy decomposition of daily revenue: for each "
    "dyadic scale 2^l (l = 1..5, i.e. 2-day up to 32-day "
    "structure), the unnormalized detail coefficients are "
    "left-half-minus-right-half block sums — PURE INTEGER "
    "differences of kilodollar day sums, no transcendental "
    "anywhere — and the per-level energy sum says WHICH time scale "
    "carries the variance (white noise spreads energy ~2x per "
    "level; weekly seasonality spikes l=2-3; trend loads the "
    "coarsest level). The multi-resolution complement to "
    "seasonality_strength_decomposition (one fixed period) and "
    "variance_ratio_random_walk (two-point increments): a whole "
    "scale PROFILE, exact to the last bit. Calendar gaps contribute "
    "zero implicitly (absent days are absent from block sums — "
    "deterministic on both engines). Scale: one day-grain reduce, "
    "then five reduces over the ~2.4k-day calendar frame; "
    "kilodollar grain keeps block-sum squares under int64 to "
    "~sf100.",
)
def q_haar_energy_decomposition(spark, sf_dir):
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)) AS BIGINT) DIV 100000"
            ).alias("y")
        )
    )
    d0 = daily.agg(F.min("day").alias("day0"))
    indexed = daily.crossJoin(F.broadcast(d0)).select(
        F.expr("CAST(datediff(day, day0) AS BIGINT)").alias("idx"), "y"
    ).localCheckpoint(eager=False)
    parts = []
    for lv in _HAAR_LEVELS:
        half, block = 2 ** (lv - 1), 2**lv
        blocks = indexed.groupBy(
            F.expr(f"idx DIV {block}").alias("b")
        ).agg(
            F.sum(
                F.expr(f"y * (1 - 2 * ((idx DIV {half}) % 2))")
            )
            .cast("long")
            .alias("d")
        )
        parts.append(
            blocks.agg(
                F.lit(lv).cast("long").alias("level"),
                F.count("*").cast("long").alias("n_blocks"),
                F.sum(F.expr("d * d")).cast("long").alias("energy"),
            )
        )
    allv = parts[0]
    for p_ in parts[1:]:
        allv = allv.unionByName(p_)
    tot = allv.agg(F.sum("energy").cast("long").alias("total_energy"))
    return (
        allv.crossJoin(F.broadcast(tot))
        .select(
            "level",
            "n_blocks",
            "energy",
            F.expr(
                "CAST(energy * 1000000 DIV GREATEST(total_energy, 1)"
                " AS BIGINT)"
            ).alias("energy_share_ppm"),
        )
        .orderBy("level")
    )


# ------------------------- entity resolution: Fellegi-Sunter weights

#: Banding thresholds on the integer product score (4 fields, each a
#: centi-odds in [1, 1e6]; neutral field = 100). A pair scoring like
#: 4 neutral fields has score 1e8; two strongly-agreeing identifier
#: fields push it far above _FS_T_HI, two strong disagreements far
#: below _FS_T_LO.
_FS_T_HI = 10_000_000_000  # >= 100x the all-neutral product
_FS_T_LO = 1_000_000  # <= 1/100 of the all-neutral product

_FS_SQL = """
WITH aug AS (
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
           c_custkey AS nid,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS bal_cents
    FROM customer
    UNION ALL
    SELECT c_custkey + 1000000,
           substr(c_name, 1, length(c_name) - 1) || 'x',
           CASE WHEN c_custkey % 50 = 0
                THEN (c_nationkey + 1) % 25 ELSE c_nationkey END,
           CASE WHEN c_custkey % 30 = 0
                THEN 'CORRUPTED' ELSE c_mktsegment END,
           c_custkey AS nid,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               + CASE WHEN c_custkey % 20 = 0 THEN 100000 ELSE 0 END
    FROM customer WHERE c_custkey % 10 = 0
),
blocked AS (
    SELECT *, substr(c_name, 1, 16) AS blk FROM aug
),
pairs AS (
    SELECT CASE WHEN a.nid = b.nid THEN 1 ELSE 0 END AS is_match,
           CASE WHEN levenshtein(a.c_name, b.c_name) <= 1
                THEN 1 ELSE 0 END AS g_name,
           CASE WHEN a.c_nationkey = b.c_nationkey THEN 1 ELSE 0 END
               AS g_nation,
           CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END
               AS g_segment,
           CASE WHEN (a.bal_cents + 1000000) // 100000
                     = (b.bal_cents + 1000000) // 100000
                THEN 1 ELSE 0 END AS g_balband
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(is_match) AS BIGINT) AS n_match,
           CAST(SUM(1 - is_match) AS BIGINT) AS n_nonmatch,
           CAST(SUM(is_match * g_name) AS BIGINT) AS am_name,
           CAST(SUM((1 - is_match) * g_name) AS BIGINT) AS au_name,
           CAST(SUM(is_match * g_nation) AS BIGINT) AS am_nation,
           CAST(SUM((1 - is_match) * g_nation) AS BIGINT) AS au_nation,
           CAST(SUM(is_match * g_segment) AS BIGINT) AS am_segment,
           CAST(SUM((1 - is_match) * g_segment) AS BIGINT) AS au_segment,
           CAST(SUM(is_match * g_balband) AS BIGINT) AS am_balband,
           CAST(SUM((1 - is_match) * g_balband) AS BIGINT) AS au_balband
    FROM pairs
),
unpvt AS (
    SELECT 'name' AS field, n_pairs, n_match, n_nonmatch,
           am_name AS agree_m, au_name AS agree_u FROM tot
    UNION ALL
    SELECT 'nation', n_pairs, n_match, n_nonmatch,
           am_nation, au_nation FROM tot
    UNION ALL
    SELECT 'segment', n_pairs, n_match, n_nonmatch,
           am_segment, au_segment FROM tot
    UNION ALL
    SELECT 'balband', n_pairs, n_match, n_nonmatch,
           am_balband, au_balband FROM tot
)
SELECT field, n_pairs, n_match AS n_anchor_matches,
       CAST(agree_m * 1000000 // GREATEST(n_match, 1) AS BIGINT)
           AS m_ppm,
       CAST(agree_u * 1000000 // GREATEST(n_nonmatch, 1) AS BIGINT)
           AS u_ppm,
       CAST(GREATEST(LEAST((agree_m * 1000000 // GREATEST(n_match, 1))
                 * 100
             // GREATEST(agree_u * 1000000 // GREATEST(n_nonmatch, 1), 1),
             1000000), 1) AS BIGINT) AS agree_odds_centi,
       CAST(GREATEST(LEAST((1000000
                            - agree_m * 1000000 // GREATEST(n_match, 1))
                  * 100
             // GREATEST(1000000
                         - agree_u * 1000000 // GREATEST(n_nonmatch, 1),
                         1),
             1000000), 1) AS BIGINT) AS disagree_odds_centi
FROM unpvt
"""


def _fs_augmented(spark, sf_dir):
    """Customer set + planted duplicates with controlled field
    corruption — the deterministic ER fixture: copies inherit a synthesized
    stable id (``nid``, the SSN-analogue anchor), perturb the name's last char
    (levenshtein 1, same 16-char block), and corrupt nation /
    segment / balance-band at fixed key-modulus rates so each
    comparison field's m-probability is < 1 by a known amount."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.expr(
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    base = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.col("c_custkey").alias("nid"),
        cents.alias("bal_cents"),
    )
    copies = cust.filter(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.expr(
            "substr(c_name, 1, length(c_name) - 1) || 'x'"
        ).alias("c_name"),
        F.when(
            F.col("c_custkey") % 50 == 0, (F.col("c_nationkey") + 1) % 25
        )
        .otherwise(F.col("c_nationkey"))
        .alias("c_nationkey"),
        F.when(F.col("c_custkey") % 30 == 0, F.lit("CORRUPTED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.col("c_custkey").alias("nid"),
        (
            cents
            + F.when(F.col("c_custkey") % 20 == 0, 100000).otherwise(0)
        ).alias("bal_cents"),
    )
    return base.unionByName(copies)


def _fs_pairs(spark, sf_dir):
    """Blocked candidate pairs with per-field agreement indicators and
    the phone-anchor match label."""
    aug = _fs_augmented(spark, sf_dir).withColumn(
        "blk", F.substring("c_name", 1, 16)
    )
    a = aug.select([F.col(c).alias(f"a_{c}") for c in aug.columns])
    b = aug.select([F.col(c).alias(f"b_{c}") for c in aug.columns])
    band = lambda side: F.expr(
        f"({side}_bal_cents + 1000000) DIV 100000"
    )
    return (
        a.join(b, a["a_blk"] == b["b_blk"])
        .filter(F.col("a_c_custkey") < F.col("b_c_custkey"))
        .select(
            F.col("a_c_custkey").alias("customer_a"),
            F.col("b_c_custkey").alias("customer_b"),
            (F.col("a_nid") == F.col("b_nid"))
            .cast("int")
            .alias("is_match"),
            # bounded levenshtein: -1 above threshold 1, so ">= 0" is
            # the same indicator at ~len/threshold the per-pair cost
            (F.levenshtein("a_c_name", "b_c_name", 1) >= 0)
            .cast("int")
            .alias("g_name"),
            (F.col("a_c_nationkey") == F.col("b_c_nationkey"))
            .cast("int")
            .alias("g_nation"),
            (F.col("a_c_mktsegment") == F.col("b_c_mktsegment"))
            .cast("int")
            .alias("g_segment"),
            (band("a") == band("b")).cast("int").alias("g_balband"),
        )
    )


@register(
    "fellegi_sunter_match_weights",
    _FS_SQL,
    doc="Fellegi-Sunter (1969) record-linkage weights over the "
    "blocked ER candidate pairs (VERDICT r9 directive #5): per "
    "comparison field (name-lev<=1, nation, segment, $1000 "
    "balance band), the m probability P(agree | match) and u "
    "probability P(agree | non-match) as exact ppm, anchored by a "
    "deterministic strong-identifier rule — equality of a synthesized "
    "stable id the copies inherit from their source record (the SSN "
    "analogue); nation/segment/band are corrupted at fixed "
    "key-modulus rates so each m < 1 by a known amount, and the "
    "natural digit-neighbor name pairs supply realistic u_name "
    "noise). The agreement/disagreement weights surface as CAPPED "
    "INTEGER odds ratios (centi grain) rather than log2 weights: "
    "ln/log2 are libm calls banned from oracle-compared values "
    "(odds are floored at 1 centi so a perfect m/u never becomes the "
    "log -inf annihilator) "
    "(house exactness policy), and the per-pair product of odds is "
    "order-isomorphic to the canonical log-weight sum — the "
    "match/possible/non-match banding over that product score is "
    "exercised by the band-monotonicity pytest "
    "(tests/test_fellegi_sunter.py). Blocking keeps the candidate "
    "quadratic inside <=100-row name-prefix blocks, the "
    "customer_name_matches discipline; the weight table itself is a "
    "single fused aggregation over the pair frame.",
)
def q_fellegi_sunter_match_weights(spark, sf_dir):
    pairs = _fs_pairs(spark, sf_dir)
    tot = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("is_match").cast("long").alias("n_match"),
        F.sum(1 - F.col("is_match")).cast("long").alias("n_nonmatch"),
        *[
            x
            for f in ("name", "nation", "segment", "balband")
            for x in (
                F.sum(F.col("is_match") * F.col(f"g_{f}"))
                .cast("long")
                .alias(f"am_{f}"),
                F.sum((1 - F.col("is_match")) * F.col(f"g_{f}"))
                .cast("long")
                .alias(f"au_{f}"),
            )
        ],
    )
    rows = []
    for f in ("name", "nation", "segment", "balband"):
        rows.append(
            tot.select(
                F.lit(f).alias("field"),
                "n_pairs",
                F.col("n_match").alias("n_anchor_matches"),
                F.expr(
                    f"CAST(am_{f} * 1000000 DIV GREATEST(n_match, 1)"
                    " AS BIGINT)"
                ).alias("m_ppm"),
                F.expr(
                    f"CAST(au_{f} * 1000000 DIV GREATEST(n_nonmatch, 1)"
                    " AS BIGINT)"
                ).alias("u_ppm"),
                F.expr(
                    "CAST(GREATEST(LEAST("
                    f"(am_{f} * 1000000 DIV GREATEST(n_match, 1))"
                    f" * 100 DIV GREATEST(au_{f} * 1000000"
                    " DIV GREATEST(n_nonmatch, 1), 1), 1000000), 1)"
                    " AS BIGINT)"
                ).alias("agree_odds_centi"),
                F.expr(
                    f"CAST(GREATEST(LEAST((1000000 - am_{f} * 1000000"
                    " DIV GREATEST(n_match, 1)) * 100"
                    f" DIV GREATEST(1000000 - au_{f} * 1000000"
                    " DIV GREATEST(n_nonmatch, 1), 1), 1000000), 1)"
                    " AS BIGINT)"
                ).alias("disagree_odds_centi"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ----------------- entity resolution capstone: clusters + golden records

#: Per-field odds used for ENTITY-GRAPH EDGES are clamped to
#: [1, 4_000] centi (vs the weight table's display cap of 1e6): five
#: clamped factors bound the pair product score by 4000^5 ~ 1.02e18,
#: inside int64 on BOTH engines at any corpus size. The edge score
#: adds a FIFTH comparison field the weight table doesn't carry: the
#: synthesized contact identifier (``phone`` — copies inherit it,
#: 1 in 7 corrupted; u = 0 exactly), because the four band-grain
#: fields alone measured 38% edge precision at the match band
#: (u_name is 17%: TPC-H digit-neighbor names are levenshtein-1 of
#: each other, and the %20 balance perturbation kills both balance
#: fields at once). The all-neutral product is 100^5 = 1e10; an edge
#: requires >= 100x neutral evidence.
_ER_ODDS_CAP = 4_000
_ER_T_HI = 1_000_000_000_000  # 100x the all-neutral 100^5 product

#: Shared oracle fragments: the ER fixture (aug), blocked candidate
#: pairs WITH record ids, the per-field m/u sufficient statistics, and
#: the one-row clamped-odds table. Mirrors _fs_augmented/_fs_pairs +
#: the fused aggregation of the weights entry, with ids carried
#: through for graph building.
_ER_PAIRS_CTES = """
aug AS (
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
           c_custkey AS nid,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS bal_cents,
           'P-' || CAST(c_custkey AS VARCHAR) AS phone
    FROM customer
    UNION ALL
    SELECT c_custkey + 1000000,
           substr(c_name, 1, length(c_name) - 1) || 'x',
           CASE WHEN c_custkey % 50 = 0
                THEN (c_nationkey + 1) % 25 ELSE c_nationkey END,
           CASE WHEN c_custkey % 30 = 0
                THEN 'CORRUPTED' ELSE c_mktsegment END,
           c_custkey AS nid,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               + CASE WHEN c_custkey % 20 = 0 THEN 100000 ELSE 0 END,
           CASE WHEN c_custkey % 7 = 0
                THEN 'P-' || CAST(c_custkey AS VARCHAR) || 'X'
                ELSE 'P-' || CAST(c_custkey AS VARCHAR) END
    FROM customer WHERE c_custkey % 10 = 0
),
blocked AS (
    SELECT *, substr(c_name, 1, 16) AS blk FROM aug
),
pairs AS (
    SELECT a.c_custkey AS ca, b.c_custkey AS cb,
           CASE WHEN a.nid = b.nid THEN 1 ELSE 0 END AS is_match,
           CASE WHEN levenshtein(a.c_name, b.c_name) <= 1
                THEN 1 ELSE 0 END AS g_name,
           CASE WHEN a.c_nationkey = b.c_nationkey THEN 1 ELSE 0 END
               AS g_nation,
           CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END
               AS g_segment,
           CASE WHEN (a.bal_cents + 1000000) // 100000
                     = (b.bal_cents + 1000000) // 100000
                THEN 1 ELSE 0 END AS g_balband,
           CASE WHEN a.phone = b.phone
                THEN 1 ELSE 0 END AS g_phone
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
),
tot AS (
    SELECT CAST(SUM(is_match) AS BIGINT) AS n_match,
           CAST(SUM(1 - is_match) AS BIGINT) AS n_nonmatch,
           CAST(SUM(is_match * g_name) AS BIGINT) AS am_name,
           CAST(SUM((1 - is_match) * g_name) AS BIGINT) AS au_name,
           CAST(SUM(is_match * g_nation) AS BIGINT) AS am_nation,
           CAST(SUM((1 - is_match) * g_nation) AS BIGINT) AS au_nation,
           CAST(SUM(is_match * g_segment) AS BIGINT) AS am_segment,
           CAST(SUM((1 - is_match) * g_segment) AS BIGINT) AS au_segment,
           CAST(SUM(is_match * g_balband) AS BIGINT) AS am_balband,
           CAST(SUM((1 - is_match) * g_balband) AS BIGINT) AS au_balband,
           CAST(SUM(is_match * g_phone) AS BIGINT) AS am_phone,
           CAST(SUM((1 - is_match) * g_phone) AS BIGINT) AS au_phone
    FROM pairs
)"""


def _er_odds_sql_expr(field: str, agree: bool) -> str:
    """Clamped agree/disagree odds for one field, computed from the
    ``tot`` sufficient statistics — identical character-for-character
    arithmetic on both engines (// spelled DIV on the Spark side)."""
    m = f"(am_{field} * 1000000 // GREATEST(n_match, 1))"
    u = f"(au_{field} * 1000000 // GREATEST(n_nonmatch, 1))"
    if agree:
        raw = f"{m} * 100 // GREATEST({u}, 1)"
    else:
        raw = f"(1000000 - {m}) * 100 // GREATEST(1000000 - {u}, 1)"
    return f"GREATEST(LEAST({raw}, {_ER_ODDS_CAP}), 1)"


_ER_FIELDS = ("name", "nation", "segment", "balband", "phone")

_ER_ODDS_CTE = "odds AS (\n    SELECT " + ",\n           ".join(
    f"{_er_odds_sql_expr(f, True)} AS ao_{f},\n           "
    f"{_er_odds_sql_expr(f, False)} AS do_{f}"
    for f in _ER_FIELDS
) + "\n    FROM tot\n)"

_ER_SCORE_SQL = " * ".join(
    f"(CASE WHEN g_{f} = 1 THEN ao_{f} ELSE do_{f} END)"
    for f in _ER_FIELDS
)

#: edges + recursive transitive closure + per-record entity labels
#: (oracle-side closure; the engine side is the connected-components
#: operator, operators/connected_components.py).
_ER_CLUSTER_CTES = f"""{_ER_PAIRS_CTES},
{_ER_ODDS_CTE},
edges AS (
    SELECT ca, cb FROM pairs CROSS JOIN odds
    WHERE {_ER_SCORE_SQL} >= {_ER_T_HI}
),
sym AS (
    SELECT ca AS u, cb AS v FROM edges
    UNION
    SELECT cb, ca FROM edges
),
walk(node, reach) AS (
    SELECT u, u FROM sym
    UNION
    SELECT w.node, s.v FROM walk w JOIN sym s ON s.u = w.reach
),
comp AS (SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node),
entities AS (
    SELECT r.c_custkey AS customer_id,
           COALESCE(c.cluster_id, r.c_custkey) AS entity_id
    FROM aug r LEFT JOIN comp c ON c.node = r.c_custkey
)"""

_ER_CLUSTERS_SQL = f"""
WITH RECURSIVE {_ER_CLUSTER_CTES},
sizes AS (
    SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM entities GROUP BY entity_id
)
SELECT e.customer_id, e.entity_id, s.cluster_size,
       CAST(CASE WHEN e.customer_id = e.entity_id THEN 1 ELSE 0 END
            AS INTEGER) AS is_canonical
FROM entities e JOIN sizes s ON s.entity_id = e.entity_id
"""


def _er_augmented(spark, sf_dir):
    """The weights entry's fixture (_fs_augmented) extended with a
    synthesized contact identifier — the febrl-style strong field a
    real ER stack has (TPC-H carries no phone/address column):
    ``phone`` is deterministic per source record ('P-' || nid), copies
    inherit it, and 1 in 7 copies (source custkey % 7 == 0) carries a
    corrupted value — so m_phone ~ 0.857, u_phone = 0 exactly (two
    distinct nids never share a phone). Built standalone so the
    long-green fellegi_sunter_match_weights plan stays untouched."""
    phone = F.concat(F.lit("P-"), F.col("c_custkey").cast("string"))
    cust = load_table(spark, sf_dir, "customer")
    cents = F.expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)")
    base = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.col("c_custkey").alias("nid"),
        cents.alias("bal_cents"),
        phone.alias("phone"),
    )
    copies = cust.filter(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.expr("substr(c_name, 1, length(c_name) - 1) || 'x'").alias(
            "c_name"
        ),
        F.when(
            F.col("c_custkey") % 50 == 0, (F.col("c_nationkey") + 1) % 25
        )
        .otherwise(F.col("c_nationkey"))
        .alias("c_nationkey"),
        F.when(F.col("c_custkey") % 30 == 0, F.lit("CORRUPTED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.col("c_custkey").alias("nid"),
        (
            cents
            + F.when(F.col("c_custkey") % 20 == 0, 100000).otherwise(0)
        ).alias("bal_cents"),
        F.when(
            F.col("c_custkey") % 7 == 0, F.concat(phone, F.lit("X"))
        )
        .otherwise(phone)
        .alias("phone"),
    )
    return base.unionByName(copies)


def _er_g_cols():
    """The five symmetric per-field agreement indicators over an
    ``a_*``/``b_*``-prefixed joined pair frame — one spelling shared
    by the batch pair builder and the streaming incremental scorer
    (symmetry means pair orientation cannot change a g value)."""
    band = lambda side: F.expr(f"({side}_bal_cents + 1000000) DIV 100000")
    return [
        # bounded levenshtein: -1 above threshold 1, so ">= 0" is
        # the same indicator at ~len/threshold the per-pair cost
        (F.levenshtein("a_c_name", "b_c_name", 1) >= 0)
        .cast("int")
        .alias("g_name"),
        (F.col("a_c_nationkey") == F.col("b_c_nationkey"))
        .cast("int")
        .alias("g_nation"),
        (F.col("a_c_mktsegment") == F.col("b_c_mktsegment"))
        .cast("int")
        .alias("g_segment"),
        (band("a") == band("b")).cast("int").alias("g_balband"),
        (F.col("a_phone") == F.col("b_phone")).cast("int").alias("g_phone"),
    ]


def _er_pairs(spark, sf_dir):
    """The weights entry's blocked pair frame (_fs_pairs) extended
    with the strong-identifier indicator ``g_phone`` over the
    phone-carrying fixture."""
    aug = _er_augmented(spark, sf_dir).withColumn(
        "blk", F.substring("c_name", 1, 16)
    )
    a = aug.select([F.col(c).alias(f"a_{c}") for c in aug.columns])
    b = aug.select([F.col(c).alias(f"b_{c}") for c in aug.columns])
    return (
        a.join(b, a["a_blk"] == b["b_blk"])
        .filter(F.col("a_c_custkey") < F.col("b_c_custkey"))
        .select(
            F.col("a_c_custkey").alias("customer_a"),
            F.col("b_c_custkey").alias("customer_b"),
            (F.col("a_nid") == F.col("b_nid")).cast("int").alias("is_match"),
            *_er_g_cols(),
        )
    )


def _er_odds_frame(pairs):
    """One-row clamped-odds frame from a scored pair frame — the
    trained Fellegi-Sunter parameters. In the batch entries this is
    derived inline; the streaming entry FREEZES it to parquet at
    index-creation time (a deployed matcher's m/u parameters are
    trained offline, never re-fit per micro-batch)."""
    tot = pairs.agg(
        F.sum("is_match").cast("long").alias("n_match"),
        F.sum(1 - F.col("is_match")).cast("long").alias("n_nonmatch"),
        *[
            x
            for f in _ER_FIELDS
            for x in (
                F.sum(F.col("is_match") * F.col(f"g_{f}"))
                .cast("long")
                .alias(f"am_{f}"),
                F.sum((1 - F.col("is_match")) * F.col(f"g_{f}"))
                .cast("long")
                .alias(f"au_{f}"),
            )
        ],
    )
    return tot.select(
        *[
            F.expr(
                _er_odds_sql_expr(f, agree).replace("//", "DIV")
            ).alias(("ao_" if agree else "do_") + f)
            for f in _ER_FIELDS
            for agree in (True, False)
        ]
    )


def _er_edges(spark, sf_dir):
    """Match-band edges of the ER graph: blocked candidate pairs whose
    per-field clamped-odds product clears _ER_T_HI. The odds row is a
    one-row broadcast derived from the same fused aggregation the
    weights entry runs."""
    pairs = _er_pairs(spark, sf_dir).localCheckpoint(eager=False)
    return (
        pairs.crossJoin(F.broadcast(_er_odds_frame(pairs)))
        .filter(F.expr(_ER_SCORE_SQL) >= F.lit(_ER_T_HI))
        .select(
            F.col("customer_a").alias("ca"), F.col("customer_b").alias("cb")
        )
    )


def _er_entities_from(records, edges):
    """Every record labeled with its entity id (min member id of the
    match-band component; singletons label themselves) — shared by the
    batch entries and the streaming serve finish."""
    from ecom_churn_lakehouse_spark.operators.connected_components import (
        connected_components,
    )

    lab = connected_components(edges, src="ca", dst="cb")
    return records.join(
        lab.withColumnRenamed("node", "c_custkey"), on="c_custkey", how="left"
    ).withColumn(
        "entity_id", F.coalesce(F.col("label"), F.col("c_custkey"))
    )


def _er_entities(spark, sf_dir):
    records = _er_augmented(spark, sf_dir).localCheckpoint(eager=False)
    return _er_entities_from(records, _er_edges(spark, sf_dir))


@register(
    "er_entity_clusters",
    _ER_CLUSTERS_SQL,
    doc="Entity-resolution capstone, stage 1 (VERDICT r10 directive "
    "#4): Fellegi-Sunter pair scores thresholded at the match band "
    "and resolved into ENTITIES by connected components "
    "(operators/connected_components.py — driver union-find over a "
    "broadcast-small edge list, star contraction past it; the oracle "
    "closes the same edge set with a recursive CTE). The per-pair "
    "score is the product of per-field agree/disagree odds "
    "CLAMPED to [1, 4000] centi over "
    "FIVE fields — the weight table's four plus the synthesized "
    "contact identifier (u = 0 exactly, 1-in-7 copy corruption), "
    "without which the match band measured 38% edge precision "
    "(TPC-H digit-neighbor names make u_name 17%) — so the product "
    "is bounded by "
    "4000^5 ~ 1.02e18, int64-safe on both engines at any SF (the "
    "weight table's own display cap of 1e6 would overflow at 1e30). "
    "An edge requires >= 100x the all-neutral product (1e12 vs "
    "100^5). Every fixture "
    "record gets an entity id (min member id; singletons label "
    "themselves), plus cluster size and the canonical-record flag. "
    "Scale: candidate pairs stay inside <=100-row name-prefix "
    "blocks, so the match-band edge list stays small; the "
    "union-find pytest "
    "(tests/test_er_capstone.py) recomputes the labeling exactly.",
)
def q_er_entity_clusters(spark, sf_dir):
    ents = _er_entities(spark, sf_dir).select(
        F.col("c_custkey").alias("customer_id"), "entity_id"
    )
    sizes = ents.groupBy("entity_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return ents.join(sizes, on="entity_id").select(
        "customer_id",
        "entity_id",
        "cluster_size",
        (F.col("customer_id") == F.col("entity_id"))
        .cast("int")
        .alias("is_canonical"),
    )


_ER_GOLDEN_SQL = f"""
WITH RECURSIVE {_ER_CLUSTER_CTES},
ranked AS (
    SELECT e.entity_id, r.c_custkey, r.c_name, r.c_nationkey,
           r.c_mktsegment, r.bal_cents,
           ROW_NUMBER() OVER (
               PARTITION BY e.entity_id
               ORDER BY r.bal_cents DESC, r.c_custkey
           ) AS rk
    FROM entities e JOIN aug r ON r.c_custkey = e.customer_id
),
stats AS (
    SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(bal_cents) AS BIGINT) AS max_bal_cents
    FROM ranked GROUP BY entity_id
)
SELECT s.entity_id, s.n_members,
       r.c_custkey AS canonical_customer_id,
       r.c_name AS canonical_name,
       r.c_nationkey AS canonical_nationkey,
       r.c_mktsegment AS canonical_segment,
       s.max_bal_cents
FROM stats s JOIN ranked r ON r.entity_id = s.entity_id AND r.rk = 1
"""


@register(
    "er_golden_records",
    _ER_GOLDEN_SQL,
    doc="Entity-resolution capstone, stage 2 (VERDICT r10 directive "
    "#4): SURVIVORSHIP — one golden record per entity cluster, "
    "chosen by the reference's W1 dedup discipline at entity grain "
    "(deterministic ordered tie-break, cf. "
    "/root/reference/src/transformations/orders_bronze_to_silver.py:"
    "79-90): the highest-balance member wins (the 'highest-weight / "
    "most complete' survivorship rule), record id breaks ties, and "
    "the entity also carries its member count and max balance so "
    "downstream joins never re-derive them. Scale: the survivor "
    "window is partitioned BY ENTITY (never global), and entities "
    "are block-bounded, so survivorship is one partitioned "
    "row_number over the labeled records.",
)
def q_er_golden_records(spark, sf_dir):
    return _er_golden_from_entities(_er_entities(spark, sf_dir))


def _er_golden_from_entities(ents):
    """Survivorship finish (W1 discipline at entity grain) — the SAME
    code path serves the batch entry and the streaming maintenance's
    serve-time read, so stream-vs-batch parity is structural."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("entity_id").orderBy(
        F.col("bal_cents").desc(), F.col("c_custkey")
    )
    ranked = ents.withColumn("rk", F.row_number().over(w))
    stats = ents.groupBy("entity_id").agg(
        F.count("*").cast("long").alias("n_members"),
        F.max("bal_cents").cast("long").alias("max_bal_cents"),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .join(stats, on="entity_id")
        .select(
            "entity_id",
            "n_members",
            F.col("c_custkey").alias("canonical_customer_id"),
            F.col("c_name").alias("canonical_name"),
            F.col("c_nationkey").alias("canonical_nationkey"),
            F.col("c_mktsegment").alias("canonical_segment"),
            "max_bal_cents",
        )
    )


# ------------- streaming ER maintenance (VERDICT r11 directive #5)


def _er_stream_apply_batch(spark, base, batch_df, batch_id):
    """One foreachBatch step of incremental entity resolution: upsert
    the batch's records into the record store, then block + score the
    batch against the ACCUMULATED records with the FROZEN odds — the
    later-arriving member of each pair discovers it exactly once
    (new-old and new-new, never old-old; the stream_semdedup pattern
    with name-prefix blocks instead of LSH buckets). Every write is a
    batch_id-keyed partial through ``write_once``, so a crash
    mid-write is repaired by the redelivered batch instead of silently
    dropped."""
    write_once(batch_df, f"{base}/recs/batch_id={batch_id}")
    odds = spark.read.parquet(f"{base}/odds")
    blk = F.substring("c_name", 1, 16)
    new = batch_df.withColumn("blk", blk)
    acc = (
        spark.read.parquet(f"{base}/recs")
        .drop("batch_id")
        .withColumn("blk", blk)
    )
    a = new.select([F.col(c).alias(f"a_{c}") for c in new.columns])
    b = acc.select([F.col(c).alias(f"b_{c}") for c in acc.columns])
    cand = (
        a.join(b, a["a_blk"] == b["b_blk"])
        .filter(F.col("a_c_custkey") != F.col("b_c_custkey"))
        .select(
            F.least("a_c_custkey", "b_c_custkey").alias("ca"),
            F.greatest("a_c_custkey", "b_c_custkey").alias("cb"),
            *_er_g_cols(),
        )
        .distinct()
    )
    edges = (
        cand.crossJoin(F.broadcast(odds))
        .filter(F.expr(_ER_SCORE_SQL) >= F.lit(_ER_T_HI))
        .select("ca", "cb")
    )
    write_once(edges, f"{base}/edges/batch_id={batch_id}")


def _er_serve_golden(spark, base):
    """Serve-time finish over the maintained stores: components +
    survivorship through the SAME code path as the batch entries
    (_er_entities_from + _er_golden_from_entities) — clustering is
    rank/graph-dependent (a new record can bridge two entities), so
    it runs on the accumulated edge relation at serve time, exactly
    like the SemDeDup keeper election."""
    records = (
        spark.read.parquet(f"{base}/recs")
        .drop("batch_id")
        .localCheckpoint(eager=False)
    )
    edges = (
        spark.read.parquet(f"{base}/edges").drop("batch_id").select("ca", "cb")
    )
    return _er_golden_from_entities(_er_entities_from(records, edges))


@register(
    "stream_er_maintenance",
    _ER_GOLDEN_SQL,
    doc="Incremental entity resolution (VERDICT r11 directive #5): "
    "records arrive in three deterministic waves (c_custkey % 3 — the "
    "+1000000 key offset puts each source record's duplicate copy in "
    "a DIFFERENT wave than its original, so cross-batch merges "
    "genuinely happen), each foreachBatch blocks the batch against "
    "the accumulated record store on the name-prefix key and scores "
    "candidates with the FROZEN Fellegi-Sunter odds (trained offline "
    "on the full corpus at index-creation time and written to the "
    "config store — per-batch re-fitting would shift the match band "
    "mid-stream, the stream_ann_index_maintenance frozen-config "
    "discipline). Pair discovery is monotone (blocked candidates "
    "never un-collide), so the later endpoint discovers each pair "
    "exactly once; batch-id-keyed partials with _SUCCESS-gated "
    "replay skips make every write idempotent (the reference's keyed "
    "MERGE publish discipline, orders_bronze_to_silver.py:184-195, "
    "in streaming form). The rank-dependent finish (components + "
    "survivorship) runs at serve time through the batch entries' own "
    "code path, so the oracle is the batch golden-record SQL "
    "VERBATIM: convergence must be bit-equal regardless of batch "
    "boundaries. Scale: per-batch work is |batch| x block occupancy "
    "(blocks are <= ~100-row name-prefix groups), the edge store "
    "grows like the match relation (~O(N)), and the serve finish is "
    "the batch finish.",
)
def q_stream_er_maintenance(spark, sf_dir):
    from ecom_churn_lakehouse_spark.scratch import scratch_dir

    base = scratch_dir(prefix="stream_er_")
    aug = _er_augmented(spark, sf_dir)
    # frozen config: train the FS odds offline on the full corpus and
    # publish them to the index config store before any batch runs
    pairs = _er_pairs(spark, sf_dir).localCheckpoint(eager=False)
    _er_odds_frame(pairs).write.mode("overwrite").parquet(f"{base}/odds")
    # three arrival waves; originals and their copies land in
    # different waves (see doc)
    replay(
        aug,
        [F.col("c_custkey") % 3 == m for m in (0, 1, 2)],
        lambda bdf, bid: _er_stream_apply_batch(spark, base, bdf, bid),
        base,
    )
    return _er_serve_golden(spark, base)


# --------------- unsupervised Fellegi-Sunter: EM-estimated m/u (Splink)

#: EM runs on the FOUR weight-table comparison fields (the contact
#: identifier stays out: EM's point is re-estimating the SAME m/u the
#: anchor-labeled entry measures, unsupervised).
_EM_FIELDS = ("name", "nation", "segment", "balband")
_EM_ITERS = 3
_EM_P0 = 100_000  # ppm prior: 10% of blocked pairs assumed matches
_EM_M0 = 900_000  # ppm init for every m (the Splink default shape)
#: Joint scale-down divisor: before any x * 1e6 // y ratio, both x and
#: y are floor-divided by D = y // 2^43 + 1, so the multiplicand stays
#: under 2^43 and x * 1e6 < 2^63. The SAME D on both terms keeps the
#: ratio deterministic and engine-identical (floor ops only); the
#: relative error is < 2^-42 — far below the ppm grain. Budget: exact
#: while Sum(n * w) < 2^63, i.e. up to ~9.2e12 blocked pairs.
_EM_D = 8_796_093_022_208  # 2**43


def _em_clamp(x: str) -> str:
    # probabilities live in [1000, 999000] ppm (Splink-style clamp):
    # no likelihood term ever hits the 0/1 annihilator, and the
    # per-mille likelihood grain below stays in [1, 999]
    return f"CAST(GREATEST(LEAST({x}, 999000), 1000) AS BIGINT)"


def _em_lik_expr(div: str, prefix: str) -> str:
    """p * prod_f t_f at per-mille likelihood grain: t_f in [1, 999],
    so the 5-factor product is < 1e6 * 999^4 ~ 1e18 (int64-safe)."""
    terms = " * ".join(
        f"((CASE WHEN g_{f} = 1 THEN {prefix}_{f}"
        f" ELSE 1000000 - {prefix}_{f} END) {div} 1000)"
        for f in _EM_FIELDS
    )
    lead = "p" if prefix == "m" else "(1000000 - p)"
    return f"{lead} * {terms}"


def _em_w_expr(div: str) -> str:
    """Responsibility w = num * 1e6 // (num + den) in ppm via the
    joint-scale-down trick (columns num, den)."""
    dd = f"((num + den) {div} {_EM_D} + 1)"
    return (
        f"(num {div} {dd}) * 1000000"
        f" {div} GREATEST((num + den) {div} {dd}, 1)"
    )


def _em_init_exprs(div: str) -> list[tuple[str, str]]:
    out = [("p", f"CAST({_EM_P0} AS BIGINT)")]
    for f in _EM_FIELDS:
        out.append((f"m_{f}", f"CAST({_EM_M0} AS BIGINT)"))
    for f in _EM_FIELDS:
        # u init = the field's overall agreement share (the standard
        # "random pairs look like non-matches" initializer)
        out.append(
            (
                f"u_{f}",
                _em_clamp(
                    f"CAST(SUM(n * g_{f}) AS BIGINT) * 1000000"
                    f" {div} GREATEST(CAST(SUM(n) AS BIGINT), 1)"
                ),
            )
        )
    return out


def _em_mstep_exprs(div: str) -> list[tuple[str, str]]:
    sw = "CAST(SUM(n * w) AS BIGINT)"
    sn = "CAST(SUM(n) AS BIGINT)"
    su = "CAST(SUM(n * (1000000 - w)) AS BIGINT)"
    d2 = f"({sw} {div} {_EM_D} + 1)"
    d3 = f"({su} {div} {_EM_D} + 1)"
    # w is already ppm, so the mean responsibility Sum(n*w)/Sum(n) IS
    # the new prior in ppm
    out = [("p", _em_clamp(f"{sw} {div} GREATEST({sn}, 1)"))]
    for f in _EM_FIELDS:
        num_m = f"CAST(SUM(n * w * g_{f}) AS BIGINT)"
        out.append(
            (
                f"m_{f}",
                _em_clamp(
                    f"({num_m} {div} {d2}) * 1000000"
                    f" {div} GREATEST({sw} {div} {d2}, 1)"
                ),
            )
        )
    for f in _EM_FIELDS:
        num_u = f"CAST(SUM(n * (1000000 - w) * g_{f}) AS BIGINT)"
        out.append(
            (
                f"u_{f}",
                _em_clamp(
                    f"({num_u} {div} {d3}) * 1000000"
                    f" {div} GREATEST({su} {div} {d3}, 1)"
                ),
            )
        )
    return out


def _em_sql() -> str:
    div = "//"
    pat = (
        "pat AS (\n"
        "    SELECT g_name, g_nation, g_segment, g_balband,\n"
        "           CAST(COUNT(*) AS BIGINT) AS n\n"
        "    FROM pairs GROUP BY 1, 2, 3, 4\n"
        ")"
    )
    init_cols = ",\n           ".join(
        f"{e} AS {a}" for a, e in _em_init_exprs(div)
    )
    ctes = [pat, f"params0 AS (\n    SELECT {init_cols}\n    FROM pat\n)"]
    for i in range(1, _EM_ITERS + 1):
        ctes.append(
            f"e{i} AS (\n"
            "    SELECT g_name, g_nation, g_segment, g_balband, n,\n"
            f"           {_em_w_expr(div)} AS w\n"
            "    FROM (\n"
            "        SELECT pat.*,\n"
            f"               {_em_lik_expr(div, 'm')} AS num,\n"
            f"               {_em_lik_expr(div, 'u')} AS den\n"
            f"        FROM pat CROSS JOIN params{i - 1}\n"
            "    ) raw\n"
            ")"
        )
        m_cols = ",\n           ".join(
            f"{e} AS {a}" for a, e in _em_mstep_exprs(div)
        )
        ctes.append(f"params{i} AS (\n    SELECT {m_cols}\n    FROM e{i}\n)")
    final = "\nUNION ALL\n".join(
        f"SELECT '{f}' AS field, m_{f} AS m_ppm, u_{f} AS u_ppm,"
        f" p AS p_ppm FROM params{_EM_ITERS}"
        for f in _EM_FIELDS
    )
    return (
        f"WITH {_ER_PAIRS_CTES},\n" + ",\n".join(ctes) + "\n" + final
    )


@register(
    "fellegi_sunter_em_params",
    _em_sql(),
    doc="UNSUPERVISED Fellegi-Sunter parameter estimation by "
    "expectation-maximization (VERDICT r10 directive #5, the "
    "Splink-style production path): no anchor labels — m/u per "
    "comparison field and the match prior p are estimated by "
    f"{_EM_ITERS} fixed EM iterations over the 16-row AGREEMENT-"
    "PATTERN table (conditional independence: the E-step "
    "responsibility of a pattern is p*prod(m-terms) / [that + "
    "(1-p)*prod(u-terms)], the M-step re-weights field agreement by "
    "responsibility mass). All arithmetic is exact integer: "
    "probabilities in ppm clamped to [1000, 999000] (no 0/1 "
    "annihilators), likelihood factors at per-mille grain so the "
    "5-factor product stays under 1e18, and every x*1e6//y ratio "
    "first scales BOTH operands by the same D = y//2^43+1 (joint "
    "floor-scale-down: deterministic, engine-identical, relative "
    "error < 2^-42; exact to ~9.2e12 blocked pairs). The sufficient "
    "statistics are ONE shuffle (pattern counts over the blocked "
    "pair frame); the EM loop itself runs on 16 rows x a one-row "
    "broadcast parameter frame — constant work at any corpus size. "
    "tests/test_fellegi_sunter_em.py recomputes the integer EM in "
    "pure Python (must match bit-for-bit) and checks the quantized "
    "trajectory against a float EM reference.",
)
def q_fellegi_sunter_em_params(spark, sf_dir):
    div = "DIV"
    pat = (
        _er_pairs(spark, sf_dir)
        .groupBy("g_name", "g_nation", "g_segment", "g_balband")
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    params = pat.agg(
        *[F.expr(e).alias(a) for a, e in _em_init_exprs(div)]
    )
    for _ in range(_EM_ITERS):
        e = (
            pat.crossJoin(F.broadcast(params))
            .withColumn("num", F.expr(_em_lik_expr(div, "m")))
            .withColumn("den", F.expr(_em_lik_expr(div, "u")))
            .withColumn("w", F.expr(_em_w_expr(div)))
        )
        params = e.agg(
            *[F.expr(x).alias(a) for a, x in _em_mstep_exprs(div)]
        )
    rows = []
    for f in _EM_FIELDS:
        rows.append(
            params.select(
                F.lit(f).alias("field"),
                F.col(f"m_{f}").alias("m_ppm"),
                F.col(f"u_{f}").alias("u_ppm"),
                F.col("p").alias("p_ppm"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
