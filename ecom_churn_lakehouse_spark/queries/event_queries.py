"""Event-stream batch queries (SURVEY.md §2.9 extension surface + JSON).

The reference has no streaming and no JSON expressions (JSON handled
driver-side, SURVEY §2.3); these entries add the event-time surface a
lakehouse engine needs: as-of joins, JSON extraction, tumbling/sliding
event-time windows, and gap sessionization — each with an exact DuckDB
oracle (DuckDB has native ASOF JOIN, which checks our union+window
composition against an independent implementation).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecom_churn_lakehouse_spark.operators import asof_join, interval_join, sessionize
from ecom_churn_lakehouse_spark.registry import register
from ecom_churn_lakehouse_spark.sources.tables import load_events
from ecom_churn_lakehouse_spark.streaming.replay import ranges, replay, write_once

# --- as-of join: purchase → latest prior click per user ---

_ASOF_SQL = """
SELECT p.event_id AS purchase_id,
       p.user_id AS user_id,
       p.ts AS purchase_ts,
       c.ts AS last_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND c.ts <= p.ts
"""


@register(
    "asof_purchase_click",
    _ASOF_SQL,
    doc="As-of join (backward-inclusive) via union+window composition — "
    "one linear shuffle, no range-join explosion (operators/asof.py). "
    "Oracle: DuckDB native ASOF JOIN.",
)
def q_asof_purchase_click(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="purchase_ts",
        right_ts="ts",
        payload={"ts": "last_click_ts"},
    ).select("purchase_id", "user_id", "purchase_ts", "last_click_ts")


# --- range (interval) join: clicks in the hour before each purchase ---

_RANGE_SQL = """
WITH p AS (
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
    FROM events WHERE event_type = 'purchase'
),
c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click')
SELECT p.purchase_id, p.user_id, p.purchase_ts,
       CAST(COUNT(c.click_ts) AS BIGINT) AS n_clicks_prev_hour
FROM p LEFT JOIN c
  ON c.user_id = p.user_id
 AND c.click_ts > p.purchase_ts - INTERVAL 1 HOUR
 AND c.click_ts <= p.purchase_ts
GROUP BY 1, 2, 3
"""


@register(
    "clicks_before_purchase",
    _RANGE_SQL,
    doc="Range/interval join via time binning — bucket-local equi-join "
    "instead of a per-key cross product (operators/range_join.py; "
    "SURVEY §2.6 absent-list extension).",
)
def q_clicks_before_purchase(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    matched = interval_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="purchase_ts",
        right_ts="click_ts",
        lower_s=-3600,
        upper_s=0,
    )
    counts = matched.groupBy("purchase_id").agg(
        F.count("*").alias("__n")
    )
    return (
        purchases.join(counts, on="purchase_id", how="left")
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias(
                "n_clicks_prev_hour"
            ),
        )
    )


# --- JSON extraction + aggregation ---

_JSON_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
           AS sum_k,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
FROM events
GROUP BY event_type
"""


@register(
    "event_json_kpi",
    _JSON_SQL,
    doc="JSON path extraction (get_json_object) + grouped KPIs — engine "
    "extension over events.props (SURVEY §2.3 note: reference has no "
    "JSON expressions).",
)
def q_event_json_kpi(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        (F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("*")).alias(
            "avg_value"
        ),
    )


# --- tumbling event-time window (batch form of the streaming agg) ---

_TUMBLING_SQL = """
SELECT date_trunc('day', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@register(
    "event_tumbling_daily",
    _TUMBLING_SQL,
    doc="Tumbling 1-day event-time window aggregate (F.window) — batch "
    "twin of streaming/events_stream.py; watermarked streaming form "
    "has no oracle (§2.9).",
)
def q_event_tumbling_daily(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --- sliding event-time window ---

_SLIDING_SQL = """
WITH assigned AS (
    SELECT date_trunc('hour', ts) AS window_start, value FROM events
    UNION ALL
    SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, value
    FROM events
)
SELECT window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM assigned
GROUP BY window_start
"""


@register(
    "event_sliding_2h",
    _SLIDING_SQL,
    doc="Sliding window (2h width, 1h slide) via F.window — each event "
    "lands in 2 buckets; oracle expands the assignment explicitly.",
)
def q_event_sliding_2h(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


# --- gap sessionization (batch) ---

_SESSION_SQL = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts,
           CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS INTEGER) AS session_id
    FROM flagged
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end
FROM sessions
GROUP BY user_id, session_id
"""


@register(
    "event_sessions",
    _SESSION_SQL,
    doc="Gap-based sessionization (30 min) — batch twin of streaming "
    "session_window (operators/sessionize.py).",
)
def q_event_sessions(spark, sf_dir):
    ev = sessionize(load_events(spark, sf_dir), gap_minutes=30)
    return ev.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# --- lag/lead analytics over event time (W3 generalization) ---

_INTEREVENT_SQL = """
SELECT event_type,
       COUNT(*) AS n_gaps,
       CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM (
    SELECT event_type,
           epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
           )) AS gap_us
    FROM events
)
WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


@register(
    "interevent_gaps",
    _INTEREVENT_SQL,
    doc="W3 lag analytics generalized to event time: per-user inter-event "
    "gaps aggregated by type (customer_features_daily.py:150-170 pattern).",
)
def q_interevent_gaps(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        ev.withColumn("gap_us", gap)
        .filter(F.col("gap_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_gaps"),
            F.sum("gap_us").cast("long").alias("total_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
        )
    )


# ------------------------------------- sliding-window distinct count

_ROLLING_DISTINCT_SQL = """
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
SELECT d.day,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users_7d
FROM days d
JOIN events e
  ON CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
GROUP BY d.day
"""


@register(
    "rolling_7d_active_users",
    _ROLLING_DISTINCT_SQL,
    doc="Rolling 7-day distinct active users per day — the sliding "
    "COUNT(DISTINCT) no window frame can express (distinct is not "
    "decomposable over frames). Scale path: dedup to (user, day) "
    "pairs FIRST (one shuffle, map-side partial), then each pair "
    "fans out row-locally to the <=7 window-end days it serves, and "
    "one distinct-count per day finishes the job — work is "
    "O(active-pairs x 7), never O(days x events) like the oracle's "
    "range join.",
)
def q_rolling_7d_active_users(spark, sf_dir):
    ev = load_events(spark, sf_dir).select(
        F.to_date("ts").alias("day"), "user_id"
    )
    pairs = ev.distinct()
    # Each (user, day) pair contributes to window-ends day..day+6;
    # keep only window-ends that are real event days (the oracle's
    # `days` spine) by semi-joining the fan-out against observed days.
    days = pairs.select("day").distinct()
    fanned = pairs.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("window_end"),
    )
    return (
        fanned.join(
            days.select(F.col("day").alias("window_end")), on="window_end", how="left_semi"
        )
        .groupBy(F.col("window_end").alias("day"))
        .agg(F.count_distinct("user_id").cast("long").alias("active_users_7d"))
    )


# --- forward as-of join with tolerance: next purchase after each click ---

_FWD_ASOF_SQL = """
SELECT c.event_id AS click_id,
       c.user_id AS user_id,
       c.ts AS click_ts,
       (SELECT MIN(p.ts) FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts >= c.ts
          AND p.ts <= c.ts + INTERVAL 7 DAY) AS next_purchase_ts
FROM events c
WHERE c.event_type = 'click'
"""


@register(
    "next_purchase_after_click",
    _FWD_ASOF_SQL,
    doc="FORWARD as-of join with a 7-day tolerance: for each click, the "
    "earliest same-user purchase at-or-after it, discarded when farther "
    "than 7 days (click-to-conversion latency surface). Same union+"
    "window plan as the backward as-of — time traversed descending, "
    "tolerance enforced as a post-filter on the carried match "
    "timestamp, still ONE linear shuffle (operators/asof.py). Oracle: "
    "correlated MIN subquery, which DuckDB decorrelates itself.",
)
def q_next_purchase_after_click(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    return asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="click_ts",
        right_ts="ts",
        payload={"ts": "next_purchase_ts"},
        direction="forward",
        tolerance_seconds=7 * 24 * 3600,
    ).select("click_id", "user_id", "click_ts", "next_purchase_ts")


# --- typed JSON parsing: from_json to a struct column ---

_JSON_STRUCT_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER)
           AS min_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER)
           AS max_k,
       CAST(COUNT(*) - COUNT(CAST(json_extract(props, '$.k') AS INTEGER))
            AS BIGINT) AS n_missing_k
FROM events
GROUP BY event_type
"""


@register(
    "event_props_struct",
    _JSON_STRUCT_SQL,
    doc="Typed JSON parsing: from_json compiles the props column to a "
    "STRUCT against a declared schema (vs event_json_kpi's per-path "
    "get_json_object) — the parse happens ONCE per row regardless of "
    "how many fields downstream expressions touch, and malformed "
    "documents surface as nulls that the n_missing_k audit counts. "
    "At 100 TB the single-parse struct form beats per-path "
    "re-parsing linearly in the number of extracted fields.",
)
def q_event_props_struct(spark, sf_dir):
    from pyspark.sql.types import IntegerType, StructField, StructType

    ev = load_events(spark, sf_dir)
    schema = StructType([StructField("k", IntegerType())])
    parsed = ev.withColumn("__p", F.from_json("props", schema))
    k = F.col("__p").getField("k")
    return parsed.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min(k).cast("int").alias("min_k"),
        F.max(k).cast("int").alias("max_k"),
        (F.count("*") - F.count(k)).cast("long").alias("n_missing_k"),
    )


# --- forward + tolerance as-of: next purchase within 72h of each click ---

_ASOF_FWD_SQL = """
WITH c AS (
    SELECT event_id AS click_id, user_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
),
p AS (
    SELECT event_id, user_id, ts AS purchase_ts, value
    FROM events WHERE event_type = 'purchase'
),
best AS (
    SELECT c.click_id, c.user_id, c.click_ts,
           min({'ts': p.purchase_ts, 'eid': p.event_id, 'v': p.value})
               AS m
    FROM c LEFT JOIN p
      ON p.user_id = c.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 72 HOUR
    GROUP BY 1, 2, 3
)
SELECT click_id, user_id, click_ts,
       m.ts AS next_purchase_ts,
       ROUND(m.v, 6) AS next_purchase_value
FROM best
"""


@register(
    "asof_forward_tolerance",
    _ASOF_FWD_SQL,
    doc="FORWARD as-of join with a 72-hour tolerance: for each click, "
    "the EARLIEST subsequent purchase by the same user, but only if "
    "it lands within the window (beyond-tolerance matches null out) "
    "— the attribution-with-expiry shape, and the other half of the "
    "as-of operator's parameter space next to the backward default "
    "(operators/asof.py: same single union+window shuffle, direction "
    "flips the frame, tolerance is a post-filter on the carried "
    "match timestamp — never a second join). Ties on the purchase "
    "timestamp break on event_id (right_order). Oracle: bounded "
    "theta-join + struct-min argmin.",
)
def q_asof_forward_tolerance(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="click_ts",
        right_ts="ts",
        payload={"ts": "next_purchase_ts", "value": "__v"},
        right_order=["event_id"],
        direction="forward",
        tolerance_seconds=72 * 3600,
    )
    return joined.select(
        "click_id",
        "user_id",
        "click_ts",
        "next_purchase_ts",
        F.round(F.col("__v"), 6).alias("next_purchase_value"),
    )


# --- peak session concurrency per day: sweep-line, no interval self-join ---

_PEAK_CONCURRENCY_SQL = """
WITH marked AS (
    SELECT user_id, ts,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL 30 MINUTE
                     OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end
    FROM (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM marked
    )
    GROUP BY user_id, session_id
),
markers AS (
    SELECT CAST(session_start AS DATE) AS day, session_start AS t,
           1 AS delta
    FROM sessions
    UNION ALL
    SELECT CAST(session_start AS DATE) AS day, session_end AS t,
           -1 AS delta
    FROM sessions
),
swept AS (
    SELECT day,
           SUM(delta) OVER (
               PARTITION BY day ORDER BY t, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS open_now
    FROM markers
)
SELECT day,
       CAST(MAX(open_now) AS BIGINT) AS peak_concurrent_sessions
FROM swept
GROUP BY day
"""


@register(
    "session_peak_concurrency",
    _PEAK_CONCURRENCY_SQL,
    doc="Peak concurrent sessions per day via SWEEP-LINE: sessionize "
    "(gaps-and-islands, 30-minute gap, end = last event + gap), emit "
    "+1/-1 markers at each session's start/end attributed to its "
    "start day, running-sum within the day, take the max. The scale "
    "story is the operator CHOICE: concurrency via interval "
    "self-join is O(sessions x overlapping sessions); the sweep-line "
    "is linear with one per-day-partitioned ordered window — no "
    "single global sort, no pair blowup. Ends sort before starts at "
    "the same instant (ORDER BY t, delta), so back-to-back sessions "
    "never count as concurrent.",
)
def q_session_peak_concurrency(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    w_user = Window.partitionBy("user_id").orderBy("ts")
    marked = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w_user).isNull()
            | (
                # µs precision to match the exact-INTERVAL oracle comparison
                # and operators/sessionize.py (a seconds-cast truncates
                # sub-second gaps near the 1800 s boundary).
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w_user))
                > 1800 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w_cum = w_user.rowsBetween(Window.unboundedPreceding, 0)
    sessions = (
        marked.withColumn("session_id", F.sum("new_session").over(w_cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
        )
    )
    markers = sessions.select(
        F.col("session_start").cast("date").alias("day"),
        F.col("session_start").alias("t"),
        F.lit(1).alias("delta"),
    ).unionByName(
        sessions.select(
            F.col("session_start").cast("date").alias("day"),
            F.col("session_end").alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    w_sweep = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = markers.withColumn("open_now", F.sum("delta").over(w_sweep))
    return swept.groupBy("day").agg(
        F.max("open_now").cast("long").alias("peak_concurrent_sessions")
    )


# --- time-constrained funnel: view -> click -> purchase, 24h per step ---

_TIMED_FUNNEL_SQL = """
WITH v AS (
    SELECT event_id AS view_id, user_id, ts AS view_ts
    FROM events WHERE event_type = 'view'
),
c AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
),
p AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
step1 AS (
    SELECT v.view_id, v.user_id, v.view_ts,
           (min({'ts': c.ts, 'eid': c.event_id})).ts AS click_ts
    FROM v LEFT JOIN c
      ON c.user_id = v.user_id
     AND c.ts >= v.view_ts
     AND c.ts <= v.view_ts + INTERVAL 24 HOUR
    GROUP BY 1, 2, 3
),
step2 AS (
    SELECT s.view_id, s.click_ts,
           (min({'ts': p.ts, 'eid': p.event_id})).ts AS purchase_ts
    FROM step1 s LEFT JOIN p
      ON s.click_ts IS NOT NULL
     AND p.user_id = s.user_id
     AND p.ts >= s.click_ts
     AND p.ts <= s.click_ts + INTERVAL 24 HOUR
    GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(COUNT(click_ts) AS BIGINT) AS n_clicked_24h,
       CAST(COUNT(purchase_ts) AS BIGINT) AS n_purchased_24h,
       ROUND(COUNT(click_ts) / CAST(COUNT(*) AS DOUBLE), 6)
           AS view_to_click_rate,
       ROUND(COUNT(purchase_ts)
             / CAST(greatest(COUNT(click_ts), 1) AS DOUBLE), 6)
           AS click_to_purchase_rate
FROM step2
"""


@register(
    "timed_conversion_funnel",
    _TIMED_FUNNEL_SQL,
    doc="Time-CONSTRAINED funnel (view -> click -> purchase, each step "
    "within 24 hours of the previous) — sequential pattern matching "
    "composed from two chained forward as-of joins with tolerance "
    "(operators/asof.py): per view, the earliest qualifying click; "
    "per reached click, the earliest qualifying purchase; then one "
    "scalar report of step counts and conversion rates. Unlike the "
    "unconstrained conversion_funnel, a click three days later does "
    "NOT convert — the attribution-window semantics real funnel "
    "analysis uses. Each as-of stage is the one-shuffle union+window "
    "plan; nothing here is a per-row subquery. Counts are integers, "
    "rates integer ratios under ROUND — oracle hash exact.",
)
def q_timed_conversion_funnel(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    step1 = asof_join(
        views,
        clicks,
        on=["user_id"],
        left_ts="view_ts",
        right_ts="ts",
        payload={"ts": "click_ts"},
        right_order=["event_id"],
        direction="forward",
        tolerance_seconds=24 * 3600,
    )
    step2 = asof_join(
        step1.filter(F.col("click_ts").isNotNull()),
        purchases,
        on=["user_id"],
        left_ts="click_ts",
        right_ts="ts",
        payload={"ts": "purchase_ts"},
        right_order=["event_id"],
        direction="forward",
        tolerance_seconds=24 * 3600,
    ).select("view_id", "click_ts", "purchase_ts")
    rejoined = step1.select("view_id", "click_ts").join(
        step2.select("view_id", "purchase_ts"), on="view_id", how="left"
    )
    return rejoined.agg(
        F.count("*").cast("long").alias("n_views"),
        F.count("click_ts").cast("long").alias("n_clicked_24h"),
        F.count("purchase_ts").cast("long").alias("n_purchased_24h"),
        F.round(
            F.count("click_ts") / F.count("*").cast("double"), 6
        ).alias("view_to_click_rate"),
        F.round(
            F.count("purchase_ts")
            / F.greatest(F.count("click_ts"), F.lit(1)).cast("double"),
            6,
        ).alias("click_to_purchase_rate"),
    )


# --- duration-capped sessionization: gap + max-session-length split ---

_CAPPED_SESSION_SQL = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts,
           CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS INTEGER) AS session_id
    FROM flagged
),
anchored AS (
    SELECT user_id, ts, session_id,
           MIN(ts) OVER (PARTITION BY user_id, session_id) AS s0
    FROM sessions
)
SELECT user_id, session_id,
       CAST(FLOOR((epoch_us(ts) - epoch_us(s0)) / 1800000000.0)
            AS INTEGER) AS sub_session,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end
FROM anchored
GROUP BY 1, 2, 3
"""


@register(
    "event_sessions_capped",
    _CAPPED_SESSION_SQL,
    doc="Duration-capped sessionization: gap-based sessions (30 min, "
    "operators/sessionize.py) additionally SPLIT at a 30-minute maximum "
    "length measured from each session's first event — the standard "
    "guard against never-idle actors (bots, kiosk devices, replayed "
    "logs) whose gap-only sessions grow unbounded, which at 100 TB "
    "also bounds per-session state for any downstream per-session "
    "aggregation. One extra windowed MIN over the already-partitioned "
    "(user, session) run — no new shuffle: the anchor window and the "
    "final aggregate reuse the sessionize exchange.",
)
def q_event_sessions_capped(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = sessionize(load_events(spark, sf_dir), gap_minutes=30)
    w_anchor = Window.partitionBy("user_id", "session_id")
    anchored = ev.withColumn("__s0", F.min("ts").over(w_anchor))
    sub = F.floor(
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("__s0")))
        / 1_800_000_000.0
    ).cast("int")
    return (
        anchored.withColumn("sub_session", sub)
        .groupBy("user_id", "session_id", "sub_session")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


# -------------------- DAU/WAU stickiness (engagement ratio)

_STICKY_SQL = """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
    FROM events
),
dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d),
fan AS (
    SELECT user_id, CAST(dd AS DATE) AS d
    FROM ud, unnest(generate_series(ud.d, ud.d + INTERVAL 6 DAY,
                                    INTERVAL 1 DAY)) t(dd)
),
wau AS (
    SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM fan GROUP BY d
)
SELECT dau.d AS day, dau.dau, w.wau,
       CAST(dau.dau * 1000000 // w.wau AS BIGINT) AS stickiness_ppm
FROM dau JOIN wau w ON dau.d = w.d
"""


@register(
    "dau_wau_stickiness",
    _STICKY_SQL,
    doc="DAU/WAU stickiness per day — the engagement ratio product "
    "teams track (1e6 ppm = every weekly user active daily). WAU "
    "reuses rolling_7d_active_users' scale idiom: dedup to (user, "
    "day) FIRST, then fan each active day out to the <=7 window days "
    "it contributes to — the shuffle carries user-days x 7, never "
    "raw events, and no sliding COUNT(DISTINCT) window exists to "
    "single-partition. Ratio in exact integer ppm (non-negative "
    "floor division). Days are emitted only where a user was active "
    "(DAU > 0), so the inner join defines the spine.",
)
def q_dau_wau_stickiness(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    ud = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    dau = ud.groupBy("d").agg(F.count("*").cast("long").alias("dau"))
    fan = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("dd"),
    )
    wau = fan.groupBy(F.col("dd").alias("d")).agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, on="d")
        .select(
            F.col("d").alias("day"),
            "dau",
            "wau",
            F.expr("dau * 1000000 DIV wau").cast("long").alias(
                "stickiness_ppm"
            ),
        )
    )


# ------------------------------------------- out-of-order depth profile

_OOO_SQL = """
WITH t AS (
    SELECT user_id, event_id,
           epoch_us(ts) // 1000 AS ts_ms,
           epoch_us(ts) // 1000
           + (CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 121 - 60) * 1000 AS arr_ms
    FROM events
),
d AS (
    SELECT user_id, event_id,
           GREATEST(
               COALESCE(MAX(ts_ms) OVER (PARTITION BY user_id
                                         ORDER BY arr_ms, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND 1 PRECEDING), ts_ms)
               - ts_ms, 0) AS late_ms
    FROM t
),
b AS (
    SELECT CASE WHEN late_ms = 0 THEN 'in-order'
                WHEN late_ms < 10000 THEN '<10s'
                WHEN late_ms < 30000 THEN '<30s'
                WHEN late_ms < 60000 THEN '<1m'
                WHEN late_ms < 120000 THEN '<2m'
                ELSE '>=2m' END AS lateness_bucket,
           late_ms
    FROM d
)
SELECT lateness_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(late_ms) AS BIGINT) AS max_late_ms
FROM b GROUP BY lateness_bucket
"""


@register(
    "out_of_order_depth",
    _OOO_SQL,
    doc="Watermark-design artifact: replay each user's events in "
    "ARRIVAL order (event_id) and measure how far behind the "
    "running max event-time each arrival lands — the exact "
    "disorder profile that fixes withWatermark's delay (a watermark "
    "of X ms drops precisely the events in buckets beyond X; "
    "stream_dedup_replay_daily picks its 1-day delay from this). "
    "Arrival order is event time plus a deterministic md5 jitter in "
    "[-60 s, +60 s] — the fixture generator emits perfectly ordered "
    "events, so unjittered the histogram is one vacuous bucket. "
    "Millisecond-exact integers bucketed by a CASE ladder, so the "
    "histogram is hash-stable. One shuffle on user_id; the running "
    "max and the lateness are window-local.",
)
def q_out_of_order_depth(spark, sf_dir):
    # Arrival order = event time + deterministic per-event jitter in
    # [-60 s, +60 s] (portable md5 hash of the id), simulating the
    # network/batching disorder the fixture's generator does not emit
    # (unjittered, every event is in-order and the histogram is one
    # vacuous bucket — the thresholded-entry gotcha).
    jitter_s = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 121
        - 60
    )
    ev = load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts) DIV 1000").alias("ts_ms"),
        (F.expr("unix_micros(ts) DIV 1000") + jitter_s * 1000).alias(
            "arr_ms"
        ),
    )
    w = Window.partitionBy("user_id").orderBy("arr_ms", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    late = ev.select(
        F.greatest(
            F.coalesce(F.max("ts_ms").over(w), F.col("ts_ms"))
            - F.col("ts_ms"),
            F.lit(0),
        ).alias("late_ms")
    )
    bucket = (
        F.when(F.col("late_ms") == 0, "in-order")
        .when(F.col("late_ms") < 10000, "<10s")
        .when(F.col("late_ms") < 30000, "<30s")
        .when(F.col("late_ms") < 60000, "<1m")
        .when(F.col("late_ms") < 120000, "<2m")
        .otherwise(">=2m")
    )
    return late.groupBy(bucket.alias("lateness_bucket")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("late_ms").cast("long").alias("max_late_ms"),
    )


# ------------------------------------- position-based click attribution

_MTA_SQL = """
WITH purchases AS (
    SELECT user_id, event_id AS purchase_id, ts AS p_ts
    FROM events WHERE event_type = 'purchase'
),
clicks AS (
    SELECT user_id, event_id AS click_id, ts AS c_ts
    FROM events WHERE event_type = 'click'
),
win AS (
    SELECT p.purchase_id, c.click_id, c.c_ts,
           CAST(ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                   ORDER BY c.c_ts, c.click_id) AS BIGINT)
               AS pos,
           CAST(COUNT(*) OVER (PARTITION BY p.purchase_id) AS BIGINT) AS k
    FROM purchases p JOIN clicks c
      ON p.user_id = c.user_id
         AND c.c_ts < p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 7 DAY
),
credited AS (
    SELECT purchase_id, click_id,
           CASE WHEN k = 1 THEN 'only'
                WHEN pos = 1 THEN 'first'
                WHEN pos = k THEN 'last'
                ELSE 'middle' END AS position_class,
           CAST(CASE WHEN k = 1 THEN 1000000
                     WHEN pos = 1 OR pos = k THEN 400000
                     ELSE 200000 // (k - 2) END AS BIGINT) AS credit_micro
    FROM win
)
SELECT position_class,
       CAST(COUNT(*) AS BIGINT) AS n_credits,
       CAST(SUM(credit_micro) AS BIGINT) AS credit_micro_sum
FROM credited GROUP BY position_class
"""


@register(
    "multi_touch_attribution",
    _MTA_SQL,
    doc="Position-based (U-shaped) multi-touch attribution: every "
    "click in the 7 days before a purchase earns credit — 40%/40% "
    "to first and last touch, the middle 20% floor-split across "
    "interior clicks, a lone click taking 100% — in exact integer "
    "micro-credits (floor division on non-negative operands only, "
    "so Spark DIV and DuckDB // agree; the flooring remainder is "
    "deliberately unassigned, deterministic on both engines). The "
    "user-equi join makes the range predicate key-local (never a "
    "cross product — the plan audit's CartesianProduct check "
    "proves it), and position ranking is one window over the "
    "per-purchase click set.",
)
def q_multi_touch_attribution(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    win = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
    )
    wseq = Window.partitionBy("purchase_id").orderBy("c_ts", "click_id")
    wall = Window.partitionBy("purchase_id")
    pos = win.select(
        "purchase_id",
        "click_id",
        F.row_number().over(wseq).cast("long").alias("pos"),
        F.count("*").over(wall).cast("long").alias("k"),
    )
    credited = pos.select(
        F.when(F.col("k") == 1, "only")
        .when(F.col("pos") == 1, "first")
        .when(F.col("pos") == F.col("k"), "last")
        .otherwise("middle")
        .alias("position_class"),
        F.when(F.col("k") == 1, F.lit(1000000))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("k")), F.lit(400000))
        .otherwise(F.expr("200000 DIV (k - 2)"))
        .cast("long")
        .alias("credit_micro"),
    )
    return credited.groupBy("position_class").agg(
        F.count("*").cast("long").alias("n_credits"),
        F.sum("credit_micro").cast("long").alias("credit_micro_sum"),
    )


# ------------------------------------------------- rate-spike detection

_SPIKE_WINDOW_H = 24
_SPIKE_K_MILLI = 3_000  # flag when count > mean + 3.0 * sqrt(mean)

#: One shared IEEE expression text: the Poisson upper bound on the
#: trailing-mean rate, floor-quantized to milli-events.
_SPIKE_BOUND_MILLI = (
    "CAST(FLOOR((CAST(trail_sum AS DOUBLE) / CAST(trail_n AS DOUBLE)"
    f" + {_SPIKE_K_MILLI / 1000.0}"
    " * sqrt(CAST(trail_sum AS DOUBLE) / CAST(trail_n AS DOUBLE)))"
    " * 1000.0) AS BIGINT)"
)

_SPIKE_SQL = f"""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour_ts,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY date_trunc('hour', ts)
),
trail AS (
    SELECT hour_ts, n_events,
           CAST(SUM(n_events) OVER w AS BIGINT) AS trail_sum,
           CAST(COUNT(*) OVER w AS BIGINT) AS trail_n
    FROM hourly
    WINDOW w AS (ORDER BY hour_ts
                 ROWS BETWEEN {_SPIKE_WINDOW_H} PRECEDING AND 1 PRECEDING)
)
SELECT hour_ts, n_events, trail_sum, trail_n,
       {_SPIKE_BOUND_MILLI} AS bound_milli,
       n_events * 1000 > {_SPIKE_BOUND_MILLI} AS is_spike
FROM trail
WHERE trail_n >= {_SPIKE_WINDOW_H}
"""


@register(
    "event_rate_spike_flags",
    _SPIKE_SQL,
    doc=f"Operational rate-spike monitor: hourly event counts flagged "
    f"when they exceed the trailing-{_SPIKE_WINDOW_H}h mean plus "
    "3*sqrt(mean) (the Poisson-noise upper bound, so quiet hours get "
    "tight thresholds and busy hours loose ones). The fact reduces to "
    "the hour grain FIRST; the trailing window and the bound run on "
    "the tiny hour frame — exact integer counts everywhere, the bound "
    "a single shared floor-quantized IEEE expression. Warm-up hours "
    "(incomplete trailing window) are excluded, not mis-flagged.",
)
def q_event_rate_spike_flags(spark, sf_dir):
    from pyspark.sql.window import Window

    events = load_events(spark, sf_dir)
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.count("*").cast("long").alias("n_events"))
    w = Window.orderBy("hour_ts").rowsBetween(-_SPIKE_WINDOW_H, -1)
    trail = hourly.select(
        "hour_ts",
        "n_events",
        F.sum("n_events").over(w).cast("long").alias("trail_sum"),
        F.count("*").over(w).cast("long").alias("trail_n"),
    ).filter(F.col("trail_n") >= _SPIKE_WINDOW_H)
    return trail.select(
        "hour_ts",
        "n_events",
        "trail_sum",
        "trail_n",
        F.expr(_SPIKE_BOUND_MILLI).alias("bound_milli"),
        (F.col("n_events") * 1000 > F.expr(_SPIKE_BOUND_MILLI)).alias("is_spike"),
    )


# ------------------------------------------------- cooldown dedup

_COOLDOWN_MIN = 30

_COOLDOWN_SQL = f"""
WITH marked AS (
    SELECT event_type,
           CASE WHEN LAG(ts) OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) IS NULL
                     OR CAST(floor(epoch(ts)) AS BIGINT)
                        - CAST(floor(epoch(LAG(ts) OVER (PARTITION BY user_id, event_type
                                                         ORDER BY ts, event_id)))
                               AS BIGINT) >= {_COOLDOWN_MIN} * 60
                THEN 1 ELSE 0 END AS kept
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST((COUNT(*) - SUM(kept)) * 1000000 // COUNT(*) AS BIGINT)
           AS suppressed_ppm
FROM marked
GROUP BY event_type
"""


@register(
    "event_cooldown_dedup",
    _COOLDOWN_SQL,
    doc=f"Telemetry burst suppression: within each (user, event_type) "
    f"stream, keep only the FIRST event of any burst — an event is "
    f"kept iff no same-key event occurred in the preceding "
    f"{_COOLDOWN_MIN} minutes of the kept-or-dropped raw stream "
    "(LAG-threshold gaps-and-islands, the retry/double-click "
    "de-noiser every ingest runs). Gaps compare TRUE elapsed epoch "
    "seconds on both engines (DuckDB's date_diff counts calendar "
    "boundaries, which diverges). NOTE the semantics: the cooldown "
    "is measured against the previous RAW event, so a sustained "
    "drizzle with sub-threshold gaps suppresses everything after its "
    "first event. One (user, type) shuffle; suppression rates in "
    "exact ppm per event type.",
)
def q_event_cooldown_dedup(spark, sf_dir):
    from pyspark.sql.window import Window

    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    kept = F.when(
        prev.isNull()
        | (
            (F.unix_timestamp("ts") - F.unix_timestamp(prev))
            >= _COOLDOWN_MIN * 60
        ),
        1,
    ).otherwise(0)
    marked = events.select("event_type", kept.alias("kept"))
    return marked.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_raw"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.expr("CAST((COUNT(*) - SUM(kept)) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
            "suppressed_ppm"
        ),
    )


# --------------------------------------------------------------------------
# Hourly OHLC bars over the event value stream.
# --------------------------------------------------------------------------

_OHLC_SQL = """
WITH ev AS (
    SELECT date_trunc('hour', ts) AS hour, ts, event_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM events
)
SELECT hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       (MIN({'t': ts, 'i': event_id, 'v': cents})).v AS open_cents,
       MAX(cents) AS high_cents,
       MIN(cents) AS low_cents,
       (MAX({'t': ts, 'i': event_id, 'v': cents})).v AS close_cents,
       CAST(SUM(cents) AS BIGINT) AS volume_cents
FROM ev GROUP BY hour
"""


@register(
    "event_value_ohlc_hourly",
    _OHLC_SQL,
    doc="Hourly OHLC bars over the event value stream: open/close via "
    "lexicographic struct-extrema argmin/argmax on (ts, event_id, "
    "cents) — the deterministic first/last-in-window idiom that needs "
    "no window function, so the whole bar is ONE map-side-combinable "
    "aggregate (structs min/max combine associatively across "
    "partitions). The market-data primitive next to event_value_twap: "
    "TWAP integrates the hold time, OHLC keeps the path extremes. At "
    "100 TB each hour's bar folds locally per partition and merges in "
    "the combiner — no sort, no window, no shuffle beyond the "
    "hour-key exchange.",
)
def q_event_value_ohlc_hourly(spark, sf_dir):
    ev = load_events(spark, sf_dir).select(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "ts",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    first = F.min(F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i"), F.col("cents").alias("v")))
    last = F.max(F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i"), F.col("cents").alias("v")))
    return ev.groupBy("hour").agg(
        F.count("*").cast("long").alias("n_events"),
        first.getField("v").alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        last.getField("v").alias("close_cents"),
        F.sum("cents").cast("long").alias("volume_cents"),
    )


# --------------------------------------------------------------------------
# Shapley-value channel attribution (exact rational credit).
# --------------------------------------------------------------------------

_SHAPLEY_CHANNELS = ("click", "signup", "view")
_SHAPLEY_LCM = 6  # lcm(1..3): credit conv(S)/|S| stays integer in sixths

_SHAPLEY_SQL = f"""
WITH conv AS (
    SELECT user_id, MIN(ts) AS first_purchase_ts
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
exposure AS (
    SELECT e.user_id,
           list_sort(list_distinct(list(e.event_type))) AS channels
    FROM events e JOIN conv c ON c.user_id = e.user_id
    WHERE e.event_type IN ({", ".join(f"'{c}'" for c in _SHAPLEY_CHANNELS)})
      AND e.ts < c.first_purchase_ts
    GROUP BY e.user_id
),
subsets AS (
    SELECT array_to_string(channels, ',') AS subset,
           len(channels) AS subset_size,
           CAST(COUNT(*) AS BIGINT) AS n_conversions
    FROM exposure GROUP BY 1, 2
),
credited AS (
    SELECT unnest(string_split(subset, ',')) AS channel,
           n_conversions * ({_SHAPLEY_LCM} // subset_size) AS credit_sixths,
           n_conversions
    FROM subsets
),
tot AS (SELECT CAST(SUM(n_conversions) AS BIGINT) AS total_conv FROM subsets)
SELECT channel,
       CAST(SUM(credit_sixths) AS BIGINT) AS shapley_sixths,
       CAST(SUM(n_conversions) AS BIGINT) AS n_converting_users,
       CAST(SUM(credit_sixths) * 1000000 // ({_SHAPLEY_LCM} * (SELECT total_conv FROM tot))
            AS BIGINT) AS credit_share_ppm
FROM credited
GROUP BY channel
"""


@register(
    "shapley_channel_attribution",
    _SHAPLEY_SQL,
    doc="Shapley-value marketing attribution over pre-purchase channel "
    f"exposure sets ({', '.join(_SHAPLEY_CHANNELS)}): each converting "
    "user's exposure SET earns conv(S)/|S| credit per member channel "
    "(the symmetric-game Shapley value), carried as EXACT integers in "
    "lcm-scaled sixths so equal split never rounds; the final share "
    "is integer ppm. The game-theoretic counterpart to "
    "multi_touch_attribution's position rules. Scale: exposure sets "
    "reduce users to one row each (collect_set after an as-of filter "
    "against the user's first purchase); subsets reduce further to "
    "<= 2^|channels| rows, and all credit math runs on that frame.",
)
def q_shapley_channel_attribution(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    exposure = (
        ev.filter(F.col("event_type").isin(*_SHAPLEY_CHANNELS))
        .join(conv, on="user_id")
        .filter(F.col("ts") < F.col("first_purchase_ts"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("channels"))
    )
    subsets = exposure.groupBy(
        F.array_join("channels", ",").alias("subset"),
        F.size("channels").alias("subset_size"),
    ).agg(F.count("*").cast("long").alias("n_conversions"))
    credited = subsets.select(
        F.explode(F.split("subset", ",")).alias("channel"),
        (F.col("n_conversions") * F.expr(f"{_SHAPLEY_LCM} DIV subset_size"))
        .cast("long")
        .alias("credit_sixths"),
        "n_conversions",
    )
    tot = subsets.agg(F.sum("n_conversions").cast("long").alias("total_conv"))
    return (
        credited.groupBy("channel")
        .agg(
            F.sum("credit_sixths").cast("long").alias("shapley_sixths"),
            F.sum("n_conversions").cast("long").alias("n_converting_users"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "shapley_sixths",
            "n_converting_users",
            F.expr(
                f"CAST(shapley_sixths * 1000000 DIV ({_SHAPLEY_LCM} * total_conv) AS BIGINT)"
            ).alias("credit_share_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Session path mining: most frequent event-type prefixes per session.
# --------------------------------------------------------------------------

_PATH_GAP_MIN = 30
_PATH_PREFIX = 5
_PATH_TOP = 20

_TOP_PATHS_SQL = f"""
WITH marked AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {_PATH_GAP_MIN} * 60 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked
),
paths AS (
    SELECT user_id, session_id,
           array_to_string(list(event_type ORDER BY ts, event_id)[1:{_PATH_PREFIX}], '>')
               AS path
    FROM sessions GROUP BY user_id, session_id
),
counted AS (
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM paths GROUP BY path
)
SELECT path, n_sessions, CAST(rk AS INTEGER) AS rk
FROM (
    SELECT path, n_sessions,
           ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rk
    FROM counted
)
WHERE rk <= {_PATH_TOP}
"""


@register(
    "session_top_paths",
    _TOP_PATHS_SQL,
    doc=f"Session path mining: sessionize the event stream "
    f"({_PATH_GAP_MIN}-min gap), take each session's first "
    f"{_PATH_PREFIX} event types as an ordered path, and rank the "
    f"top {_PATH_TOP} paths by frequency — the UX-funnel sequence "
    "report (which journeys actually happen) complementing the "
    "1-step event_type_transitions matrix. Order inside each path is "
    "pinned by sorting (ts, event_id) structs INSIDE the row "
    "(collect_list order is not deterministic across partitions; "
    "sort_array of structs is). Scale: sessionization is the standard "
    "user-partitioned window; paths reduce sessions to one row and "
    "counting is map-combinable on the path-string grain.",
)
def q_session_top_paths(spark, sf_dir):
    from ecom_churn_lakehouse_spark.operators import sessionize

    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    sess = sessionize(ev, gap_minutes=_PATH_GAP_MIN)
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.transform(F.slice("evs", 1, _PATH_PREFIX), lambda s: s["event_type"]),
                ">",
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(F.count("*").cast("long").alias("n_sessions"))
    ranked = counted.select(
        "path",
        "n_sessions",
        F.row_number()
        .over(Window.orderBy(F.desc("n_sessions"), "path"))
        .cast("int")
        .alias("rk"),
    )
    return ranked.filter(F.col("rk") <= _PATH_TOP)


# ------------------------------------------- Markov stationary event mix

_MARKOV_ITERS = 3


def _markov_sql() -> str:
    # three fixed power-iteration steps, each a (k x k) join at the
    # event-type grain; all mass arithmetic in exact integer milli
    steps = []
    prev = "pi0"
    for it in range(1, _MARKOV_ITERS + 1):
        steps.append(
            f"pi{it} AS (\n"
            f"    SELECT p.j AS event_type,\n"
            f"           CAST(SUM(v.mass_milli * p.p_milli) // 1000 AS BIGINT)\n"
            f"               AS mass_milli\n"
            f"    FROM {prev} v JOIN pmat p ON p.i = v.event_type\n"
            f"    GROUP BY p.j\n)"
        )
        prev = f"pi{it}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH ordered AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
),
trans AS (
    SELECT prev_type AS i, event_type AS j, CAST(COUNT(*) AS BIGINT) AS c
    FROM ordered WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
),
outdeg AS (SELECT i, CAST(SUM(c) AS BIGINT) AS total FROM trans GROUP BY i),
pmat AS (
    SELECT t.i, t.j, CAST(t.c * 1000 // o.total AS BIGINT) AS p_milli
    FROM trans t JOIN outdeg o ON o.i = t.i
),
types AS (SELECT DISTINCT i AS event_type FROM trans),
pi0 AS (
    SELECT event_type,
           CAST(1000 // (SELECT COUNT(*) FROM types) AS BIGINT) AS mass_milli
    FROM types
),
{steps_sql}
SELECT t.event_type,
       o.total AS out_transitions,
       p0.mass_milli AS mass_milli_start,
       COALESCE(pf.mass_milli, 0) AS mass_milli_iter{_MARKOV_ITERS}
FROM types t
JOIN outdeg o ON o.i = t.event_type
JOIN pi0 p0 ON p0.event_type = t.event_type
LEFT JOIN pi{_MARKOV_ITERS} pf ON pf.event_type = t.event_type
ORDER BY t.event_type
"""


@register(
    "markov_stationary_event_mix",
    _markov_sql(),
    doc="Stationary event-mix estimate: the user-journey transition "
    "matrix (event_type_transitions' relation, row-normalized to "
    "exact milli probabilities) powered three fixed iterations from "
    "the uniform start — where user attention CONVERGES, not just "
    "where single steps go. All mass arithmetic is exact integer "
    "milli (mass*p // 1000 after the sum, so floor loss is one part "
    "per step, identical on both engines); iteration count is fixed "
    "so the plan is static. Scale: the fact reduces to the k x k "
    "transition grain (k = |event types| ~ 5) after one per-user "
    "lag window; each iteration is a 25-row join — cost at 100 TB "
    "is the sessionization window, which every journey entry "
    "already pays.",
)
def q_markov_stationary_event_mix(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("i"), F.col("event_type").alias("j"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    outdeg = trans.groupBy("i").agg(F.sum("c").cast("long").alias("total"))
    pmat = trans.join(outdeg, "i").select(
        "i", "j", F.expr("CAST(c * 1000 DIV total AS BIGINT)").alias("p_milli")
    )
    types = trans.select(F.col("i").alias("event_type")).distinct()
    k = types.agg(F.count("*").alias("k"))
    pi = types.crossJoin(F.broadcast(k)).select(
        "event_type", F.expr("CAST(1000 DIV k AS BIGINT)").alias("mass_milli")
    )
    pi0 = pi
    for _ in range(_MARKOV_ITERS):
        pi = (
            pi.join(F.broadcast(pmat), pi.event_type == pmat.i)
            .groupBy(F.col("j").alias("event_type"))
            .agg(
                F.expr("CAST(SUM(mass_milli * p_milli) DIV 1000 AS BIGINT)").alias(
                    "mass_milli"
                )
            )
        )
    return (
        types.join(outdeg, types.event_type == outdeg.i)
        .join(pi0.withColumnRenamed("mass_milli", "mass_milli_start"), "event_type")
        .join(
            pi.withColumnRenamed("mass_milli", f"mass_milli_iter{_MARKOV_ITERS}"),
            "event_type",
            "left",
        )
        .select(
            "event_type",
            F.col("total").alias("out_transitions"),
            "mass_milli_start",
            F.coalesce(f"mass_milli_iter{_MARKOV_ITERS}", F.lit(0))
            .cast("long")
            .alias(f"mass_milli_iter{_MARKOV_ITERS}"),
        )
        .orderBy("event_type")
    )


# ----------------------------------- streaming transition maintenance

_TRANS_SQL = """
WITH ordered AS (
    SELECT event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
)
SELECT prev_type AS from_type, event_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS transitions
FROM ordered WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
ORDER BY from_type, to_type
"""


@register(
    "stream_transition_maintenance",
    _TRANS_SQL,
    doc="Streaming twin of the user-journey transition relation "
    "(markov_stationary_event_mix's input): unlike KMV/CMS/checksum "
    "twins, transition counts are NOT naively mergeable — the pair "
    "that straddles two micro-batches exists in neither. Each batch "
    "therefore (a) counts its intra-batch consecutive pairs, "
    "(b) joins its per-user FIRST event against the persisted "
    "per-user last-event state to emit the boundary transitions, and "
    "(c) writes the updated state keyed by batch_id (so a replayed "
    "batch re-derives from its predecessor's state instead of "
    "double-advancing — the at-least-once discipline of the other "
    "twins, applied to keyed state). The accumulated counts must "
    "equal the one-shot batch relation exactly; the oracle is the "
    "batch SQL. Scale: state is ONE ROW PER ACTIVE USER (type + "
    "timestamp), the production shape of every sessionizing "
    "stateful operator; per-batch work is one lag window over the "
    "batch plus one state join.",
)
def q_stream_transition_maintenance(spark, sf_dir):
    import os

    from ecom_churn_lakehouse_spark.scratch import scratch_dir

    ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    base = scratch_dir(prefix="stream_trans_")

    # three ts-ordered chunks (streams deliver in event-time order here;
    # out-of-order delivery is the watermark entries' subject)
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    lo, hi = b["lo"], b["hi"]
    span = (hi - lo) / 3

    def _apply(batch_df, batch_id):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = batch_df.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            F.row_number().over(w).alias("rn"),
        )
        intra = seq.filter(F.col("prev_type").isNotNull()).select(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        # the newest earlier batch's state (an empty batch writes none,
        # so it need not be batch_id - 1)
        state = f"{base}/state"
        if os.path.isdir(state):
            prior = spark.read.parquet(state).filter(F.col("batch_id") < batch_id)
            prev_state = prior.join(
                prior.agg(F.max("batch_id").alias("batch_id")), "batch_id"
            ).drop("batch_id")
            firsts = seq.filter(F.col("rn") == 1).select(
                F.col("user_id").alias("fu"), F.col("event_type").alias("to_type")
            )
            boundary = firsts.join(
                prev_state, prev_state.user_id == F.col("fu")
            ).select(F.col("last_type").alias("from_type"), "to_type")
            pairs = intra.unionByName(boundary)
            carried = prev_state
        else:
            pairs = intra
            carried = None
        write_once(
            pairs.groupBy("from_type", "to_type").agg(
                F.count("*").cast("long").alias("transitions")
            ),
            f"{base}/pairs/batch_id={batch_id}",
        )
        last = batch_df.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type")).alias("s")
        ).select("user_id", F.col("s.event_type").alias("last_type"))
        if carried is not None:
            anti = carried.join(
                last.select(F.col("user_id").alias("lu")),
                carried.user_id == F.col("lu"),
                "left_anti",
            )
            last = last.unionByName(anti)
        write_once(last, f"{state}/batch_id={batch_id}")

    replay(ev, ranges("ts", lo + span, lo + 2 * span), _apply, base)

    return (
        spark.read.parquet(f"{base}/pairs")
        .groupBy("from_type", "to_type")
        .agg(F.sum("transitions").cast("long").alias("transitions"))
        .orderBy("from_type", "to_type")
    )


# ------------------------------------------- SPRT conversion monitor

#: Wald SPRT of H0: purchase share = 0.30 vs H1: 0.35 at
#: alpha = beta = 0.05. The per-observation log-likelihood ratios are
#: PRECOMPUTED integer micro constants (ln(p1/p0), ln((1-p1)/(1-p0)))
#: so the whole trajectory is exact integer arithmetic — the
#: sequential test as a cumulative-sum window, no floats at all.
_SPRT_L1 = 154151     # round(ln(0.35/0.30) * 1e6)
_SPRT_L0 = -74108     # round(ln(0.65/0.70) * 1e6)
_SPRT_BOUND = 2944439  # round(ln(0.95/0.05) * 1e6)

_SPRT_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY CAST(ts AS DATE)
),
traj AS (
    SELECT d, x, n,
           CAST(x * {_SPRT_L1} + (n - x) * ({_SPRT_L0}) AS BIGINT)
               AS llr_micro,
           CAST(SUM(x * {_SPRT_L1} + (n - x) * ({_SPRT_L0}))
                OVER (ORDER BY d) AS BIGINT) AS cum_llr_micro
    FROM daily
)
SELECT d AS day, x AS purchases, n AS events, llr_micro, cum_llr_micro,
       CASE WHEN cum_llr_micro >= {_SPRT_BOUND} THEN 'accept_h1'
            WHEN cum_llr_micro <= -{_SPRT_BOUND} THEN 'accept_h0'
            ELSE 'continue' END AS state,
       CASE WHEN abs(cum_llr_micro) >= {_SPRT_BOUND}
                 AND MIN(CASE WHEN abs(cum_llr_micro) >= {_SPRT_BOUND}
                              THEN d END) OVER () = d
            THEN TRUE ELSE FALSE END AS first_decision
FROM traj ORDER BY day
"""


@register(
    "sprt_conversion_monitor",
    _SPRT_SQL,
    doc="Wald sequential probability ratio test on the daily purchase "
    "share (H0 30% vs H1 35%, alpha=beta=0.05): the always-valid "
    "monitoring shape that stops an experiment the DAY the evidence "
    "crosses a boundary instead of waiting for a fixed horizon — "
    "the sequential complement to the fixed-n machinery "
    "(two_proportion_ztest_returns, experiment_power_mde). The "
    "per-observation log-likelihood increments are precomputed "
    "integer micro constants, so the entire trajectory — daily "
    "increments, the cumulative LLR, both boundaries, the first "
    "crossing — is EXACT integer arithmetic with zero runtime "
    "floats. Scale: the fact reduces to the calendar day grain in "
    "one map-combinable agg; the trajectory window runs over days.",
)
def q_sprt_conversion_monitor(spark, sf_dir):
    daily = (
        load_events(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.count("*").cast("long").alias("n"),
        )
    )
    llr = (
        F.col("x") * _SPRT_L1 + (F.col("n") - F.col("x")) * _SPRT_L0
    ).cast("long")
    w = Window.orderBy("d")
    w_all = Window.partitionBy()
    traj = daily.select(
        F.col("d").alias("day"),
        F.col("x").alias("purchases"),
        F.col("n").alias("events"),
        llr.alias("llr_micro"),
        F.sum(llr).over(w).cast("long").alias("cum_llr_micro"),
    )
    crossed_day = F.min(
        F.when(F.abs(F.col("cum_llr_micro")) >= _SPRT_BOUND, F.col("day"))
    ).over(w_all)
    return traj.select(
        "day",
        "purchases",
        "events",
        "llr_micro",
        "cum_llr_micro",
        F.when(F.col("cum_llr_micro") >= _SPRT_BOUND, "accept_h1")
        .when(F.col("cum_llr_micro") <= -_SPRT_BOUND, "accept_h0")
        .otherwise("continue")
        .alias("state"),
        F.when(
            (F.abs(F.col("cum_llr_micro")) >= _SPRT_BOUND)
            & (crossed_day == F.col("day")),
            True,
        )
        .otherwise(False)
        .alias("first_decision"),
    ).orderBy("day")


# ------------------------------------------- session gap sensitivity

_SGS_GAPS_S = (300, 900, 1800, 3600, 7200)

_SGS_SQL = f"""
WITH seq AS (
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS t,
           CAST(floor(epoch(ts)) AS BIGINT)
             - LAG(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
    FROM events
),
flags AS (
    SELECT user_id, gap_s,
           {", ".join(
               f"CASE WHEN gap_s IS NULL OR gap_s > {g} THEN 1 ELSE 0 END"
               f" AS brk_{g}" for g in _SGS_GAPS_S)}
    FROM seq
)
SELECT g.gap_seconds,
       CAST(SUM(CASE g.gap_seconds
           {" ".join(f"WHEN {g} THEN brk_{g}" for g in _SGS_GAPS_S)}
           END) AS BIGINT) AS n_sessions,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM seq) AS n_events,
       CAST((SELECT COUNT(*) FROM seq) * 1000
            // SUM(CASE g.gap_seconds
                {" ".join(f"WHEN {g} THEN brk_{g}" for g in _SGS_GAPS_S)}
                END) AS BIGINT) AS mean_events_per_session_milli
FROM flags CROSS JOIN (VALUES {", ".join(f"(CAST({g} AS BIGINT))" for g in _SGS_GAPS_S)})
    AS g(gap_seconds)
GROUP BY g.gap_seconds ORDER BY g.gap_seconds
"""


@register(
    "session_gap_sensitivity_curve",
    _SGS_SQL,
    doc="Sessionization-threshold sensitivity: session counts and "
    "mean session length under five inactivity gaps (5m..2h) from "
    "ONE pass over the per-user event sequence — the operating "
    "curve that justifies event_sessions' fixed 30-minute gap "
    "instead of inheriting it as folklore (the elbow where session "
    "counts stabilize is the right threshold; epoch-seconds "
    "arithmetic per the round-6 date_diff gotcha, with the oracle's "
    "fractional epoch FLOORED before the BIGINT cast — DuckDB's "
    "double->int cast ROUNDS while unix_timestamp truncates, an "
    "off-by-one caught by the round-8 sf0.1 backlog sweep). A session break "
    "is a row-local integer predicate per threshold, so the curve "
    "costs one lag window regardless of how many thresholds are "
    "evaluated. Exact integer counts and milli ratios.",
)
def q_session_gap_sensitivity_curve(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_timestamp("ts").cast("long")
    seq = ev.select(
        "user_id",
        t.alias("t"),
        (t - F.lag(t).over(w)).alias("gap_s"),
    ).localCheckpoint(eager=False)
    flags = seq.select(
        *[
            F.when(F.col("gap_s").isNull() | (F.col("gap_s") > g), 1)
            .otherwise(0)
            .alias(f"brk_{g}")
            for g in _SGS_GAPS_S
        ]
    )
    n_events = seq.agg(F.count("*").cast("long").alias("n_events"))
    long = flags.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).cast("long").alias("gap_seconds"),
                        F.col(f"brk_{g}").alias("brk"),
                    )
                    for g in _SGS_GAPS_S
                ]
            )
        ).alias("s")
    ).select("s.gap_seconds", "s.brk")
    return (
        long.groupBy("gap_seconds")
        .agg(F.sum("brk").cast("long").alias("n_sessions"))
        .crossJoin(F.broadcast(n_events))
        .select(
            "gap_seconds",
            "n_sessions",
            "n_events",
            F.expr(
                "CAST(n_events * 1000 DIV n_sessions AS BIGINT)"
            ).alias("mean_events_per_session_milli"),
        )
        .orderBy("gap_seconds")
    )


# ---------------------------------------------------------------------------
# Round 9 fourth wave: entropy rate of the event-type Markov chain.
# ---------------------------------------------------------------------------

#: Per-cell contribution (c_ij/C) * ln(c_i/c_ij) quantized to
#: DECIMAL(28,12) BEFORE the sum (the AP-sum discipline: decimal
#: accumulation is exact and order-free, so partial-aggregation
#: order can't perturb a bit). The ln of a ratio of exact int64
#: counts is the one libm surface, identical spelling both engines.
_ENTROPY_TERM = (
    "CAST(CAST(c AS DOUBLE) / CAST(ctot AS DOUBLE)"
    " * ln(CAST(ci AS DOUBLE) / CAST(c AS DOUBLE)) AS DECIMAL(28,12))"
)

_ENTROPY_SQL = f"""
WITH ordered AS (
    SELECT event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type
    FROM events
),
trans AS (
    SELECT prev_type AS i, event_type AS j, CAST(COUNT(*) AS BIGINT) AS c
    FROM ordered WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
),
outdeg AS (SELECT i, CAST(SUM(c) AS BIGINT) AS ci FROM trans GROUP BY i),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS ctot,
               CAST(COUNT(DISTINCT i) AS BIGINT) AS k
        FROM trans),
cells AS (
    SELECT t.c, o.ci, x.ctot, x.k
    FROM trans t JOIN outdeg o ON o.i = t.i CROSS JOIN tot x
),
s AS (
    SELECT CAST(SUM({_ENTROPY_TERM}) AS DOUBLE) AS h_nats,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           MAX(ctot) AS n_transitions, MAX(k) AS k
    FROM cells
)
SELECT n_transitions, n_cells, k,
       CAST(FLOOR(h_nats * 1000000.0) AS BIGINT) AS entropy_rate_micro,
       CAST(FLOOR(h_nats / ln(CAST(k AS DOUBLE)) * 1000.0) AS BIGINT)
           AS normalized_milli
FROM s
"""


@register(
    "markov_entropy_rate",
    _ENTROPY_SQL,
    doc="Empirical entropy rate of the user-journey event-type Markov "
    "chain: H = sum_ij (c_ij/C) ln(c_i/c_ij) over the transition "
    "counts — the single scalar that says how PREDICTABLE the next "
    "event is given the current one (0 = deterministic journeys, "
    "ln k = uniform chaos; the normalized column is H/ln(k) in "
    "milli). Complements markov_stationary_event_mix (where "
    "attention converges) and event_type_transitions (which steps "
    "dominate) with the information-theoretic readout; weighting by "
    "empirical row mass c_i/C equals the stationary weighting when "
    "the chain is ergodic-sampled, and keeps every input an exact "
    "int64 count. Float discipline: each cell's term is ONE shared "
    "ln-of-count-ratio expression quantized to DECIMAL(28,12) "
    "per-term before summing (the model_eval_metrics AP-sum rule), "
    "so the aggregate is order-free and bit-stable at any "
    "parallelism. Scale: one per-user lag window (the cost every "
    "journey entry pays) reducing to a k x k cell frame; everything "
    "downstream is a ~25-row computation.",
)
def q_markov_entropy_rate(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("i"), F.col("event_type").alias("j")
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    outdeg = trans.groupBy("i").agg(F.sum("c").cast("long").alias("ci"))
    tot = trans.agg(
        F.sum("c").cast("long").alias("ctot"),
        F.countDistinct("i").cast("long").alias("k"),
    )
    cells = trans.join(outdeg, on="i").crossJoin(F.broadcast(tot)).select(
        "c", "ci", "ctot", "k"
    )
    s = cells.agg(
        F.sum(F.expr(_ENTROPY_TERM)).cast("double").alias("h_nats"),
        F.count("*").cast("long").alias("n_cells"),
        F.max("ctot").alias("n_transitions"),
        F.max("k").alias("k"),
    )
    return s.select(
        "n_transitions",
        "n_cells",
        "k",
        F.floor(F.col("h_nats") * 1000000.0).cast("long").alias(
            "entropy_rate_micro"
        ),
        F.expr(
            "CAST(FLOOR(h_nats / ln(CAST(k AS DOUBLE)) * 1000.0) AS BIGINT)"
        ).alias("normalized_milli"),
    )


# ---------------------------------------------------------------------------
# Round 9 fourth wave: absorption probability (first passage to purchase).
# ---------------------------------------------------------------------------

_ABS_TARGET = "purchase"
_ABS_STEPS = 3  # u3 = P(absorb within 3 transitions)


def _absorption_sql() -> str:
    # unrolled first-passage recursion in exact integer milli:
    # u_{k+1}(i) = p_direct(i) + sum_{j != target} p(i,j) * u_k(j) // 1000
    steps = []
    prev = "u1"
    for k in range(2, _ABS_STEPS + 1):
        steps.append(
            f"u{k} AS (\n"
            f"    SELECT d.i,\n"
            f"           CAST(d.direct_milli\n"
            f"                + COALESCE(SUM(p.p_milli * u.u_milli), 0)"
            f" // 1000 AS BIGINT) AS u_milli\n"
            f"    FROM direct d\n"
            f"    LEFT JOIN pmat p ON p.i = d.i AND p.j <> '{_ABS_TARGET}'\n"
            f"    LEFT JOIN {prev} u ON u.i = p.j\n"
            f"    GROUP BY d.i, d.direct_milli\n)"
        )
        prev = f"u{k}"
    return f"""
WITH ordered AS (
    SELECT event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type
    FROM events
),
trans AS (
    SELECT prev_type AS i, event_type AS j, CAST(COUNT(*) AS BIGINT) AS c
    FROM ordered
    WHERE prev_type IS NOT NULL AND prev_type <> '{_ABS_TARGET}'
    GROUP BY prev_type, event_type
),
outdeg AS (SELECT i, CAST(SUM(c) AS BIGINT) AS total FROM trans GROUP BY i),
pmat AS (
    SELECT t.i, t.j, CAST(t.c * 1000 // o.total AS BIGINT) AS p_milli
    FROM trans t JOIN outdeg o ON o.i = t.i
),
direct AS (
    SELECT o.i, o.total,
           CAST(COALESCE(MAX(CASE WHEN p.j = '{_ABS_TARGET}'
                                  THEN p.p_milli END), 0) AS BIGINT)
               AS direct_milli
    FROM outdeg o LEFT JOIN pmat p ON p.i = o.i
    GROUP BY o.i, o.total
),
u1 AS (SELECT i, direct_milli AS u_milli FROM direct),
{",".join(steps)}
SELECT d.i AS event_type, d.total AS out_transitions,
       d.direct_milli AS absorb1_milli,
       uf.u_milli AS absorb{_ABS_STEPS}_milli
FROM direct d JOIN u{_ABS_STEPS} uf ON uf.i = d.i
ORDER BY d.i
"""


@register(
    "markov_absorption_conversion",
    _absorption_sql(),
    doc=f"First-passage absorption probability into '{_ABS_TARGET}': "
    "for each non-target event type, the probability a journey "
    "reaches a purchase within 1 and within "
    f"{_ABS_STEPS} transitions — the absorbing-chain funnel metric "
    "(fundamental-matrix semantics, computed as the unrolled "
    "first-passage recursion u_(k+1) = p_direct + P_transient u_k "
    "rather than a matrix inverse). Complements "
    "markov_stationary_event_mix (long-run attention) and "
    "markov_entropy_rate (predictability) with WHERE JOURNEYS "
    "CONVERT. All mass arithmetic in exact integer milli (p_milli "
    "floor-quantized once from exact counts; each update floors "
    "once after the sum — the stationary-mix discipline), so the "
    "recursion is bit-exact at any parallelism on both engines. "
    "Scale: the per-user lag window reduces the fact to the k x k "
    "transition grain; each unrolled step is a <=25-row join.",
)
def q_markov_absorption_conversion(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        ordered.filter(
            F.col("prev_type").isNotNull()
            & (F.col("prev_type") != _ABS_TARGET)
        )
        .groupBy(
            F.col("prev_type").alias("i"), F.col("event_type").alias("j")
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    outdeg = trans.groupBy("i").agg(F.sum("c").cast("long").alias("total"))
    pmat = trans.join(outdeg, on="i").select(
        "i",
        "j",
        F.expr("CAST(c * 1000 DIV total AS BIGINT)").alias("p_milli"),
    )
    direct = (
        outdeg.join(pmat.withColumnRenamed("i", "pi"),
                    outdeg.i == F.col("pi"), "left")
        .groupBy("i", "total")
        .agg(
            F.coalesce(
                F.max(
                    F.when(F.col("j") == _ABS_TARGET, F.col("p_milli"))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("direct_milli")
        )
    )
    u = direct.select("i", F.col("direct_milli").alias("u_milli"))
    trans_p = pmat.filter(F.col("j") != _ABS_TARGET)
    for _ in range(2, _ABS_STEPS + 1):
        u = (
            direct.join(
                trans_p.withColumnRenamed("i", "pi"),
                direct.i == F.col("pi"),
                "left",
            )
            .join(
                u.select(
                    F.col("i").alias("uj"), F.col("u_milli").alias("uv")
                ),
                F.col("j") == F.col("uj"),
                "left",
            )
            .groupBy("i", "direct_milli")
            .agg(
                F.expr(
                    "CAST(direct_milli"
                    " + COALESCE(SUM(p_milli * uv), 0) DIV 1000"
                    " AS BIGINT)"
                ).alias("u_milli")
            )
            .select("i", "u_milli")
        )
    return (
        direct.join(u.withColumnRenamed("u_milli", "uf"), on="i")
        .select(
            F.col("i").alias("event_type"),
            F.col("total").alias("out_transitions"),
            F.col("direct_milli").alias("absorb1_milli"),
            F.col("uf").alias(f"absorb{_ABS_STEPS}_milli"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Round 9 fourth wave: Markov removal-effect attribution.
# ---------------------------------------------------------------------------

_REMOVAL_CHANNELS = ["click", "error", "signup", "view"]


def _removal_u_steps(tag: str, removed: str | None) -> str:
    """Unrolled 3-step first-passage recursion, optionally with one
    channel removed (its rows AND columns drop from the transient
    part — journeys through it die, the standard removal-effect
    semantics; transition probabilities stay as estimated)."""
    not_removed_i = (
        f" AND d.i <> '{removed}'" if removed is not None else ""
    )
    not_removed_j = (
        f" AND p.j <> '{removed}'" if removed is not None else ""
    )
    steps = [
        f"u1{tag} AS (SELECT i, direct_milli AS u_milli FROM direct d"
        f" WHERE 1=1{not_removed_i.replace('d.i', 'i')})"
    ]
    prev = f"u1{tag}"
    for k in (2, 3):
        steps.append(
            f"u{k}{tag} AS (\n"
            f"    SELECT d.i,\n"
            f"           CAST(d.direct_milli\n"
            f"                + COALESCE(SUM(p.p_milli * u.u_milli), 0)"
            f" // 1000 AS BIGINT) AS u_milli\n"
            f"    FROM direct d\n"
            f"    LEFT JOIN pmat p ON p.i = d.i"
            f" AND p.j <> '{_ABS_TARGET}'{not_removed_j}\n"
            f"    LEFT JOIN {prev} u ON u.i = p.j\n"
            f"    WHERE 1=1{not_removed_i}\n"
            f"    GROUP BY d.i, d.direct_milli\n)"
        )
        prev = f"u{k}{tag}"
    return ",\n".join(steps)


def _removal_v(tag: str, removed: str | None) -> str:
    """Start-mix-weighted conversion value in exact milli; a removed
    channel's starters contribute zero, purchase-first starters
    contribute full mass."""
    excl = f" AND s.s <> '{removed}'" if removed is not None else ""
    return (
        f"v{tag} AS (\n"
        f"    SELECT CAST((COALESCE((SELECT SUM(s.n * u.u_milli)\n"
        f"                  FROM starts s JOIN u3{tag} u ON u.i = s.s\n"
        f"                  WHERE 1=1{excl}), 0)\n"
        f"            + (SELECT COALESCE(SUM(n), 0) FROM starts\n"
        f"               WHERE s = '{_ABS_TARGET}') * 1000)\n"
        f"           // (SELECT SUM(n) FROM starts) AS BIGINT)"
        f" AS v_milli\n)"
    )


def _removal_sql() -> str:
    chans = _REMOVAL_CHANNELS
    chan_ctes = []
    for c in chans:
        chan_ctes.append(_removal_u_steps(c, c))
        chan_ctes.append(_removal_v(c, c))
    selects = " UNION ALL ".join(
        f"SELECT '{c}' AS channel, (SELECT v_milli FROM v{c})"
        f" AS v_removed_milli" for c in chans
    )
    return f"""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type
    FROM events
),
trans AS (
    SELECT prev_type AS i, event_type AS j, CAST(COUNT(*) AS BIGINT) AS c
    FROM ordered
    WHERE prev_type IS NOT NULL AND prev_type <> '{_ABS_TARGET}'
    GROUP BY prev_type, event_type
),
outdeg AS (SELECT i, CAST(SUM(c) AS BIGINT) AS total FROM trans GROUP BY i),
pmat AS (
    SELECT t.i, t.j, CAST(t.c * 1000 // o.total AS BIGINT) AS p_milli
    FROM trans t JOIN outdeg o ON o.i = t.i
),
direct AS (
    SELECT o.i,
           CAST(COALESCE(MAX(CASE WHEN p.j = '{_ABS_TARGET}'
                                  THEN p.p_milli END), 0) AS BIGINT)
               AS direct_milli
    FROM outdeg o LEFT JOIN pmat p ON p.i = o.i
    GROUP BY o.i
),
firsts AS (
    SELECT user_id, event_type AS s
    FROM ordered WHERE prev_type IS NULL
),
starts AS (
    SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM firsts GROUP BY s
),
{_removal_u_steps('base', None)},
{_removal_v('base', None)},
{",".join(chan_ctes)},
removed AS ({selects})
SELECT r.channel,
       (SELECT v_milli FROM vbase) AS v_base_milli,
       r.v_removed_milli,
       CAST(((SELECT v_milli FROM vbase) - r.v_removed_milli) * 1000
            // GREATEST((SELECT v_milli FROM vbase), 1) AS BIGINT)
           AS removal_effect_milli
FROM removed r
ORDER BY r.channel
"""


@register(
    "markov_removal_attribution",
    _removal_sql(),
    doc="Markov removal-effect attribution (the Anderl et al. "
    "data-driven attribution model): for each non-purchase channel, "
    "recompute the start-mix-weighted 3-step conversion probability "
    "with that channel REMOVED from the transient chain (journeys "
    "through it die; transition probabilities stay as estimated) "
    "and credit the channel with the relative conversion drop — the "
    "counterfactual complement to shapley_channel_attribution "
    "(cooperative-game credit on observed paths) and multi_touch_"
    "attribution (positional heuristic): three attribution "
    "doctrines, one engine. All arithmetic inherits the absorption "
    "entry's exact integer-milli recursion (floor once per step), "
    "start mix from the per-user first event, so every value is "
    "bit-exact on both engines. Scale: the one per-user lag window "
    "every journey entry pays, then k x k frames — the 4 removal "
    "variants are 4 more <=25-row unrolled recursions, not 4 more "
    "scans.",
)
def q_markov_removal_attribution(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).localCheckpoint(eager=False)
    trans = (
        ordered.filter(
            F.col("prev_type").isNotNull()
            & (F.col("prev_type") != _ABS_TARGET)
        )
        .groupBy(
            F.col("prev_type").alias("i"), F.col("event_type").alias("j")
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    outdeg = trans.groupBy("i").agg(F.sum("c").cast("long").alias("total"))
    pmat = trans.join(outdeg, on="i").select(
        "i",
        "j",
        F.expr("CAST(c * 1000 DIV total AS BIGINT)").alias("p_milli"),
    ).localCheckpoint(eager=False)
    direct = (
        outdeg.join(
            pmat.withColumnRenamed("i", "pi"),
            outdeg.i == F.col("pi"),
            "left",
        )
        .groupBy("i")
        .agg(
            F.coalesce(
                F.max(
                    F.when(F.col("j") == _ABS_TARGET, F.col("p_milli"))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("direct_milli")
        )
        .localCheckpoint(eager=False)
    )
    starts = (
        ordered.filter(F.col("prev_type").isNull())
        .groupBy(F.col("event_type").alias("s"))
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )

    def u3(removed):
        d = direct
        p = pmat.filter(F.col("j") != _ABS_TARGET)
        if removed is not None:
            d = d.filter(F.col("i") != removed)
            p = p.filter(F.col("j") != removed)
        u = d.select("i", F.col("direct_milli").alias("u_milli"))
        for _ in (2, 3):
            u = (
                d.join(
                    p.withColumnRenamed("i", "pi"),
                    d.i == F.col("pi"),
                    "left",
                )
                .join(
                    u.select(
                        F.col("i").alias("uj"),
                        F.col("u_milli").alias("uv"),
                    ),
                    F.col("j") == F.col("uj"),
                    "left",
                )
                .groupBy("i", "direct_milli")
                .agg(
                    F.expr(
                        "CAST(direct_milli"
                        " + COALESCE(SUM(p_milli * uv), 0) DIV 1000"
                        " AS BIGINT)"
                    ).alias("u_milli")
                )
                .select("i", "u_milli")
            )
        return u

    n_tot = starts.agg(F.sum("n").alias("nt"))
    n_purch = starts.filter(F.col("s") == _ABS_TARGET).agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("np")
    )

    def v_of(u, removed):
        s = starts
        if removed is not None:
            s = s.filter(F.col("s") != removed)
        mass = (
            s.join(u, s.s == u.i)
            .agg(
                F.coalesce(F.sum(F.expr("n * u_milli")), F.lit(0)).alias(
                    "m"
                )
            )
        )
        return (
            mass.crossJoin(F.broadcast(n_purch))
            .crossJoin(F.broadcast(n_tot))
            .select(
                F.expr("CAST((m + np * 1000) DIV nt AS BIGINT)").alias(
                    "v_milli"
                )
            )
        )

    vbase = v_of(u3(None), None).withColumnRenamed(
        "v_milli", "v_base_milli"
    )
    parts = []
    for c in _REMOVAL_CHANNELS:
        vc = v_of(u3(c), c).select(
            F.lit(c).alias("channel"),
            F.col("v_milli").alias("v_removed_milli"),
        )
        parts.append(vc)
    removed = parts[0]
    for p_ in parts[1:]:
        removed = removed.unionByName(p_)
    return (
        removed.crossJoin(F.broadcast(vbase))
        .select(
            "channel",
            "v_base_milli",
            "v_removed_milli",
            F.expr(
                "CAST((v_base_milli - v_removed_milli) * 1000"
                " DIV GREATEST(v_base_milli, 1) AS BIGINT)"
            ).alias("removal_effect_milli"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Round 9 fourth wave: SRE multi-window SLO burn-rate alerts.
# ---------------------------------------------------------------------------

#: Error budget: SLO target 75% non-error => budget fraction 25%.
_SLO_BUDGET_PPM = 250_000
_SLO_LONG_HOURS = 24

_SLO_SQL = f"""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hh,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_err
    FROM events GROUP BY 1
),
windowed AS (
    SELECT hh, n, n_err,
           CAST(SUM(n) OVER (ORDER BY hh
                ROWS BETWEEN {_SLO_LONG_HOURS - 1} PRECEDING
                AND CURRENT ROW) AS BIGINT) AS n_long,
           CAST(SUM(n_err) OVER (ORDER BY hh
                ROWS BETWEEN {_SLO_LONG_HOURS - 1} PRECEDING
                AND CURRENT ROW) AS BIGINT) AS err_long
    FROM hourly
)
SELECT hh AS hour, n, n_err,
       CAST(n_err * 1000000 // n AS BIGINT) AS short_err_ppm,
       CAST(err_long * 1000000 // n_long AS BIGINT) AS long_err_ppm,
       CAST(n_err * 1000000000 // (n * {_SLO_BUDGET_PPM}) AS BIGINT)
           AS short_burn_milli,
       CAST(err_long * 1000000000 // (n_long * {_SLO_BUDGET_PPM})
            AS BIGINT) AS long_burn_milli,
       (n_err * 1000000000 // (n * {_SLO_BUDGET_PPM}) > 2000
        AND err_long * 1000000000 // (n_long * {_SLO_BUDGET_PPM}) > 2000)
           AS page_alert,
       (n_err * 1000000000 // (n * {_SLO_BUDGET_PPM}) > 1000
        AND err_long * 1000000000 // (n_long * {_SLO_BUDGET_PPM}) > 1000)
           AS ticket_alert
FROM windowed
ORDER BY hour
"""


@register(
    "slo_burn_rate_alerts",
    _SLO_SQL,
    doc="Multi-window multi-burn-rate SLO alerting (the Google SRE "
    "workbook policy) on the event error rate: per hour, the "
    "SHORT-window (1 h) and LONG-window (trailing 24 h) burn rates "
    "against a 25% error budget, and the two-tier verdicts — page "
    "when BOTH windows burn > 2x (fast + sustained, the AND that "
    "kills flapping), ticket when both > 1x. Burn rates are exact "
    "integer milli (err*1e9 DIV (n*budget_ppm)); the trailing "
    "window is a ROWS frame over the HOUR grain, so the ordered "
    "window runs over calendar hours, never events. The ops-"
    "monitoring complement to the statistical drift tier "
    "(page_hinkley/cusum detect distribution change; burn-rate "
    "alerts enforce a BUDGET). Scale: one scan-local hour reduce "
    "then a bounded-frame window over the calendar.",
    bounded_frame="calendar-bounded hour grain (24-row ROWS frame)",
)
def q_slo_burn_rate_alerts(spark, sf_dir):
    from pyspark.sql.window import Window as W

    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hh")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_err"),
    )
    w = W.orderBy("hh").rowsBetween(-(_SLO_LONG_HOURS - 1), 0)
    windowed = hourly.select(
        "hh",
        "n",
        "n_err",
        F.sum("n").over(w).cast("long").alias("n_long"),
        F.sum("n_err").over(w).cast("long").alias("err_long"),
    )
    short_burn = F.expr(
        f"n_err * 1000000000 DIV (n * {_SLO_BUDGET_PPM})"
    )
    long_burn = F.expr(
        f"err_long * 1000000000 DIV (n_long * {_SLO_BUDGET_PPM})"
    )
    return windowed.select(
        F.col("hh").alias("hour"),
        "n",
        "n_err",
        F.expr("CAST(n_err * 1000000 DIV n AS BIGINT)").alias(
            "short_err_ppm"
        ),
        F.expr("CAST(err_long * 1000000 DIV n_long AS BIGINT)").alias(
            "long_err_ppm"
        ),
        short_burn.cast("long").alias("short_burn_milli"),
        long_burn.cast("long").alias("long_burn_milli"),
        ((short_burn > 2000) & (long_burn > 2000)).alias("page_alert"),
        ((short_burn > 1000) & (long_burn > 1000)).alias("ticket_alert"),
    ).orderBy("hour")


# ---------------------------------------------------------------------------
# Round 9 fourth wave: Little's-law audit over session intervals.
# ---------------------------------------------------------------------------

_LITTLE_SESSIONS_CTES = """
ordered_l AS (
    SELECT user_id, ts,
           CASE WHEN LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts
                ) IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER (
                       PARTITION BY user_id ORDER BY ts
                   )) > 1800 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
numbered AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_id
    FROM ordered_l
),
sessions AS (
    SELECT user_id, session_id,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS s_us,
           CAST(epoch_us(MAX(ts)) + 1800 * 1000000 AS BIGINT) AS e_us
    FROM numbered GROUP BY user_id, session_id
)"""

_LITTLE_SQL = f"""
WITH {_LITTLE_SESSIONS_CTES},
markers AS (
    SELECT s_us AS t, 1 AS delta FROM sessions
    UNION ALL
    SELECT e_us AS t, -1 AS delta FROM sessions
),
swept AS (
    SELECT t, delta,
           CAST(SUM(delta) OVER (ORDER BY t, delta
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS conc,
           CAST(LEAD(t) OVER (ORDER BY t, delta) - t AS BIGINT) AS gap_us
    FROM markers
),
sums AS (
    SELECT CAST((SELECT COUNT(*) FROM sessions) AS BIGINT) AS n_sessions,
           CAST((SELECT SUM(e_us - s_us) FROM sessions) AS BIGINT)
               AS total_duration_us,
           CAST(SUM(conc * gap_us) AS BIGINT) AS integral_us,
           CAST((SELECT MAX(e_us) - MIN(s_us) FROM sessions) AS BIGINT)
               AS span_us
    FROM swept WHERE gap_us IS NOT NULL
)
SELECT n_sessions, total_duration_us, integral_us, span_us,
       (total_duration_us = integral_us) AS identity_holds,
       CAST(n_sessions * 3600000000 * 1000 // span_us AS BIGINT)
           AS lambda_per_hour_milli,
       CAST(total_duration_us // n_sessions AS BIGINT) AS w_mean_us,
       CAST(integral_us * 1000 // span_us AS BIGINT) AS l_mean_milli
FROM sums
"""


@register(
    "littles_law_audit",
    _LITTLE_SQL,
    doc="Little's law (L = lambda * W) audited EXACTLY on the session "
    "intervals: the time integral of session concurrency (sweep-line "
    "sum of concurrency x inter-marker gap, exact int64 "
    "microseconds) must equal the sum of session durations to the "
    "microsecond — the identity_holds column is the engine "
    "cross-check (a sessionization bug, a marker-ordering slip, or "
    "a lost interval breaks the equality), and the L / lambda / W "
    "readouts (mean concurrency, arrival rate, mean duration) are "
    "the capacity-planning triple the law relates. Sessionization "
    "is the exact-microsecond gaps-and-islands spelling the session "
    "tier shares; ends sort before starts at equal instants "
    "(ORDER BY t, delta). Scale: per-user windows parallelize; the "
    "global sweep is the one ordered pass — partition by day at "
    "scale (the session_peak_concurrency layout), which this entry "
    "keeps GLOBAL so the identity is corpus-exact rather than "
    "per-partition.",
    bounded_frame="global sweep over session markers — documented "
    "approximate scale path: partition the sweep by day (the "
    "session_peak_concurrency layout); kept global here so the "
    "Little's-law identity is corpus-exact",
)
def q_littles_law_audit(spark, sf_dir):
    from pyspark.sql.window import Window as W

    ev = load_events(spark, sf_dir)
    w_user = W.partitionBy("user_id").orderBy("ts")
    marked = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w_user).isNull()
            | (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w_user))
                > 1800 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w_cum = w_user.rowsBetween(W.unboundedPreceding, 0)
    sessions = (
        marked.withColumn("session_id", F.sum("new_session").over(w_cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).cast("long").alias("s_us"),
            (F.unix_micros(F.max("ts")) + 1800 * 1_000_000)
            .cast("long")
            .alias("e_us"),
        )
        .localCheckpoint(eager=False)
    )
    markers = sessions.select(
        F.col("s_us").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(F.col("e_us").alias("t"), F.lit(-1).alias("delta"))
    )
    w_sweep = W.orderBy("t", "delta")
    swept = markers.select(
        "t",
        "delta",
        F.sum("delta")
        .over(w_sweep.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("conc"),
        (F.lead("t").over(w_sweep) - F.col("t"))
        .cast("long")
        .alias("gap_us"),
    )
    integral = swept.filter(F.col("gap_us").isNotNull()).agg(
        F.sum(F.expr("conc * gap_us")).cast("long").alias("integral_us")
    )
    base = sessions.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.expr("e_us - s_us")).cast("long").alias(
            "total_duration_us"
        ),
        (F.max("e_us") - F.min("s_us")).cast("long").alias("span_us"),
    )
    return base.crossJoin(F.broadcast(integral)).select(
        "n_sessions",
        "total_duration_us",
        "integral_us",
        "span_us",
        (F.col("total_duration_us") == F.col("integral_us")).alias(
            "identity_holds"
        ),
        F.expr(
            "CAST(n_sessions * 3600000000 * 1000 DIV span_us AS BIGINT)"
        ).alias("lambda_per_hour_milli"),
        F.expr("CAST(total_duration_us DIV n_sessions AS BIGINT)").alias(
            "w_mean_us"
        ),
        F.expr("CAST(integral_us * 1000 DIV span_us AS BIGINT)").alias(
            "l_mean_milli"
        ),
    )
