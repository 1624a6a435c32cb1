"""Churn-workload registry entries (SURVEY.md §2.12).

The flagship feature snapshot, the label builder, and the training
snapshot, parameterized on the fixture orders table via
``sources.normalized_orders``. Oracles are the exact ANSI-SQL
equivalents with matched column names/types.
"""

from __future__ import annotations

from ecom_churn_lakehouse_spark.plans.churn import (
    churn_labels,
    customer_features,
    training_snapshot,
)
from ecom_churn_lakehouse_spark.registry import AS_OF, HORIZON_DAYS, register
from ecom_churn_lakehouse_spark.sources import normalized_orders
from ecom_churn_lakehouse_spark.streaming.replay import ranges, replay, write_once

# Shared SQL CTE: the normalized orders frame (sources/tables.py).
_BASE = f"""
WITH base AS (
    SELECT
        o_custkey AS customer_id,
        o_orderkey AS order_id,
        CAST(o_orderdate AS DATE) AS order_date,
        o_orderstatus AS order_status
    FROM orders
)
"""

_FEATURES_SQL = f"""
{_BASE},
pit AS (
    SELECT * FROM base WHERE order_date <= DATE '{AS_OF}'
),
stats AS (
    SELECT customer_id,
           MAX(order_date) AS last_order_date,
           MIN(order_date) AS first_order_date,
           COUNT(DISTINCT order_id) AS lifetime_orders
    FROM pit GROUP BY customer_id
),
o30 AS (
    SELECT customer_id, COUNT(DISTINCT order_id) AS orders_30d
    FROM pit WHERE order_date >= DATE '{AS_OF}' - INTERVAL 29 DAY
    GROUP BY customer_id
),
o90 AS (
    SELECT customer_id, COUNT(DISTINCT order_id) AS orders_90d
    FROM pit WHERE order_date >= DATE '{AS_OF}' - INTERVAL 89 DAY
    GROUP BY customer_id
),
gaps AS (
    SELECT customer_id,
           AVG(CAST(gap_days AS DOUBLE)) AS avg_days_between_orders
    FROM (
        SELECT customer_id,
               date_diff('day',
                         lag(order_date) OVER (
                             PARTITION BY customer_id
                             ORDER BY order_date, order_id),
                         order_date) AS gap_days
        FROM pit
    )
    WHERE gap_days IS NOT NULL
    GROUP BY customer_id
)
SELECT
    s.customer_id AS customer_id,
    CAST(date_diff('day', s.last_order_date, DATE '{AS_OF}') AS INTEGER)
        AS recency_days,
    COALESCE(o30.orders_30d, 0) AS orders_30d,
    COALESCE(o90.orders_90d, 0) AS orders_90d,
    s.lifetime_orders AS lifetime_orders,
    CAST(date_diff('day', s.first_order_date, DATE '{AS_OF}') AS INTEGER)
        AS customer_tenure_days,
    ROUND(COALESCE(g.avg_days_between_orders, 0.0), 6)
        AS avg_days_between_orders
FROM stats s
LEFT JOIN o30 USING (customer_id)
LEFT JOIN o90 USING (customer_id)
LEFT JOIN gaps g USING (customer_id)
"""


@register(
    "customer_features",
    _FEATURES_SQL,
    doc="Flagship point-in-time feature snapshot (SURVEY §2.12, §7.1).",
)
def q_customer_features(spark, sf_dir):
    return customer_features(normalized_orders(spark, sf_dir), AS_OF)


_LABELS_SQL = f"""
{_BASE},
bounds AS (SELECT MAX(order_date) AS dataset_end_date FROM base),
spine AS (
    SELECT DISTINCT customer_id FROM base, bounds
    WHERE order_date <= DATE '{AS_OF}'
      AND DATE '{AS_OF}' + INTERVAL {HORIZON_DAYS} DAY <= bounds.dataset_end_date
),
future_active AS (
    SELECT DISTINCT customer_id FROM base
    WHERE order_date > DATE '{AS_OF}'
      AND order_date <= DATE '{AS_OF}' + INTERVAL {HORIZON_DAYS} DAY
      AND order_status NOT IN ('P')
)
SELECT s.customer_id AS customer_id,
       CAST(CASE WHEN f.customer_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
           AS churn_label
FROM spine s LEFT JOIN future_active f ON s.customer_id = f.customer_id
"""


@register(
    "churn_labels",
    _LABELS_SQL,
    doc="60-day churn labels, existence-test left join J3 (labels.py:145-199).",
)
def q_churn_labels(spark, sf_dir):
    return churn_labels(normalized_orders(spark, sf_dir), AS_OF, HORIZON_DAYS)


_SNAPSHOT_SQL = f"""
WITH feats AS ({_FEATURES_SQL}),
labels AS ({_LABELS_SQL})
SELECT feats.*, labels.churn_label AS churn_label
FROM feats INNER JOIN labels USING (customer_id)
"""


@register(
    "training_snapshot",
    _SNAPSHOT_SQL,
    doc="Features ⋈ labels on the snapshot grain, J4 (build_training_snapshot.py:143-177).",
)
def q_training_snapshot(spark, sf_dir):
    return training_snapshot(normalized_orders(spark, sf_dir), AS_OF, HORIZON_DAYS)


# ------------------------- univariate feature screening (rank AUC)

_AUC_FEATURE_CTE = """
{g} AS (
    SELECT {col} AS s, COUNT(*) AS n, SUM(y) AS npos
    FROM d GROUP BY 1
),
{c} AS (
    SELECT npos, n,
           COALESCE(SUM(n) OVER (
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS below
    FROM {g}
),
{a} AS (
    SELECT CAST(SUM(npos * (below + (n + 1) / 2.0)) AS DOUBLE) AS rpos
    FROM {c}
)"""

_AUC_SQL = f"""
WITH feats AS ({_FEATURES_SQL}),
labels AS ({_LABELS_SQL}),
d AS (
    SELECT f.lifetime_orders AS s_orders,
           f.recency_days AS s_recency,
           l.churn_label AS y
    FROM feats f JOIN labels l ON f.customer_id = l.customer_id
),
tot AS (
    SELECT CAST(SUM(y) AS DOUBLE) AS n1,
           CAST(COUNT(*) - SUM(y) AS DOUBLE) AS n0
    FROM d
),
{_AUC_FEATURE_CTE.format(g="g_o", c="c_o", a="a_o", col="s_orders")},
{_AUC_FEATURE_CTE.format(g="g_r", c="c_r", a="a_r", col="s_recency")}
SELECT CAST(n1 AS BIGINT) AS n_churned,
       CAST(n0 AS BIGINT) AS n_retained,
       ROUND((a_o.rpos - n1 * (n1 + 1) / 2.0) / (n1 * n0), 6)
           AS auc_lifetime_orders,
       ROUND((a_r.rpos - n1 * (n1 + 1) / 2.0) / (n1 * n0), 6)
           AS auc_recency_days
FROM tot, a_o, a_r
"""


@register(
    "feature_auc_screen",
    _AUC_SQL,
    doc="Univariate feature screening: rank-based (Mann-Whitney) AUC "
    "of each candidate feature against the churn label — P(churned "
    "customer scores higher than retained), ties at average rank. "
    "The screening step before any model training: recency should "
    "screen ABOVE 0.5 (stale customers churn), order counts BELOW "
    "(loyal customers stay). Scale: each feature aggregates to "
    "(value, n, n_pos) first, so the rank cumulative runs over the "
    "DISTINCT-value frame (feature-cardinality-sized, not population-"
    "sized — no single-partition per-row rank window); all-rational "
    "arithmetic under ROUND(...,6) so the oracle hash is exact.",
)
def q_feature_auc_screen(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    feats = q_customer_features(spark, sf_dir).select(
        "customer_id", "lifetime_orders", "recency_days"
    )
    labels = q_churn_labels(spark, sf_dir)
    d = feats.join(labels, on="customer_id").select(
        F.col("lifetime_orders").alias("s_orders"),
        F.col("recency_days").alias("s_recency"),
        F.col("churn_label").alias("y"),
    )

    def rpos(col: str):
        grp = d.groupBy(F.col(col).alias("s")).agg(
            F.count("*").alias("n"), F.sum("y").alias("npos")
        )
        below = F.coalesce(
            F.sum("n").over(
                Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        return (
            grp.select("n", "npos", below.alias("below"))
            .agg(
                F.sum(
                    F.col("npos") * (F.col("below") + (F.col("n") + 1) / 2.0)
                )
                .cast("double")
                .alias("rpos")
            )
        )

    tot = d.agg(
        F.sum("y").cast("double").alias("n1"),
        (F.count("*") - F.sum("y")).cast("double").alias("n0"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    return (
        tot.crossJoin(F.broadcast(rpos("s_orders").withColumnRenamed("rpos", "rpos_o")))
        .crossJoin(F.broadcast(rpos("s_recency").withColumnRenamed("rpos", "rpos_r")))
        .select(
            n1.cast("long").alias("n_churned"),
            n0.cast("long").alias("n_retained"),
            F.round(
                (F.col("rpos_o") - n1 * (n1 + 1) / 2.0) / (n1 * n0), 6
            ).alias("auc_lifetime_orders"),
            F.round(
                (F.col("rpos_r") - n1 * (n1 + 1) / 2.0) / (n1 * n0), 6
            ).alias("auc_recency_days"),
        )
    )


# -------------------- model evaluation metrics (reference parity)

#: fixed "approved model" weights — scoring-parity stand-in for a
#: trained model (any coefficients exercise the same plan). DYADIC
#: rationals (1/32, -1/4, -3/8): every product with the integer
#: features and every partial sum is exactly representable, so even
#: FMA contraction (which DuckDB's codegen applies and Spark's JIT
#: does not — measured 1-ulp drift on 265/1464 rows with 0.03) cannot
#: change the value.
_W_RECENCY, _W_ORDERS, _B = 0.03125, -0.25, -0.375

#: rational sigmoid substitute: 0.5 + z / (2 * (1 + |z|)) — monotone,
#: bounded to (0, 1), and built from IEEE +,*,/,abs over EXACT inputs
#: (one rounded division, one rounded add — both deterministic), so
#: the score is BIT-IDENTICAL across engines (exp() differs in the
#: last ulp between libm implementations, which would flip rank ties
#: and break the oracle hash of the ranking metrics).
_SCORE_SQL = (
    f"(0.5 + ({_W_RECENCY} * recency_days + {_W_ORDERS} * lifetime_orders "
    f"+ {_B}) / (2.0 * (1.0 + abs({_W_RECENCY} * recency_days "
    f"+ {_W_ORDERS} * lifetime_orders + {_B}))))"
)

_EVAL_SQL = f"""
WITH feats AS ({_FEATURES_SQL}),
labels AS ({_LABELS_SQL}),
scored AS (
    SELECT f.customer_id, l.churn_label AS y,
           {_SCORE_SQL} AS p
    FROM feats f JOIN labels l ON f.customer_id = l.customer_id
),
grp AS (
    SELECT p, COUNT(*) AS n, SUM(y) AS npos
    FROM scored GROUP BY p
),
cum AS (
    SELECT p, n, npos,
           SUM(n) OVER (ORDER BY p DESC) AS cum_n,
           SUM(npos) OVER (ORDER BY p DESC) AS cum_pos,
           COALESCE(SUM(n) OVER (
               ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS below
    FROM grp
),
rankagg AS (
    SELECT CAST(SUM(npos) AS DOUBLE) AS n1,
           CAST(SUM(n) - SUM(npos) AS DOUBLE) AS n0,
           SUM(npos * (below + (n + 1) / 2.0)) AS rpos,
           CAST(SUM(CAST(npos * (CAST(cum_pos AS DOUBLE) / cum_n)
                         AS DECIMAL(28,12))) AS DOUBLE) AS ap_sum
    FROM cum
),
brieragg AS (
    SELECT CAST(SUM(CAST((p - y) * (p - y) AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS brier
    FROM scored
)
SELECT CAST(n1 AS BIGINT) AS n_pos,
       CAST(n0 AS BIGINT) AS n_neg,
       ROUND((rpos - n1 * (n1 + 1) / 2.0) / (n1 * n0), 6) AS roc_auc,
       ROUND(ap_sum / n1, 6) AS pr_auc,
       ROUND(brier, 6) AS brier_score
FROM rankagg, brieragg
"""


@register(
    "model_eval_metrics",
    _EVAL_SQL,
    doc="Classifier evaluation metrics — the reference's sklearn metric "
    "set (train_stub.py:237-240: roc_auc_score, "
    "average_precision_score, brier_score_loss) computed IN SPARK "
    "at SCORE grain: the population aggregates to (score, n, n_pos) "
    "first, then ROC-AUC (average-rank Mann-Whitney over tied "
    "groups) and PR-AUC (sklearn's threshold-stepwise average "
    "precision: sum over thresholds of delta-recall x precision) "
    "come from cumulative windows over the DISTINCT-score frame — "
    "cardinality bounded by the score function's range, not the "
    "population, so the single-partition rank window a per-row "
    "formulation needs never exists and no per-row tie-break enters "
    "the value (exact sklearn semantics). The model is a fixed-"
    "coefficient scorer through a RATIONAL squash over DYADIC "
    "weights (no exp(), FMA-immune — see _SCORE_SQL notes); the AP "
    "terms accumulate per-term DECIMAL so the sum is order-free.",
)
def q_model_eval_metrics(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    feats = q_customer_features(spark, sf_dir).select(
        "customer_id", "recency_days", "lifetime_orders"
    )
    labels = q_churn_labels(spark, sf_dir)
    z = (
        _W_RECENCY * F.col("recency_days")
        + _W_ORDERS * F.col("lifetime_orders")
        + F.lit(_B)
    )
    p = F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))
    scored = feats.join(labels, on="customer_id").select(
        "customer_id", F.col("churn_label").alias("y"), p.alias("p")
    )
    grp = scored.groupBy("p").agg(
        F.count("*").alias("n"), F.sum("y").alias("npos")
    )
    w_desc = Window.orderBy(F.col("p").desc())
    w_below = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
    cum = grp.select(
        "p",
        "n",
        "npos",
        F.sum("n").over(w_desc).alias("cum_n"),
        F.sum("npos").over(w_desc).alias("cum_pos"),
        F.coalesce(F.sum("n").over(w_below), F.lit(0)).alias("below"),
    )
    rankagg = cum.agg(
        F.sum("npos").cast("double").alias("n1"),
        (F.sum("n") - F.sum("npos")).cast("double").alias("n0"),
        F.sum(
            F.col("npos") * (F.col("below") + (F.col("n") + 1) / 2.0)
        ).alias("rpos"),
        F.sum(
            (
                F.col("npos")
                * (F.col("cum_pos").cast("double") / F.col("cum_n"))
            ).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("ap_sum"),
    )
    brieragg = scored.agg(
        (
            F.sum(
                ((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).cast(
                    "decimal(28,12)"
                )
            ).cast("double")
            / F.count("*")
        ).alias("brier")
    )
    n1, n0 = F.col("n1"), F.col("n0")
    return rankagg.crossJoin(F.broadcast(brieragg)).select(
        n1.cast("long").alias("n_pos"),
        n0.cast("long").alias("n_neg"),
        F.round((F.col("rpos") - n1 * (n1 + 1) / 2.0) / (n1 * n0), 6).alias(
            "roc_auc"
        ),
        F.round(F.col("ap_sum") / n1, 6).alias("pr_auc"),
        F.round(F.col("brier"), 6).alias("brier_score"),
    )


# ----------------------- score calibration (reliability bins)

_CALIBRATION_SQL = f"""
WITH feats AS ({_FEATURES_SQL}),
labels AS ({_LABELS_SQL}),
scored AS (
    SELECT f.customer_id, l.churn_label AS y,
           {_SCORE_SQL} AS p
    FROM feats f JOIN labels l ON f.customer_id = l.customer_id
)
SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(p AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
           AS mean_score,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS observed_rate,
       ROUND(ABS(CAST(SUM(CAST(p AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
                 - CAST(SUM(y) AS DOUBLE) / COUNT(*)), 6) AS calibration_gap
FROM scored
GROUP BY LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9)
ORDER BY bin
"""


@register(
    "score_calibration_bins",
    _CALIBRATION_SQL,
    doc="Reliability diagram for the churn scorer: decile score bins "
    "with mean predicted probability vs observed churn rate and the "
    "per-bin calibration gap — the companion readout to "
    "model_eval_metrics (AUC ranks, calibration tells you whether "
    "the probabilities themselves are usable for thresholding). One "
    "map-side-combinable aggregate over the scored population; the "
    "mean score accumulates per-row DECIMAL so the bin means are "
    "order-free, and the score itself is the same FMA-immune "
    "rational squash as the eval entry.",
)
def q_score_calibration_bins(spark, sf_dir):
    from pyspark.sql import functions as F

    feats = q_customer_features(spark, sf_dir).select(
        "customer_id", "recency_days", "lifetime_orders"
    )
    labels = q_churn_labels(spark, sf_dir)
    z = (
        _W_RECENCY * F.col("recency_days")
        + _W_ORDERS * F.col("lifetime_orders")
        + F.lit(_B)
    )
    p = F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))
    scored = feats.join(labels, on="customer_id").select(
        F.col("churn_label").alias("y"), p.alias("p")
    )
    bin_col = F.least(F.floor(F.col("p") * 10).cast("long"), F.lit(9))
    mean_score = (
        F.sum(F.col("p").cast("decimal(28,12)")).cast("double")
        / F.count("*")
    )
    observed = F.sum("y").cast("double") / F.count("*")
    return (
        scored.groupBy(bin_col.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.round(mean_score, 6).alias("mean_score"),
            F.round(observed, 6).alias("observed_rate"),
            F.round(F.abs(mean_score - observed), 6).alias(
                "calibration_gap"
            ),
        )
        .orderBy("bin")
    )


# ----------------------- churn hazard table (survival analysis)

_HAZARD_SQL = f"""
WITH feats AS ({_FEATURES_SQL}),
labels AS ({_LABELS_SQL}),
pop AS (
    SELECT f.customer_id, l.churn_label AS d,
           CASE WHEN l.churn_label = 1
                THEN f.customer_tenure_days - f.recency_days
                ELSE f.customer_tenure_days END AS t
    FROM feats f JOIN labels l ON f.customer_id = l.customer_id
),
tot AS (SELECT COUNT(*) AS n FROM pop),
byt AS (
    SELECT t, CAST(SUM(d) AS BIGINT) AS n_churned,
           CAST(COUNT(*) - SUM(d) AS BIGINT) AS n_censored
    FROM pop GROUP BY t
),
cum AS (
    SELECT t, n_churned, n_censored,
           (SELECT n FROM tot)
           - COALESCE(SUM(n_churned + n_censored) OVER (
                 ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS n_at_risk
    FROM byt
)
SELECT t AS lifetime_days,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       n_churned, n_censored,
       CAST((n_churned * 1000000) // n_at_risk AS BIGINT) AS hazard_ppm
FROM cum
ORDER BY lifetime_days
"""


@register(
    "churn_hazard_table",
    _HAZARD_SQL,
    doc="Actuarial life table for customer churn: per lifetime-day "
    "risk sets with churn events, right-censoring (customers still "
    "active at the snapshot censor at their tenure), and the "
    "discrete hazard d/n — the survival-analysis view of the same "
    "labels the classifier trains on (Kaplan-Meier's S(t) is the "
    "running product of (1-hazard); the product stays OUT of the "
    "oracle surface because exp/ln chains differ in the last ulp "
    "across libm implementations — and the hazard itself is emitted "
    "as exact integer parts-per-million (floor division on both "
    "sides), never a rounded double: round 4's driver found the one "
    "fixture row whose hazard 3/640 = 0.0046875 sits exactly on a "
    "6-digit half-rounding boundary, where ROUND over a double is "
    "engine-version-dependent by construction). Shape: "
    "one per-customer aggregate, one per-day aggregate, one "
    "cumulative window over the tiny day-grain frame.",
)
def q_churn_hazard_table(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    feats = q_customer_features(spark, sf_dir).select(
        "customer_id", "recency_days", "customer_tenure_days"
    )
    labels = q_churn_labels(spark, sf_dir)
    pop = feats.join(labels, on="customer_id").select(
        F.col("churn_label").alias("d"),
        F.when(
            F.col("churn_label") == 1,
            F.col("customer_tenure_days") - F.col("recency_days"),
        )
        .otherwise(F.col("customer_tenure_days"))
        .alias("t"),
    )
    tot = pop.agg(F.count("*").alias("n"))
    byt = pop.groupBy("t").agg(
        F.sum("d").cast("long").alias("n_churned"),
        (F.count("*") - F.sum("d")).cast("long").alias("n_censored"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    return (
        byt.join(F.broadcast(tot))
        .select(
            F.col("t").alias("lifetime_days"),
            (
                F.col("n")
                - F.coalesce(
                    F.sum(F.col("n_churned") + F.col("n_censored")).over(
                        w_prev
                    ),
                    F.lit(0),
                )
            ).alias("n_at_risk"),
            "n_churned",
            "n_censored",
        )
        .select(
            "lifetime_days",
            "n_at_risk",
            "n_churned",
            "n_censored",
            # Exact integer ppm (LONG DIV LONG), zero float surface:
            # hash-stable under any engine's rounding implementation.
            F.expr("(n_churned * 1000000L) DIV n_at_risk")
            .cast("long")
            .alias("hazard_ppm"),
        )
        .orderBy("lifetime_days")
    )


# ----------------------- isotonic calibration (PAV, applyInPandas)

_ISO_BINS = 50

_ISOTONIC_SQL = f"""
WITH feats AS ({_FEATURES_SQL}),
labels AS ({_LABELS_SQL}),
scored AS (
    SELECT c.c_mktsegment AS segment,
           l.churn_label AS y,
           LEAST(CAST(FLOOR({_SCORE_SQL} * {_ISO_BINS}) AS BIGINT),
                 {_ISO_BINS - 1}) AS score_bin
    FROM feats f
    JOIN labels l ON f.customer_id = l.customer_id
    JOIN customer c ON c.c_custkey = f.customer_id
),
bins AS (
    SELECT segment, score_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS y_sum
    FROM scored GROUP BY segment, score_bin
),
cums AS (
    SELECT segment, score_bin, n, y_sum,
           SUM(n) OVER w AS cn, SUM(y_sum) OVER w AS cy
    FROM bins
    WINDOW w AS (PARTITION BY segment ORDER BY score_bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
intervals AS (
    SELECT a.segment, a.score_bin AS lo, b.score_bin AS hi,
           CAST((b.cy - a.cy + a.y_sum) * 1000000
                // (b.cn - a.cn + a.n) AS BIGINT) AS ppm
    FROM cums a JOIN cums b
      ON a.segment = b.segment AND a.score_bin <= b.score_bin
),
inner_min AS (
    SELECT iv.segment, i.score_bin, iv.lo, MIN(iv.ppm) AS mn
    FROM intervals iv
    JOIN bins i ON i.segment = iv.segment
               AND i.score_bin >= iv.lo AND i.score_bin <= iv.hi
    GROUP BY iv.segment, i.score_bin, iv.lo
)
SELECT m.segment, m.score_bin, b.n, b.y_sum,
       CAST(MAX(m.mn) AS BIGINT) AS fitted_rate_ppm
FROM inner_min m
JOIN bins b ON b.segment = m.segment AND b.score_bin = m.score_bin
GROUP BY m.segment, m.score_bin, b.n, b.y_sum
"""


@register(
    "isotonic_calibration",
    _ISOTONIC_SQL,
    doc="Per-segment isotonic (PAV) calibration of the churn scorer — "
    "the monotone recalibration step between raw scores and "
    "thresholding, fit with the grouped-map Pandas API "
    "(operators/isotonic.py): a relational pre-bin bounds what "
    "Python ever sees to |segments| x 50 rows regardless of input "
    "size, then pool-adjacent-violators runs per group inside ONE "
    "Arrow batch with pure integer arithmetic (violations detected "
    "by cross-multiplication). The oracle verifies the sequential "
    "pooling algorithm against the closed-form minimax identity "
    "fit(i) = max_(lo<=i) min_(hi>=i) mean(lo..hi) — exact in ppm "
    "because floor commutes with min/max — so an off-by-one in the "
    "pooling loop hash-fails. The one genuinely-iterative per-group "
    "op in the registry, and the reason applyInPandas (not a window "
    "or agg) is the right tool for it.",
)
def q_isotonic_calibration(spark, sf_dir):
    from pyspark.sql import functions as F

    from ecom_churn_lakehouse_spark.operators.isotonic import (
        isotonic_fit_binned,
    )
    from ecom_churn_lakehouse_spark.sources import load_table

    feats = q_customer_features(spark, sf_dir).select(
        "customer_id", "recency_days", "lifetime_orders"
    )
    labels = q_churn_labels(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    z = (
        _W_RECENCY * F.col("recency_days")
        + _W_ORDERS * F.col("lifetime_orders")
        + F.lit(_B)
    )
    p = F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))
    scored = (
        feats.join(labels, on="customer_id")
        .join(F.broadcast(cust), on="customer_id")
        .select(
            "segment",
            F.col("churn_label").alias("y"),
            F.least(
                F.floor(p * _ISO_BINS).cast("long"),
                F.lit(_ISO_BINS - 1),
            ).alias("score_bin"),
        )
    )
    binned = scored.groupBy("segment", "score_bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("y_sum"),
    )
    return isotonic_fit_binned(
        binned, group_col="segment", bin_col="score_bin"
    ).select(
        F.col("group_key").alias("segment"),
        "score_bin",
        "n",
        "y_sum",
        "fitted_rate_ppm",
    )


# -------------------- gains / lift table (decile targeting curve)

_GAINS_DECILES = 10

_GAINS_SQL = f"""
WITH feats AS ({_FEATURES_SQL}),
labels AS ({_LABELS_SQL}),
d AS (
    SELECT f.customer_id, f.recency_days, l.churn_label AS y
    FROM feats f JOIN labels l ON f.customer_id = l.customer_id
),
deciled AS (
    SELECT y,
           CAST(NTILE({_GAINS_DECILES}) OVER (
               ORDER BY recency_days DESC, customer_id) AS INTEGER) AS decile
    FROM d
),
g AS (
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_churned
    FROM deciled GROUP BY decile
),
c AS (
    SELECT decile, n, n_churned,
           CAST(SUM(n_churned) OVER (ORDER BY decile) AS BIGINT) AS cum_churned,
           CAST(SUM(n_churned) OVER () AS BIGINT) AS tot_churned,
           CAST(SUM(n) OVER () AS BIGINT) AS tot_n
    FROM g
)
SELECT decile, n, n_churned,
       CAST(n_churned * 1000000 // n AS BIGINT) AS churn_rate_ppm,
       CAST(cum_churned * 1000000 // tot_churned AS BIGINT) AS cum_captured_ppm,
       CAST(n_churned * tot_n * 1000000 // (n * tot_churned) AS BIGINT) AS lift_ppm
FROM c
"""


@register(
    "churn_gains_table",
    _GAINS_SQL,
    doc=f"Gains/lift table for churn targeting: customers ranked by "
    "the recency heuristic score (stalest first), cut into "
    f"{_GAINS_DECILES} deciles; per decile the exact churn rate, "
    "cumulative share of all churners captured, and lift vs the base "
    "rate — the retention-campaign budget curve every model review "
    "reads next to AUC (feature_auc_screen) and calibration "
    "(score_calibration_bins). All ratios are exact integer ppm via "
    "DIV on non-negative counts. Scale: the decile cut is the deciles "
    "pattern (range-partitionable NTILE over the customer frame); "
    "every window after it runs on the 10-row decile frame.",
)
def q_churn_gains_table(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    feats = q_customer_features(spark, sf_dir).select("customer_id", "recency_days")
    labels = q_churn_labels(spark, sf_dir)
    d = feats.join(labels, on="customer_id").select(
        "customer_id", "recency_days", F.col("churn_label").alias("y")
    )
    deciled = d.select(
        "y",
        F.ntile(_GAINS_DECILES)
        .over(Window.orderBy(F.desc("recency_days"), "customer_id"))
        .cast("int")
        .alias("decile"),
    )
    g = deciled.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_churned"),
    )
    c = g.select(
        "decile",
        "n",
        "n_churned",
        F.sum("n_churned").over(Window.orderBy("decile")).cast("long").alias("cum_churned"),
        F.sum("n_churned").over(Window.partitionBy()).cast("long").alias("tot_churned"),
        F.sum("n").over(Window.partitionBy()).cast("long").alias("tot_n"),
    )
    return c.select(
        "decile",
        "n",
        "n_churned",
        F.expr("CAST(n_churned * 1000000 DIV n AS BIGINT)").alias("churn_rate_ppm"),
        F.expr("CAST(cum_churned * 1000000 DIV tot_churned AS BIGINT)").alias(
            "cum_captured_ppm"
        ),
        F.expr(
            "CAST(n_churned * tot_n * 1000000 DIV (n * tot_churned) AS BIGINT)"
        ).alias("lift_ppm"),
    )


# -------------------- threshold sweep: precision/recall/F1 by decile cut

_PR_SWEEP_SQL = f"""
WITH feats AS ({_FEATURES_SQL}),
labels AS ({_LABELS_SQL}),
scored AS (
    SELECT f.customer_id, l.churn_label AS y,
           {_SCORE_SQL} AS p
    FROM feats f JOIN labels l ON f.customer_id = l.customer_id
),
deciled AS (
    SELECT y,
           CAST(NTILE(10) OVER (ORDER BY p DESC, customer_id) AS INTEGER) AS cut
    FROM scored
),
g AS (
    SELECT cut, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS npos
    FROM deciled GROUP BY cut
),
c AS (
    SELECT cut,
           CAST(SUM(n) OVER (ORDER BY cut) AS BIGINT) AS cum_n,
           CAST(SUM(npos) OVER (ORDER BY cut) AS BIGINT) AS cum_pos,
           CAST(SUM(npos) OVER () AS BIGINT) AS tot_pos
    FROM g
)
SELECT cut, cum_n AS n_flagged, cum_pos AS true_positives,
       CAST(cum_pos * 1000000 // cum_n AS BIGINT) AS precision_ppm,
       CAST(cum_pos * 1000000 // tot_pos AS BIGINT) AS recall_ppm,
       CAST(2 * cum_pos * 1000000 // (cum_n + tot_pos) AS BIGINT) AS f1_ppm
FROM c
"""


@register(
    "threshold_sweep_pr_curve",
    _PR_SWEEP_SQL,
    doc="Operating-point sweep for the approved churn model: rank "
    "customers by the deterministic rational-sigmoid score, cut at "
    "each decile, and report precision / recall / F1 at every cut in "
    "EXACT integer ppm (F1 = 2TP/(flagged+actual_pos) — computed from "
    "raw counts, never from the rounded P and R). The curve "
    "model_eval_metrics' scalar PR-AUC integrates — a campaign picks "
    "ITS operating point off this table. Decile-cut thresholds avoid "
    "float threshold comparisons entirely. Scale: NTILE over the "
    "customer frame (deciles pattern); every window after runs on the "
    "10-row cut frame.",
)
def q_threshold_sweep_pr_curve(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    feats = q_customer_features(spark, sf_dir).select(
        "customer_id", "recency_days", "lifetime_orders"
    )
    labels = q_churn_labels(spark, sf_dir)
    scored = feats.join(labels, on="customer_id").select(
        "customer_id",
        F.col("churn_label").alias("y"),
        F.expr(_SCORE_SQL).alias("p"),
    )
    deciled = scored.select(
        "y",
        F.ntile(10)
        .over(Window.orderBy(F.desc("p"), "customer_id"))
        .cast("int")
        .alias("cut"),
    )
    g = deciled.groupBy("cut").agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("npos")
    )
    c = g.select(
        "cut",
        F.sum("n").over(Window.orderBy("cut")).cast("long").alias("cum_n"),
        F.sum("npos").over(Window.orderBy("cut")).cast("long").alias("cum_pos"),
        F.sum("npos").over(Window.partitionBy()).cast("long").alias("tot_pos"),
    )
    return c.select(
        "cut",
        F.col("cum_n").alias("n_flagged"),
        F.col("cum_pos").alias("true_positives"),
        F.expr("CAST(cum_pos * 1000000 DIV cum_n AS BIGINT)").alias("precision_ppm"),
        F.expr("CAST(cum_pos * 1000000 DIV tot_pos AS BIGINT)").alias("recall_ppm"),
        F.expr("CAST(2 * cum_pos * 1000000 DIV (cum_n + tot_pos) AS BIGINT)").alias(
            "f1_ppm"
        ),
    )


# ------------------------------------------- Weibull hazard shape

#: Weibull probability-plot regression: y = ln(-ln(S(g))) on
#: x = ln(g) over the distinct-gap grid; the slope is the Weibull
#: shape k (k < 1: decreasing hazard — long-idle customers reorder
#: LESS; k > 1: aging-in). Both coordinates quantize to micro per
#: GRID POINT from exact integer (cum, n) before the OLS sums.
_WEIB_X = "CAST(FLOOR(ln(CAST(gap AS DOUBLE)) * 1000000.0) AS BIGINT)"
_WEIB_Y = (
    "CAST(FLOOR(ln(-ln(CAST(n_gaps - cum AS DOUBLE)"
    " / CAST(n_gaps AS DOUBLE))) * 1000000.0) AS BIGINT)"
)
_WEIB_SLOPE_MILLI = (
    "CAST(FLOOR((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000.0) AS BIGINT)"
)

_WEIB_SQL = f"""
WITH seq AS (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders
),
gaps AS (
    SELECT CAST(date_diff('day',
               LAG(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey),
               d) AS BIGINT) AS gap
    FROM seq
),
valid AS (SELECT gap FROM gaps WHERE gap IS NOT NULL AND gap >= 1),
per_gap AS (
    SELECT gap, CAST(COUNT(*) AS BIGINT) AS c FROM valid GROUP BY gap
),
cum_t AS (
    SELECT gap,
           CAST(SUM(c) OVER (ORDER BY gap) AS BIGINT) AS cum,
           CAST(SUM(c) OVER () AS BIGINT) AS n_gaps
    FROM per_gap
),
points AS (
    SELECT {_WEIB_X} AS x_micro, {_WEIB_Y} AS y_micro
    FROM cum_t WHERE cum < n_gaps
),
fit AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS np,
           CAST(SUM(x_micro) AS BIGINT) AS sx,
           CAST(SUM(y_micro) AS BIGINT) AS sy,
           CAST(SUM(CAST(x_micro AS HUGEINT) * x_micro) AS VARCHAR) AS sxx_s,
           CAST(SUM(CAST(x_micro AS HUGEINT) * x_micro) AS DOUBLE) AS sxx_d,
           CAST(SUM(CAST(x_micro AS HUGEINT) * y_micro) AS DOUBLE) AS sxy_d
    FROM points
),
named AS (
    SELECT np, sx, sy, sxx_d AS sxx, sxy_d AS sxy,
           (SELECT CAST(MAX(n_gaps) AS BIGINT) FROM cum_t) AS n_gaps
    FROM fit
)
SELECT n_gaps, np AS n_grid_points,
       {_WEIB_SLOPE_MILLI} AS weibull_shape_milli,
       {_WEIB_SLOPE_MILLI} < 1000 AS decreasing_hazard
FROM named
"""


@register(
    "interevent_weibull_shape",
    _WEIB_SQL,
    doc="Weibull shape of the inter-order gap distribution via the "
    "probability-plot regression ln(-ln S(g)) ~ ln g over the "
    "distinct-gap grid — THE parametric answer to 'does reorder "
    "propensity age in or age out' that churn_hazard_table shows "
    "non-parametrically (shape < 1 = decreasing hazard = long-idle "
    "customers are progressively less likely to return, the "
    "standard churn-risk justification). Survival comes from exact "
    "integer cumulative counts; each plot coordinate quantizes to "
    "micro per grid point; the OLS sums are exact ints (the x^2 "
    "products accumulate in HUGEINT/DECIMAL and reach the final "
    "shared expression as deterministically-rounded doubles). "
    "Scale: gaps come from one per-customer lag window; everything "
    "after runs at the distinct-gap grid (<= max gap days rows).",
)
def q_interevent_weibull_shape(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ecom_churn_lakehouse_spark.sources import load_table

    seq = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = seq.select(
        F.datediff(F.col("d"), F.lag("d").over(w)).cast("long").alias("gap")
    )
    valid = gaps.filter(F.col("gap") >= 1)
    per_gap = valid.groupBy("gap").agg(F.count("*").cast("long").alias("c"))
    w_cum = Window.orderBy("gap")
    w_all = Window.partitionBy()
    cum_t = per_gap.select(
        "gap",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("n_gaps"),
    ).localCheckpoint(eager=False)
    points = cum_t.filter(F.col("cum") < F.col("n_gaps")).select(
        F.expr(_WEIB_X).alias("x_micro"), F.expr(_WEIB_Y).alias("y_micro")
    )
    fit = points.agg(
        F.count("*").cast("long").alias("np"),
        F.sum("x_micro").cast("long").alias("sx"),
        F.sum("y_micro").cast("long").alias("sy"),
        F.sum(F.col("x_micro").cast("decimal(38,0)") * F.col("x_micro"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("x_micro").cast("decimal(38,0)") * F.col("y_micro"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("sxy"),
    )
    n_gaps = cum_t.agg(F.max("n_gaps").cast("long").alias("n_gaps"))
    named = fit.crossJoin(F.broadcast(n_gaps))
    return named.select(
        "n_gaps",
        F.col("np").alias("n_grid_points"),
        F.expr(_WEIB_SLOPE_MILLI).alias("weibull_shape_milli"),
        (F.expr(_WEIB_SLOPE_MILLI) < 1000).alias("decreasing_hazard"),
    )


# ------------------------------- survival analysis: KM + log-rank

#: Censoring horizon = the fixture's last order date + 1 (all
#: durations observable; single-order customers censor here).
_SURV_CENSOR = "1998-08-03"

#: Shared time-to-second-order spans: duration (days) from a
#: customer's first order to their second (event) or to the censor
#: date (censored), at the customer grain.
_SPANS_CTES = f"""
firsts AS (
    SELECT o_custkey AS cust, MIN(CAST(o_orderdate AS DATE)) AS d1
    FROM orders GROUP BY o_custkey
),
seconds AS (
    SELECT o.o_custkey AS cust, MIN(CAST(o.o_orderdate AS DATE)) AS d2
    FROM orders o JOIN firsts f
      ON f.cust = o.o_custkey AND CAST(o.o_orderdate AS DATE) > f.d1
    GROUP BY o.o_custkey
),
spans AS (
    SELECT f.cust,
           CAST(CASE WHEN s.cust IS NULL
                THEN date_diff('day', f.d1, DATE '{_SURV_CENSOR}')
                ELSE date_diff('day', f.d1, s.d2) END AS BIGINT) AS dur,
           CAST(CASE WHEN s.cust IS NULL THEN 0 ELSE 1 END AS BIGINT)
               AS ev
    FROM firsts f LEFT JOIN seconds s ON s.cust = f.cust
)"""

#: Per-event-time KM log-step: ln(1 - d/n) floor-quantized to micro
#: from exact integer (d, n) BEFORE the cumulative sum — the
#: float-sum-order discipline; the survival curve is surfaced in the
#: exact-integer LOG domain (logS_micro), never as a float product.
_KM_TERM_MICRO = (
    "CAST(FLOOR(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))"
    " * 1000000.0) AS BIGINT)"
)

_KM_SQL = f"""
WITH {_SPANS_CTES},
durdist AS (
    SELECT dur, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(ev) AS BIGINT) AS d
    FROM spans GROUP BY dur
),
cum AS (
    SELECT dur, c, d,
           CAST(SUM(c) OVER (ORDER BY dur) - c AS BIGINT) AS below,
           CAST((SELECT SUM(c) FROM durdist) AS BIGINT) AS n_total
    FROM durdist
),
km AS (
    SELECT dur AS t, d, n_total - below AS n_risk
    FROM cum WHERE d > 0 AND d < n_total - below
)
SELECT t, d, n_risk,
       {_KM_TERM_MICRO} AS step_micro,
       CAST(SUM({_KM_TERM_MICRO}) OVER (ORDER BY t) AS BIGINT)
           AS log_surv_micro
FROM km
ORDER BY t
"""


@register(
    "kaplan_meier_repeat_purchase",
    _KM_SQL,
    doc="Kaplan-Meier survival curve for time-to-second-order (the "
    "repeat-purchase conversion every retention team models; "
    "single-order customers right-censor at the fixture horizon "
    f"{_SURV_CENSOR}): per event time the risk set n, events d, and "
    "the product-limit estimate carried in the EXACT-INTEGER log "
    "domain — each step ln(1-d/n) floor-quantizes to micro from "
    "exact integer counts BEFORE the cumulative sum, so no float "
    "product/sum order can diverge cross-engine (a terminal S=0 "
    "step, where d exhausts the risk set, is excluded by "
    "construction in the log domain). Complements churn_hazard_table "
    "(discrete per-day hazard) with the canonical survival "
    "estimator. Scale: spans reduce map-combinably to the customer "
    "grain, then to the distinct-duration grain — the ordered window "
    "runs over CALENDAR-bounded durations (<= dataset day span), "
    "never customers.",
    bounded_frame="calendar-bounded distinct-duration grain (<= dataset day span)",
)
def q_kaplan_meier_repeat_purchase(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ecom_churn_lakehouse_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.to_date("o_orderdate").alias("od"),
    )
    firsts = orders.groupBy("cust").agg(F.min("od").alias("d1"))
    seconds = (
        orders.join(firsts, "cust")
        .filter(F.col("od") > F.col("d1"))
        .groupBy("cust")
        .agg(F.min("od").alias("d2"))
    )
    spans = firsts.join(seconds, "cust", "left").select(
        "cust",
        F.when(
            F.col("d2").isNull(),
            F.datediff(F.lit(_SURV_CENSOR).cast("date"), F.col("d1")),
        )
        .otherwise(F.datediff(F.col("d2"), F.col("d1")))
        .cast("long")
        .alias("dur"),
        F.when(F.col("d2").isNull(), 0).otherwise(1).cast("long").alias("ev"),
    )
    durdist = spans.groupBy("dur").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("ev").cast("long").alias("d"),
    )
    n_total = durdist.agg(F.sum("c").cast("long").alias("n_total"))
    cum = durdist.crossJoin(F.broadcast(n_total)).select(
        "dur",
        "c",
        "d",
        "n_total",
        (F.sum("c").over(Window.orderBy("dur")) - F.col("c"))
        .cast("long")
        .alias("below"),
    )
    km = cum.filter(
        (F.col("d") > 0) & (F.col("d") < F.col("n_total") - F.col("below"))
    ).select(
        F.col("dur").alias("t"),
        "d",
        (F.col("n_total") - F.col("below")).alias("n_risk"),
    )
    return km.select(
        "t",
        "d",
        "n_risk",
        F.expr(_KM_TERM_MICRO).alias("step_micro"),
        F.sum(F.expr(_KM_TERM_MICRO))
        .over(Window.orderBy("t"))
        .cast("long")
        .alias("log_surv_micro"),
    ).orderBy("t")


#: Log-rank per-time terms, each floor-quantized micro from exact
#: integers: O-E contribution (d1 - d*n1/n) and hypergeometric
#: variance d*(n1/n)*(n2/n)*(n-d)/(n-1).
_LR_OE_MICRO = (
    "CAST(FLOOR((CAST(d1 AS DOUBLE)"
    " - CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n_risk AS DOUBLE))"
    " * 1000000.0) AS BIGINT)"
)
_LR_V_MICRO = (
    "CAST(FLOOR(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)"
    " * (CAST(n_risk AS DOUBLE) - CAST(n1 AS DOUBLE))"
    " * (CAST(n_risk AS DOUBLE) - CAST(d AS DOUBLE))"
    " / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)"
    "    * (CAST(n_risk AS DOUBLE) - 1.0)) * 1000000.0) AS BIGINT)"
)
_LR_Z_MILLI = (
    "CAST(FLOOR(CAST(sum_oe_micro AS DOUBLE)"
    " / sqrt(CAST(sum_v_micro AS DOUBLE) * 1000000.0)"
    " * 1000.0) AS BIGINT)"
)

_LOGRANK_SQL = f"""
WITH {_SPANS_CTES},
tagged AS (
    SELECT s.dur, s.ev,
           CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1
    FROM spans s JOIN customer c ON c.c_custkey = s.cust
),
durdist AS (
    SELECT dur,
           CAST(COUNT(*) AS BIGINT) AS c,
           CAST(SUM(ev) AS BIGINT) AS d,
           CAST(SUM(g1) AS BIGINT) AS c1,
           CAST(SUM(ev * g1) AS BIGINT) AS d1
    FROM tagged GROUP BY dur
),
cum AS (
    SELECT dur, c, d, c1, d1,
           CAST(SUM(c) OVER (ORDER BY dur) - c AS BIGINT) AS below,
           CAST(SUM(c1) OVER (ORDER BY dur) - c1 AS BIGINT) AS below1,
           CAST((SELECT SUM(c) FROM durdist) AS BIGINT) AS n_total,
           CAST((SELECT SUM(c1) FROM durdist) AS BIGINT) AS n1_total
    FROM durdist
),
terms AS (
    SELECT dur, d, d1,
           n_total - below AS n_risk,
           n1_total - below1 AS n1
    FROM cum WHERE d > 0 AND n_total - below > 1
),
comp AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
           CAST(SUM(d) AS BIGINT) AS total_events,
           CAST(SUM(d1) AS BIGINT) AS events_g1,
           CAST(SUM({_LR_OE_MICRO}) AS BIGINT) AS sum_oe_micro,
           CAST(SUM({_LR_V_MICRO}) AS BIGINT) AS sum_v_micro
    FROM terms
)
SELECT n_event_times, total_events, events_g1, sum_oe_micro, sum_v_micro,
       {_LR_Z_MILLI} AS z_milli,
       abs({_LR_Z_MILLI}) > 1959 AS reject_at_05
FROM comp
"""


@register(
    "logrank_segment_survival_test",
    _LOGRANK_SQL,
    doc="Log-rank test: does the BUILDING segment's time-to-second-"
    "order survival differ from everyone else's? The standard "
    "two-group survival comparison completing the KM estimator "
    "(kaplan_meier_repeat_purchase) — censoring-aware, computed at "
    "the same distinct-duration risk-set grain. Each event time's "
    "O-E contribution d1 - d*n1/n and hypergeometric variance "
    "d*n1*n2*(n-d)/(n^2(n-1)) floor-quantize to micro from exact "
    "integer risk-set counts BEFORE the sums (the float-sum-order "
    "discipline); z is one shared IEEE expression over the two "
    "exact integer sums, floored-milli vs the floored critical "
    "1959. Scale: customer-grain spans + one broadcast dim join, "
    "then calendar-bounded duration windows.",
    bounded_frame="calendar-bounded distinct-duration grain (<= dataset day span)",
)
def q_logrank_segment_survival_test(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ecom_churn_lakehouse_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.to_date("o_orderdate").alias("od"),
    )
    firsts = orders.groupBy("cust").agg(F.min("od").alias("d1"))
    seconds = (
        orders.join(firsts, "cust")
        .filter(F.col("od") > F.col("d1"))
        .groupBy("cust")
        .agg(F.min("od").alias("d2"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .alias("g1"),
    )
    spans = (
        firsts.join(seconds, "cust", "left")
        .join(F.broadcast(cust), "cust")
        .select(
            F.when(
                F.col("d2").isNull(),
                F.datediff(F.lit(_SURV_CENSOR).cast("date"), F.col("d1")),
            )
            .otherwise(F.datediff(F.col("d2"), F.col("d1")))
            .cast("long")
            .alias("dur"),
            F.when(F.col("d2").isNull(), 0)
            .otherwise(1)
            .cast("long")
            .alias("ev"),
            "g1",
        )
    )
    durdist = spans.groupBy("dur").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("ev").cast("long").alias("d"),
        F.sum("g1").cast("long").alias("c1"),
        F.sum(F.expr("ev * g1")).cast("long").alias("d1"),
    )
    tot = durdist.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.sum("c1").cast("long").alias("n1_total"),
    )
    w = Window.orderBy("dur")
    cum = durdist.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        "d1",
        "n_total",
        "n1_total",
        (F.sum("c").over(w) - F.col("c")).cast("long").alias("below"),
        (F.sum("c1").over(w) - F.col("c1")).cast("long").alias("below1"),
    )
    terms = cum.filter(
        (F.col("d") > 0) & (F.col("n_total") - F.col("below") > 1)
    ).select(
        "d",
        "d1",
        (F.col("n_total") - F.col("below")).alias("n_risk"),
        (F.col("n1_total") - F.col("below1")).alias("n1"),
    )
    comp = terms.agg(
        F.count("*").cast("long").alias("n_event_times"),
        F.sum("d").cast("long").alias("total_events"),
        F.sum("d1").cast("long").alias("events_g1"),
        F.sum(F.expr(_LR_OE_MICRO)).cast("long").alias("sum_oe_micro"),
        F.sum(F.expr(_LR_V_MICRO)).cast("long").alias("sum_v_micro"),
    )
    return comp.select(
        "n_event_times",
        "total_events",
        "events_g1",
        "sum_oe_micro",
        "sum_v_micro",
        F.expr(_LR_Z_MILLI).alias("z_milli"),
        (F.abs(F.expr(_LR_Z_MILLI)) > 1959).alias("reject_at_05"),
    )


# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (round 9) — completes the survival
# tier: KM (product-limit in exact-int log domain) + log-rank (group
# comparison) + NA (cumulative hazard). NA's step d/n is RATIONAL, so
# unlike KM no transcendental enters at all: each step quantizes as a
# pure int64 division (d * 1e6 DIV n) before the ordered cumulative
# sum — bit-exact by construction on both engines.
# --------------------------------------------------------------------------

_NA_SQL = f"""
WITH {_SPANS_CTES},
durdist AS (
    SELECT dur, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(ev) AS BIGINT) AS d
    FROM spans GROUP BY dur
),
cum AS (
    SELECT dur, c, d,
           CAST(SUM(c) OVER (ORDER BY dur) - c AS BIGINT) AS below,
           CAST((SELECT SUM(c) FROM durdist) AS BIGINT) AS n_total
    FROM durdist
),
na AS (
    SELECT dur AS t, d, n_total - below AS n_risk
    FROM cum WHERE d > 0
)
SELECT t, d, n_risk,
       CAST(d * 1000000 // n_risk AS BIGINT) AS step_micro,
       CAST(SUM(d * 1000000 // n_risk) OVER (ORDER BY t) AS BIGINT)
           AS cum_hazard_micro
FROM na
ORDER BY t
"""


@register(
    "nelson_aalen_cumhaz",
    _NA_SQL,
    doc="Nelson-Aalen cumulative-hazard estimator for time-to-second-"
    "order, completing the survival tier (kaplan_meier_repeat_purchase"
    " = product-limit survival, logrank_segment_survival_test = group "
    "test): per event time the risk set n, events d, the hazard "
    "increment d/n as an EXACT int64 division (d*1e6 DIV n — "
    "non-negative operands, so Spark DIV and DuckDB // agree), and "
    "the running cumulative hazard. Unlike KM, no ln() enters: the "
    "estimator is a sum of rationals, so the whole curve is exact "
    "integer arithmetic end to end (the terminal d==n step is "
    "well-defined here and included). Scale: identical to KM — spans "
    "reduce map-combinably to the customer grain then the distinct-"
    "duration grain; the ordered window runs over calendar-bounded "
    "durations, never customers.",
    bounded_frame="calendar-bounded distinct-duration grain (<= dataset day span)",
)
def q_nelson_aalen_cumhaz(spark, sf_dir):
    from pyspark.sql import functions as F

    from ecom_churn_lakehouse_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.to_date("o_orderdate").alias("od"),
    )
    firsts = orders.groupBy("cust").agg(F.min("od").alias("d1"))
    seconds = (
        orders.join(firsts, "cust")
        .filter(F.col("od") > F.col("d1"))
        .groupBy("cust")
        .agg(F.min("od").alias("d2"))
    )
    spans = firsts.join(seconds, "cust", "left").select(
        F.when(
            F.col("d2").isNull(),
            F.datediff(F.lit(_SURV_CENSOR).cast("date"), F.col("d1")),
        )
        .otherwise(F.datediff(F.col("d2"), F.col("d1")))
        .cast("long")
        .alias("dur"),
        F.when(F.col("d2").isNull(), 0).otherwise(1).cast("long").alias("ev"),
    )
    return _na_curve_from_spans(spans)


def _na_curve_from_spans(spans):
    """Nelson-Aalen finish over a (dur, ev) span frame — shared by the
    batch entry and the streaming spans-maintenance twin so parity is
    structural."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    durdist = spans.groupBy("dur").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("ev").cast("long").alias("d"),
    )
    n_total = durdist.agg(F.sum("c").cast("long").alias("n_total"))
    w = Window.orderBy("dur")
    cum = durdist.crossJoin(F.broadcast(n_total)).select(
        "dur",
        "c",
        "d",
        (F.sum("c").over(w) - F.col("c")).cast("long").alias("below"),
        "n_total",
    )
    na = cum.filter(F.col("d") > 0).select(
        F.col("dur").alias("t"),
        "d",
        (F.col("n_total") - F.col("below")).cast("long").alias("n_risk"),
    )
    step = F.expr("d * 1000000 DIV n_risk").cast("long")
    return na.select(
        "t",
        "d",
        "n_risk",
        step.alias("step_micro"),
        F.sum(step).over(Window.orderBy("t")).cast("long").alias(
            "cum_hazard_micro"
        ),
    ).orderBy("t")


# --------------------------------------------------------------------------
# Round 9 (second wave): RFM segment migration matrix between two
# snapshot dates — the churn-adjacent transition readout every
# lifecycle team tracks (who moved active -> cold between quarters).
# --------------------------------------------------------------------------

_RFM_MIG_AS_OF_A = "1996-12-31"
_RFM_MIG_AS_OF_B = AS_OF  # 1997-06-30

#: Recency buckets in days (inclusive upper edges), identical CASE on
#: both engines over exact integer datediffs.
_RFM_MIG_BUCKET = (
    "CASE WHEN rec <= 90 THEN 'active' WHEN rec <= 180 THEN 'warm'"
    " WHEN rec <= 365 THEN 'cold' ELSE 'dormant' END"
)

_RFM_MIG_SQL = f"""
WITH at_a AS (
    SELECT o_custkey AS cust,
           date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                     DATE '{_RFM_MIG_AS_OF_A}') AS rec
    FROM orders WHERE CAST(o_orderdate AS DATE) <= DATE '{_RFM_MIG_AS_OF_A}'
    GROUP BY o_custkey
),
at_b AS (
    SELECT o_custkey AS cust,
           date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                     DATE '{_RFM_MIG_AS_OF_B}') AS rec
    FROM orders WHERE CAST(o_orderdate AS DATE) <= DATE '{_RFM_MIG_AS_OF_B}'
    GROUP BY o_custkey
),
seg_a AS (SELECT cust, {_RFM_MIG_BUCKET} AS seg FROM at_a),
seg_b AS (SELECT cust, {_RFM_MIG_BUCKET} AS seg FROM at_b)
SELECT COALESCE(a.seg, 'new') AS segment_from,
       b.seg AS segment_to,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM seg_b b LEFT JOIN seg_a a ON a.cust = b.cust
GROUP BY COALESCE(a.seg, 'new'), b.seg
ORDER BY segment_from, segment_to
"""


@register(
    "rfm_segment_migration",
    _RFM_MIG_SQL,
    doc=f"Recency-segment migration matrix between two snapshot dates "
    f"({_RFM_MIG_AS_OF_A} -> {_RFM_MIG_AS_OF_B}): every customer "
    "active by the later date is bucketed (active <=90d, warm <=180, "
    "cold <=365, dormant beyond) at BOTH point-in-time cuts — the "
    "reference's as-of filter discipline (P7, customer_features_daily"
    ".py:129) applied twice — and counted per (from, to) cell, with "
    "customers absent at the earlier date entering as 'new'. The "
    "transition matrix is the lifecycle readout behind churn_labels: "
    "the off-diagonal mass IS the churn flow. All exact integer "
    "datediffs and counts. Scale: two map-combinable customer-grain "
    "aggs + one customer-keyed join; output is a <=20-cell matrix.",
)
def q_rfm_segment_migration(spark, sf_dir):
    from pyspark.sql import functions as F

    from ecom_churn_lakehouse_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.to_date("o_orderdate").alias("od"),
    )

    def seg_at(as_of):
        return (
            orders.filter(F.col("od") <= F.lit(as_of).cast("date"))
            .groupBy("cust")
            .agg(
                F.datediff(F.lit(as_of).cast("date"), F.max("od")).alias(
                    "rec"
                )
            )
            .select("cust", F.expr(_RFM_MIG_BUCKET).alias("seg"))
        )

    a = seg_at(_RFM_MIG_AS_OF_A).withColumnRenamed("seg", "seg_a")
    b = seg_at(_RFM_MIG_AS_OF_B).withColumnRenamed("seg", "seg_b")
    return (
        b.join(a, "cust", "left")
        .groupBy(
            F.coalesce(F.col("seg_a"), F.lit("new")).alias("segment_from"),
            F.col("seg_b").alias("segment_to"),
        )
        .agg(F.count("*").cast("long").alias("n_customers"))
        .orderBy("segment_from", "segment_to")
    )


# --------------------------------------------------------------------------
# Round 9 (third wave): streaming survival-spans maintenance —
# ORDER-STATISTIC keyed state. The NA/KM span (first order date,
# second order date) is NOT a plain keyed min: the second-smallest
# DISTINCT date of a union is not the min of per-batch seconds. But
# the TWO smallest distinct dates ARE mergeable: the overall pair is
# always contained in the union of per-batch two-smallest pairs (any
# batch date below the overall second equals the overall first), so
# each batch keeps at most 2 rows per customer and the serve pass
# re-ranks the union.
# --------------------------------------------------------------------------


def _survival_two_smallest(df):
    """Per customer the (<=2) smallest DISTINCT order dates of ``df``
    — the mergeable order-statistic partial."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    dd = df.select("cust", "od").distinct()
    w = Window.partitionBy("cust").orderBy("od")
    return (
        dd.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("cust", "od")
    )


@register(
    "stream_survival_spans_maintenance",
    _NA_SQL,
    doc="Streaming twin of nelson_aalen_cumhaz demonstrating the "
    "ORDER-STATISTIC keyed-state class: the survival span needs each "
    "customer's first AND second distinct order dates, and the "
    "second-smallest of a union is not the min of per-batch seconds "
    "— but the TWO smallest distinct dates are a mergeable partial "
    "(any batch date below the overall second must equal the overall "
    "first, so the overall pair is contained in the union of "
    "per-batch pairs; proof in the module comment). Each foreachBatch "
    "writes batch_id-keyed <=2-rows-per-customer partials (through "
    "the _SUCCESS-gated write_once — replay-safe); the serve pass re-ranks the union "
    "and runs the SAME Nelson-Aalen finish as the batch entry "
    "(_na_curve_from_spans), oracle = the batch SQL verbatim. "
    "Scale: per-batch state is bounded at 2 rows per active "
    "customer; the serve re-rank shuffles only the maintained "
    "partial store, never raw orders.",
    bounded_frame="calendar-bounded distinct-duration grain (<= dataset day span)",
)
def q_stream_survival_spans_maintenance(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ecom_churn_lakehouse_spark.scratch import scratch_dir
    from ecom_churn_lakehouse_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.to_date("o_orderdate").alias("od"),
    )
    base = scratch_dir(prefix="stream_survival_")
    replay(
        orders,
        ranges("od", "1996-01-01", "1998-01-01"),
        lambda bdf, bid: write_once(
            _survival_two_smallest(bdf), f"{base}/partials/batch_id={bid}"
        ),
        base,
    )

    merged = _survival_two_smallest(
        spark.read.parquet(f"{base}/partials").select("cust", "od")
    )
    w = Window.partitionBy("cust").orderBy("od")
    wide = (
        merged.withColumn("rn", F.row_number().over(w))
        .groupBy("cust")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("od"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("od"))).alias("d2"),
        )
    )
    spans = wide.select(
        F.when(
            F.col("d2").isNull(),
            F.datediff(F.lit(_SURV_CENSOR).cast("date"), F.col("d1")),
        )
        .otherwise(F.datediff(F.col("d2"), F.col("d1")))
        .cast("long")
        .alias("dur"),
        F.when(F.col("d2").isNull(), 0).otherwise(1).cast("long").alias("ev"),
    )
    return _na_curve_from_spans(spans)


# ---------------------------------------------------------------------------
# Round 9 fourth wave: Murphy decomposition of the Brier score.
# ---------------------------------------------------------------------------

_MURPHY_SQL = f"""
WITH feats AS ({_FEATURES_SQL}),
labels AS ({_LABELS_SQL}),
scored AS (
    SELECT CAST(FLOOR({_SCORE_SQL} * 1000.0) AS BIGINT) AS p_milli,
           l.churn_label AS y
    FROM feats f JOIN labels l ON f.customer_id = l.customer_id
),
bins AS (
    SELECT p_milli,
           CAST(COUNT(*) AS BIGINT) AS nk,
           CAST(SUM(y) AS BIGINT) AS posk
    FROM scored GROUP BY p_milli
),
tot AS (
    SELECT CAST(SUM(nk) AS BIGINT) AS n,
           CAST(SUM(posk) AS BIGINT) AS p,
           CAST(COUNT(*) AS BIGINT) AS n_bins
    FROM bins
),
terms AS (
    SELECT CAST(SUM((posk * 1000 - p_milli * nk)
                    * (posk * 1000 - p_milli * nk) // nk) AS BIGINT)
               AS rel_sum,
           CAST(SUM((posk * t.n - t.p * nk)
                    * (posk * t.n - t.p * nk) // nk) AS BIGINT)
               AS res_sum,
           CAST(SUM(nk * p_milli * p_milli - 2000 * p_milli * posk
                    + 1000000 * posk) AS BIGINT) AS brier_sum,
           MAX(t.n) AS n, MAX(t.p) AS p, MAX(t.n_bins) AS n_bins
    FROM bins CROSS JOIN tot t
)
SELECT n, p AS n_pos, n_bins,
       CAST(brier_sum // n AS BIGINT) AS brier_ppm,
       CAST(rel_sum // n AS BIGINT) AS reliability_ppm,
       CAST((res_sum // n) * 1000000 // (n * n) AS BIGINT)
           AS resolution_ppm,
       CAST((p * (n - p) // n) * 1000000 // n AS BIGINT)
           AS uncertainty_ppm,
       CAST(brier_sum // n
            - (rel_sum // n
               - (res_sum // n) * 1000000 // (n * n)
               + (p * (n - p) // n) * 1000000 // n) AS BIGINT)
           AS identity_gap_ppm,
       ((res_sum // n) * 1000000 // (n * n) > rel_sum // n) AS skillful
FROM terms
"""


@register(
    "brier_murphy_decomposition",
    _MURPHY_SQL,
    doc="Murphy decomposition of the churn scorer's Brier score — "
    "Brier = reliability - resolution + uncertainty, the readout "
    "that splits model_eval_metrics' single brier scalar into WHY "
    "(reliability = calibration error to shrink by recalibrating, "
    "resolution = discrimination a monotone recalibration cannot "
    "add, uncertainty = the base-rate floor no model beats), and "
    "the 'skillful' verdict (resolution > reliability <=> beats "
    "climatology after recalibration). Computed at score grain with "
    "the score floor-quantized to milli FIRST (the one double both "
    "engines already share bit-exactly), after which every term is "
    "pure int64: per-bin squared-error numerators with per-bin "
    "floor division, order-free integer sums, two-step floored "
    "normalizations sized to stay under int64 through ~sf1 (the "
    "resolution term's N^3 denominator is split as DIV n then DIV "
    "n^2 for exactly this reason). The identity_gap_ppm column "
    "exposes the few-ppm floor slack so the decomposition identity "
    "is auditable, not asserted. Scale: score-grain bins bound "
    "every frame by the scorer's RANGE, not the population (the "
    "model_eval_metrics discipline); one group-by + 1-row reduce.",
)
def q_brier_murphy_decomposition(spark, sf_dir):
    from pyspark.sql import functions as F

    feats = q_customer_features(spark, sf_dir).select(
        "customer_id", "recency_days", "lifetime_orders"
    )
    labels = q_churn_labels(spark, sf_dir)
    z = (
        _W_RECENCY * F.col("recency_days")
        + _W_ORDERS * F.col("lifetime_orders")
        + F.lit(_B)
    )
    p = F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))
    scored = feats.join(labels, on="customer_id").select(
        F.floor(p * 1000.0).cast("long").alias("p_milli"),
        F.col("churn_label").alias("y"),
    )
    bins = scored.groupBy("p_milli").agg(
        F.count("*").cast("long").alias("nk"),
        F.sum("y").cast("long").alias("posk"),
    )
    tot = bins.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("posk").cast("long").alias("p"),
        F.count("*").cast("long").alias("n_bins"),
    )
    terms = (
        bins.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.expr(
                    "(posk * 1000 - p_milli * nk)"
                    " * (posk * 1000 - p_milli * nk) DIV nk"
                )
            )
            .cast("long")
            .alias("rel_sum"),
            F.sum(
                F.expr(
                    "(posk * n - p * nk) * (posk * n - p * nk) DIV nk"
                )
            )
            .cast("long")
            .alias("res_sum"),
            F.sum(
                F.expr(
                    "nk * p_milli * p_milli - 2000 * p_milli * posk"
                    " + 1000000 * posk"
                )
            )
            .cast("long")
            .alias("brier_sum"),
            F.max("n").alias("n"),
            F.max("p").alias("p"),
            F.max("n_bins").alias("n_bins"),
        )
    )
    rel = F.expr("rel_sum DIV n")
    res = F.expr("(res_sum DIV n) * 1000000 DIV (n * n)")
    unc = F.expr("(p * (n - p) DIV n) * 1000000 DIV n")
    brier = F.expr("brier_sum DIV n")
    return terms.select(
        "n",
        F.col("p").alias("n_pos"),
        "n_bins",
        brier.cast("long").alias("brier_ppm"),
        rel.cast("long").alias("reliability_ppm"),
        res.cast("long").alias("resolution_ppm"),
        unc.cast("long").alias("uncertainty_ppm"),
        (brier - (rel - res + unc)).cast("long").alias("identity_gap_ppm"),
        (res > rel).alias("skillful"),
    )


# ---------------------------------------------------------------------------
# Round 9 fourth wave: restricted mean survival time (RMST).
# ---------------------------------------------------------------------------

#: S(t_{i-1}) * (t_i - t_{i-1}) quantized per-term to DECIMAL(28,12)
#: BEFORE the sum (the AP-sum discipline): exp of the exact-integer
#: log-domain KM state is the only libm surface, spelled identically
#: on both engines.
_RMST_TERM = (
    "CAST(exp(CAST(prev_log AS DOUBLE) / 1000000.0)"
    " * CAST(t - prev_t AS DOUBLE) AS DECIMAL(28,12))"
)

_RMST_SQL = f"""
WITH {_SPANS_CTES},
durdist AS (
    SELECT dur, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(ev) AS BIGINT) AS d
    FROM spans GROUP BY dur
),
cum AS (
    SELECT dur, c, d,
           CAST(SUM(c) OVER (ORDER BY dur) - c AS BIGINT) AS below,
           CAST((SELECT SUM(c) FROM durdist) AS BIGINT) AS n_total
    FROM durdist
),
km AS (
    SELECT dur AS t, d, n_total - below AS n_risk
    FROM cum WHERE d > 0 AND d < n_total - below
),
steps AS (
    SELECT t,
           CAST(SUM({_KM_TERM_MICRO}) OVER (ORDER BY t) AS BIGINT)
               AS log_surv_micro
    FROM km
),
lagged AS (
    SELECT t,
           COALESCE(LAG(t) OVER (ORDER BY t), 0) AS prev_t,
           COALESCE(LAG(log_surv_micro) OVER (ORDER BY t), 0) AS prev_log
    FROM steps
)
SELECT CAST(MAX(t) AS BIGINT) AS tau_days,
       CAST(COUNT(*) AS BIGINT) AS n_steps,
       CAST(FLOOR(CAST(SUM({_RMST_TERM}) AS DOUBLE) * 1000000.0) AS BIGINT)
           AS rmst_micro_days
FROM lagged
"""


@register(
    "rmst_repeat_purchase",
    _RMST_SQL,
    doc="Restricted mean survival time for time-to-second-order up to "
    "tau = the last observed event time: the area under the "
    "Kaplan-Meier curve, i.e. the expected number of days a new "
    "customer stays single-order within the horizon — the one "
    "SCALAR the survival tier (kaplan_meier = the curve, "
    "nelson_aalen = cumulative hazard, logrank = comparison) "
    "publishes to a dashboard, and the standard effect measure "
    "when proportional hazards fails. Riemann terms "
    "S(t_{i-1})*(t_i - t_{i-1}) use the KM state carried in the "
    "exact-integer log domain; each term takes ONE exp() (identical "
    "spelling both engines) and quantizes to DECIMAL(28,12) before "
    "the sum, so the total is order-free (the AP-sum rule). Scale: "
    "inherits the KM reduction — customer grain, then the "
    "calendar-bounded distinct-duration frame; both windows run "
    "over durations, never customers.",
    bounded_frame="calendar-bounded distinct-duration grain (<= dataset day span)",
)
def q_rmst_repeat_purchase(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    km = q_kaplan_meier_repeat_purchase(spark, sf_dir).select(
        "t", "log_surv_micro"
    )
    w = Window.orderBy("t")
    lagged = km.select(
        "t",
        F.coalesce(F.lag("t").over(w), F.lit(0)).alias("prev_t"),
        F.coalesce(F.lag("log_surv_micro").over(w), F.lit(0)).alias(
            "prev_log"
        ),
    )
    return lagged.agg(
        F.max("t").cast("long").alias("tau_days"),
        F.count("*").cast("long").alias("n_steps"),
        F.floor(F.sum(F.expr(_RMST_TERM)).cast("double") * 1000000.0)
        .cast("long")
        .alias("rmst_micro_days"),
    )
