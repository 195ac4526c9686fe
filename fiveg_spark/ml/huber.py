"""Distributed Huber-loss regression via IRLS (SURVEY §2 D18).

The reference trains its forecaster with Huber loss (train.py: HuberLoss
+ Adam) — the robust-to-outlier middle ground between L2 and L1.  For
the linear stage the exact minimizer is reachable without SGD: iterate
reweighted least squares (IRLS), where each round solves weighted
normal equations with the Huber ψ-weights of the previous residuals

    w(r) = 1            if |r| ≤ δ
         = δ / |r|      otherwise

Each round is ONE distributed pass of the OLS fit's normal-equation
layout (`ml/var.py:irls_fit`): the previous β broadcasts to the
executors, every Arrow batch computes residuals and emits its partial
XᵀWX / XᵀWy cells ((m+1)² doubles, m ≈ 22), and only those partials
shuffle — T times for T rounds.  This module contributes only the
weight rule above.  No gradient schedule, no learning rate, and
convergence in a handful of rounds because the problem is convex.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.ml.features import feature_frame, robust_scale
from fiveg_spark.ml.var import RIDGE_EPS, irls_fit, lag_design
from fiveg_spark.operators.kpi import kpi36

DELTA = 1.0
ITERS = 6


def huber_fit(
    design: DataFrame,
    delta: float = DELTA,
    iters: int = ITERS,
    tol: float | None = None,
) -> dict[str, np.ndarray]:
    """IRLS over a (slice, x: array, y_t: double) design frame.
    Returns {slice: β} (m-vector, intercept first).  With ``tol`` set,
    stops early once no coefficient moves more than tol between rounds
    (the IRLS fixed point — each extra round is a full distributed
    pass, so certification callers run to convergence while the
    fixed-round surface stays cheap and deterministic)."""

    def weight(r):
        a = np.abs(r)
        return np.where(a <= delta, 1.0, delta / np.maximum(a, 1e-12))

    return irls_fit(design, weight, iters, tol, RIDGE_EPS)


def scalar_design(spark: SparkSession, sf_dir: str, p: int = 3) -> DataFrame:
    """AR design with the FIRST feature's current value as scalar target
    (throughput equation of the VAR system), train split only."""
    scaled, _, _ = robust_scale(feature_frame(kpi36(spark, sf_dir)))
    d = lag_design(scaled, p=p).filter(F.col("split") == "train")
    return d.select(
        "slice", "x", F.element_at("y", 1).cast("double").alias("y_t")
    )
