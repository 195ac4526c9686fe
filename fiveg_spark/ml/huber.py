"""Distributed Huber-loss regression via IRLS (SURVEY §2 D18).

The reference trains its forecaster with Huber loss (train.py: HuberLoss
+ Adam) — the robust-to-outlier middle ground between L2 and L1.  For
the linear stage the exact minimizer is reachable without SGD: iterate
reweighted least squares (IRLS), where each round solves weighted
normal equations with the Huber ψ-weights of the previous residuals

    w(r) = 1            if |r| ≤ δ
         = δ / |r|      otherwise

Each round is ONE distributed pass: the previous β broadcasts to the
executors, every Arrow batch computes residuals and emits its partial
XᵀWX / XᵀWy (m×m doubles, m ≈ 22), and only those partials shuffle —
the same scalable normal-equation layout as the OLS fit (`ml/var.py`),
T times for T rounds.  No gradient schedule, no learning rate, and
convergence in a handful of rounds because the problem is convex.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fiveg_spark.ml.features import feature_frame, robust_scale
from fiveg_spark.ml.var import lag_design
from fiveg_spark.operators.kpi import kpi36

DELTA = 1.0
ITERS = 6

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("xwx", T.DoubleType()),
        T.StructField("xwy", T.DoubleType()),
    ]
)


def _weighted_partials(betas: dict[str, np.ndarray] | None, delta: float):
    """mapInPandas kernel factory: one partial weighted Gram per
    (batch, slice).  betas=None → unit weights (the OLS warm start)."""

    def kernel(batches):
        for pdf in batches:
            for slice_name, g in pdf.groupby("slice"):
                X = np.asarray(list(g["x"]), dtype=np.float64)
                y = np.asarray(g["y_t"], dtype=np.float64)
                if betas is None or slice_name not in betas:
                    w = np.ones(len(y))
                else:
                    r = y - X @ betas[slice_name]
                    a = np.abs(r)
                    w = np.where(a <= delta, 1.0, delta / np.maximum(a, 1e-12))
                Xw = X * w[:, None]
                xwx = X.T @ Xw
                xwy = Xw.T @ y
                m = xwx.shape[0]
                ii, jj = np.meshgrid(np.arange(m), np.arange(m), indexing="ij")
                yield pd.DataFrame(
                    {
                        "slice": slice_name,
                        "i": ii.ravel().astype(np.int32),
                        "j": jj.ravel().astype(np.int32),
                        "xwx": xwx.ravel(),
                        "xwy": [xwy[i] if j == 0 else 0.0 for i, j in zip(ii.ravel(), jj.ravel())],
                    }
                )

    return kernel


def _solve(partials: DataFrame, ridge: float = 1e-9) -> dict[str, np.ndarray]:
    rows = (
        partials.groupBy("slice", "i", "j")
        .agg(F.sum("xwx").alias("xwx"), F.sum("xwy").alias("xwy"))
        .collect()
    )
    by_slice: dict[str, list] = {}
    for r in rows:
        by_slice.setdefault(r["slice"], []).append(r)
    out: dict[str, np.ndarray] = {}
    for slice_name, cells in by_slice.items():
        m = max(c["i"] for c in cells) + 1
        xwx = np.zeros((m, m))
        xwy = np.zeros(m)
        for c in cells:
            xwx[c["i"], c["j"]] = c["xwx"]
            if c["j"] == 0:
                xwy[c["i"]] = c["xwy"]
        out[slice_name] = np.linalg.solve(xwx + ridge * np.eye(m), xwy)
    return out


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
    design = design.select("slice", "x", "y_t")
    betas: dict[str, np.ndarray] | None = None
    for _ in range(iters):
        partials = design.mapInPandas(
            _weighted_partials(betas, delta), schema=_PARTIAL_SCHEMA
        )
        prev = betas
        betas = _solve(partials)
        if tol is not None and prev is not None and set(prev) == set(betas):
            if max(float(np.max(np.abs(betas[s] - prev[s]))) for s in betas) <= tol:
                break
    assert betas is not None
    return betas


def scalar_design(spark: SparkSession, sf_dir: str, p: int = 3) -> DataFrame:
    """AR design with the FIRST feature's current value as scalar target
    (throughput equation of the VAR system), train split only."""
    scaled, _ = robust_scale(feature_frame(kpi36(spark, sf_dir)))
    d = lag_design(scaled, p=p).filter(F.col("split") == "train")
    return d.select(
        "slice", "x", F.element_at("y", 1).cast("double").alias("y_t")
    )
