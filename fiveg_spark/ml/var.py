"""Distributed linear least squares via normal equations (SURVEY §2 D6).

The reference fits ``VAR(train_scaled).fit(maxlags=3)`` on the driver
(train.py:199-214).  At 100 TB the series per key can exceed driver
memory, so the fit is distributed: the lag design matrix is built with
window functions (one shuffle on the series key), then each Arrow batch
contributes a partial Gram matrix of [X | Y] — a map-side combine that
reduces N rows to an (m+k)² matrix per batch (m = k·p + 1 ≈ 22 for
k=7, p=3).  The groupBy that follows shuffles only those tiny partials;
the m×m solve happens once per slice on the driver with numpy.

This module is the one home of that layout for every linear fit in
``ml/``: the VAR OLS (D6), the Huber (D18) and quantile (D28) IRLS fits
through ``irls_fit``, and the ridge (D44) and lag-order (D49) certs.
The Gram's YᵀY block and its intercept row (n = XᵀX[0,0], Σy = XᵀY[0])
carry the target moments those certs need, so they need no second pass.

This is the standard scalable least-squares layout (same shape as
MLlib's ``WeightedLeastSquares`` normal-equation path).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fiveg_spark.ml.features import FEATURES

RIDGE_EPS = 1e-9  # guards rank-deficient constant features

_PARTIAL_SCHEMA = "slice string, i int, j int, g double"


def lag_design(df: DataFrame, p: int = 3) -> DataFrame:
    """(slice, window_start, y=array[k], x=array[m]) with m = k*p + 1
    (intercept first, then lag-1..lag-p of every feature, train rows only,
    matching statsmodels' column order)."""
    cols = list(FEATURES)
    sel = ["slice", "window_start", "split"]
    sel.append(f"array({', '.join(cols)}) AS y")
    lag_terms = ["CAST(1.0 AS DOUBLE)"]
    for lag in range(1, p + 1):
        for c in cols:
            lag_terms.append(
                f"lag({c}, {lag}) OVER (PARTITION BY slice ORDER BY window_start)"
            )
    sel.append(f"array({', '.join(lag_terms)}) AS x")
    out = df.selectExpr(*sel)
    # complete-case rows: the first p rows per slice have NULL lags
    return out.filter(~F.exists("x", lambda v: v.isNull()))


def _gram_kernel(weight: Callable | None, betas: dict[str, np.ndarray] | None):
    """mapInPandas kernel factory: one partial Gram of [X | Y] per
    (Arrow batch, slice), emitted as (i, j, g) cells.

    weight=None is the OLS path.  Otherwise the rows carry the IRLS
    weights w = weight(y − Xβ) of the slice's current β (unit weights
    before the first round), and the target is the scalar Y[:, 0].
    The blocks are separate products: XᵀX keeps numpy's symmetric
    self-product kernel, and splitting one augmented ZᵀZ into blocks
    would not reproduce them bit for bit."""

    def kernel(batches):
        for pdf in batches:
            for slice_name, g in pdf.groupby("slice"):
                X = np.asarray(list(g["x"]), dtype=np.float64)
                Y = np.asarray(list(g["y"]), dtype=np.float64)
                if weight is None:
                    xtx, xty, yty = X.T @ X, X.T @ Y, Y.T @ Y
                else:
                    if betas is None or slice_name not in betas:
                        w = np.ones(len(Y))
                    else:
                        w = weight(Y[:, 0] - X @ betas[slice_name])
                    Xw = X * w[:, None]
                    xtx, xty, yty = X.T @ Xw, Xw.T @ Y, (Y * w[:, None]).T @ Y
                gram = np.block([[xtx, xty], [xty.T, yty]])
                size = gram.shape[0]
                ii, jj = np.meshgrid(np.arange(size), np.arange(size), indexing="ij")
                yield pd.DataFrame(
                    {
                        "slice": slice_name,
                        "i": ii.ravel().astype(np.int32),
                        "j": jj.ravel().astype(np.int32),
                        "g": gram.ravel(),
                    }
                )

    return kernel


def normal_equations(
    design: DataFrame,
    weight: Callable | None = None,
    betas: dict[str, np.ndarray] | None = None,
) -> DataFrame:
    """Tiny DF of summed Gram cells per slice: (slice, i, j, g, k), where
    i, j index [X | Y] and k is Y's width.  Y is the design's ``y``
    array (one column per feature) or its scalar ``y_t`` as one column."""
    if "y_t" in design.columns:
        y, k = F.array("y_t"), 1
    else:
        y, k = F.col("y"), len(FEATURES)
    partials = design.select("slice", "x", y.alias("y")).mapInPandas(
        _gram_kernel(weight, betas), schema=_PARTIAL_SCHEMA
    )
    return (
        partials.groupBy("slice", "i", "j")
        .agg(F.sum("g").alias("g"))
        .withColumn("k", F.lit(k))
    )


def collect_gram(
    gram: DataFrame,
) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Driver-side materialization of the summed Gram cells per slice
    (the only collect: (m+k)²·slices cells).
    Returns {slice: (XᵀX, XᵀY, YᵀY)}."""
    by_slice: dict[str, list] = {}
    for r in gram.collect():
        by_slice.setdefault(r["slice"], []).append(r)
    out = {}
    for slice_name, cells in by_slice.items():
        size = max(c["i"] for c in cells) + 1
        full = np.zeros((size, size))
        for c in cells:
            full[c["i"], c["j"]] = c["g"]
        m = size - cells[0]["k"]
        out[slice_name] = (
            full[:m, :m].copy(), full[:m, m:].copy(), full[m:, m:].copy()
        )
    return out


def ridge_solve(
    xtx: np.ndarray, xty: np.ndarray, ridge: float = RIDGE_EPS
) -> np.ndarray:
    """B = (XᵀX + ridge·I)⁻¹ XᵀY."""
    return np.linalg.solve(xtx + ridge * np.eye(xtx.shape[0]), xty)


def solve_coefficients(
    gram: DataFrame, ridge: float = RIDGE_EPS
) -> dict[str, np.ndarray]:
    """Driver-side m×m solve per slice.

    Returns {slice: B} with B shape (m, k): column f holds the regression
    coefficients for target f's equation (intercept first).
    """
    return {
        slice_name: ridge_solve(xtx, xty, ridge)
        for slice_name, (xtx, xty, _yty) in collect_gram(gram).items()
    }


def irls_fit(
    design: DataFrame,
    weight: Callable[[np.ndarray], np.ndarray],
    iters: int,
    tol: float | None,
    ridge: float,
) -> dict[str, np.ndarray]:
    """Iteratively reweighted least squares over a (slice, x: array,
    y_t: double) design.  Round one is plain OLS; each later round
    broadcasts the previous β and weights every row by ``weight`` of
    its residual — one distributed Gram pass per round.  With ``tol``
    set, stops once no coefficient moves more than tol between rounds
    (the IRLS fixed point).  Returns {slice: β} (m-vector, intercept
    first)."""
    betas = None
    for _ in range(iters):
        prev = betas
        betas = {
            s: B[:, 0]
            for s, B in solve_coefficients(
                normal_equations(design, weight, betas), ridge
            ).items()
        }
        if tol is not None and prev is not None and set(prev) == set(betas):
            if max(float(np.max(np.abs(betas[s] - prev[s]))) for s in betas) <= tol:
                break
    return betas
