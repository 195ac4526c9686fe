"""Distributed VAR(p) OLS fit via normal equations (SURVEY §2 D6).

The reference fits ``VAR(train_scaled).fit(maxlags=3)`` on the driver
(train.py:199-214).  At 100 TB the series per key can exceed driver
memory, so the fit is distributed: the lag design matrix is built with
window functions (one shuffle on the series key), then each Arrow batch
contributes a partial Gram matrix (XᵀX, XᵀY) — a map-side combine that
reduces N rows to an m×(m+k) matrix per batch (m = k·p + 1 ≈ 22 for
k=7, p=3).  The groupBy that follows shuffles only those tiny partials;
the m×m solve happens once per slice on the driver with numpy.

This is the standard scalable least-squares layout (same shape as
MLlib's ``WeightedLeastSquares`` normal-equation path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fiveg_spark.ml.features import FEATURES


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


_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("xtx", T.DoubleType()),
        T.StructField("xty", T.ArrayType(T.DoubleType())),
    ]
)


def _partial_gram(batches):
    """mapInPandas kernel: rows → per-(slice) partial XᵀX and XᵀY.

    Emits one row per (slice, i, j) upper-triangle-free full matrix cell;
    xty is the k-vector for row i (only emitted at j == 0 to avoid k×
    duplication).
    """
    for pdf in batches:
        for slice_name, g in pdf.groupby("slice"):
            X = np.asarray(list(g["x"]), dtype=np.float64)
            Y = np.asarray(list(g["y"]), dtype=np.float64)
            xtx = X.T @ X
            xty = X.T @ Y
            m = xtx.shape[0]
            ii, jj = np.meshgrid(np.arange(m), np.arange(m), indexing="ij")
            yield pd.DataFrame(
                {
                    "slice": slice_name,
                    "i": ii.ravel().astype(np.int32),
                    "j": jj.ravel().astype(np.int32),
                    "xtx": xtx.ravel(),
                    "xty": [
                        xty[i].tolist() if j == 0 else None
                        for i, j in zip(ii.ravel(), jj.ravel())
                    ],
                }
            )


def normal_equations(design: DataFrame) -> DataFrame:
    """Tiny DF of summed Gram cells per slice: (slice, i, j, xtx, xty)."""
    partials = design.select("slice", "x", "y").mapInPandas(
        _partial_gram, schema=_PARTIAL_SCHEMA
    )
    return partials.groupBy("slice", "i", "j").agg(
        F.sum("xtx").alias("xtx"),
        F.array(
            *[
                F.sum(F.element_at("xty", k + 1)).alias(f"s{k}")
                for k in range(len(FEATURES))
            ]
        ).alias("xty"),
    )


def collect_gram(gram: DataFrame) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Driver-side materialization of the summed Gram cells per slice
    (the only collect: m²·slices cells).  Returns {slice: (XᵀX, XᵀY)}."""
    rows = gram.collect()
    by_slice: dict[str, list] = {}
    for r in rows:
        by_slice.setdefault(r["slice"], []).append(r)
    out: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for slice_name, cells in by_slice.items():
        m = max(c["i"] for c in cells) + 1
        xtx = np.zeros((m, m))
        xty = np.zeros((m, len(FEATURES)))
        for c in cells:
            xtx[c["i"], c["j"]] = c["xtx"]
            if c["j"] == 0:
                xty[c["i"]] = c["xty"]
        out[slice_name] = (xtx, xty)
    return out


def solve_coefficients(gram: DataFrame) -> dict[str, np.ndarray]:
    """Driver-side m×m solve per slice.

    Returns {slice: B} with B shape (m, k): column f holds the regression
    coefficients for feature f's equation (intercept first).
    """
    out: dict[str, np.ndarray] = {}
    for slice_name, (xtx, xty) in collect_gram(gram).items():
        out[slice_name] = np.linalg.solve(
            xtx + 1e-9 * np.eye(xtx.shape[0]), xty
        )  # ridge epsilon guards rank-deficient constant features
    return out
