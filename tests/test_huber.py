"""Huber IRLS: distributed fit ≡ local numpy IRLS, and robustness —
planted outliers must bend OLS but barely move the Huber fit."""

from __future__ import annotations

import pytest

import numpy as np

from tests.conftest import SF_DIR
from fiveg_spark.ml.huber import DELTA, ITERS, huber_fit, scalar_design


def _local_irls(X, y, delta, iters):
    beta = None
    for _ in range(iters):
        if beta is None:
            w = np.ones(len(y))
        else:
            r = y - X @ beta
            a = np.abs(r)
            w = np.where(a <= delta, 1.0, delta / np.maximum(a, 1e-12))
        Xw = X * w[:, None]
        beta = np.linalg.solve(X.T @ Xw + 1e-9 * np.eye(X.shape[1]), Xw.T @ y)
    return beta


def test_distributed_irls_equals_numpy(spark):
    design = scalar_design(spark, SF_DIR).cache()
    got = huber_fit(design)
    rows = design.collect()
    by_slice = {}
    for r in rows:
        by_slice.setdefault(r["slice"], []).append(r)
    for slc, rs in by_slice.items():
        X = np.asarray([list(r["x"]) for r in rs], dtype=np.float64)
        y = np.asarray([r["y_t"] for r in rs], dtype=np.float64)
        expect = _local_irls(X, y, DELTA, ITERS)
        assert np.allclose(got[slc], expect, atol=1e-8), slc
    design.unpersist()


def test_huber_resists_planted_outliers(spark):
    rng = np.random.default_rng(5)
    n = 400
    x1 = rng.normal(0, 1, n)
    y = 2.0 * x1 + rng.normal(0, 0.1, n)
    y[:8] += 80.0  # gross outliers
    rows = [
        ("s", [1.0, float(a)], float(b)) for a, b in zip(x1, y)
    ]
    design = spark.createDataFrame(rows, "slice string, x array<double>, y_t double")
    hub = huber_fit(design, delta=1.0, iters=8)["s"]
    ols = huber_fit(design, delta=1.0, iters=1)["s"]
    assert abs(ols[1] - 2.0) > 0.05 or abs(ols[0]) > 0.5  # OLS got pulled
    assert abs(hub[1] - 2.0) < 0.05
    assert abs(hub[0]) < 0.3


@pytest.mark.slow  # long IRLS fit (~36 s) — default run excludes it (r14, driver budget)
def test_quantile_fit_recovers_empirical_quantile(spark):
    """Intercept-only design: the pinball minimizer IS the empirical
    tau-quantile.  The distributed IRLS must land on it (within the
    epsilon-smoothing wiggle), and coverage must sit at ~tau."""
    import numpy as np

    from fiveg_spark.ml.quantile import quantile_fit

    rng = np.random.default_rng(3)
    y = rng.exponential(5.0, 400)  # skewed: mean far from q90
    rows = [("s", [1.0], float(v)) for v in y]
    design = spark.createDataFrame(
        rows, "slice string, x array<double>, y_t double"
    )
    betas = quantile_fit(design, tau=0.9, iters=60, eps=1e-8)
    q90_hat = betas["s"][0]
    q90_true = float(np.quantile(y, 0.9))
    # IRLS epsilon-smoothing + interpolation: land within the gap
    # between adjacent order statistics around q90
    ys = np.sort(y)
    gap = ys[int(0.92 * len(y))] - ys[int(0.88 * len(y))]
    assert abs(q90_hat - q90_true) <= gap + 1e-6
    cover = float(np.mean(y <= q90_hat))
    assert abs(cover - 0.9) <= 0.02

    # tau=0.5 must land on the median, below the q90 fit
    b50 = quantile_fit(design, tau=0.5, iters=60, eps=1e-8)
    assert b50["s"][0] < q90_hat
    assert abs(b50["s"][0] - float(np.median(y))) <= gap + 1e-6
