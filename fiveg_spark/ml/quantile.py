"""Distributed quantile regression via IRLS (SURVEY §2 D28).

The conditional-quantile companion to the Huber fit (ml/huber.py) and
the model-side counterpart of the pinball EVALUATION row (D16): instead
of scoring a forecaster's quantile loss, fit the τ-quantile linear
model itself by minimizing the pinball loss

    ρ_τ(r) = r·(τ − 1[r < 0]),   r = y − xβ.

IRLS formulation: ρ_τ(r) = w(r)·r²/2 with w(r) = 2·(τ·1[r>0] +
(1−τ)·1[r≤0]) / max(|r|, ε), so each round solves weighted normal
equations in the same loop as the Huber fit (`ml/var.py:irls_fit`) —
the previous β broadcasts, each Arrow batch emits its partial
XᵀWX/XᵀWy cells, and ONLY those partials shuffle.  This module
contributes only the weight rule (ε-smoothing is the standard IRLS
regularization for the kink at r = 0).

Certification (the huber_cert pattern — theorem-level invariants over
the REAL distributed fit + oracle-recomputed counts):
- coverage: at the optimum ~τ of the residuals lie at or below the
  fitted line (the defining property of a quantile fit),
- pinball dominance: the τ-fit beats plain OLS on the pinball loss it
  minimizes,
- smoothed-gradient: ‖Σ x_i·ψ_ε(r_i)‖∞ ≈ 0 at the ε-smoothed optimum.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.ml.huber import scalar_design
from fiveg_spark.ml.var import irls_fit
from fiveg_spark.plans.plan_ledger import note_precollect

TAU = 0.9
# Smoothing bandwidth: this is CONVOLUTION-SMOOTHED quantile regression
# (He et al. 2021 "Smoothed quantile regression with large-scale
# inference" / conquer): the pinball kink is replaced by a quadratic
# inside |r| <= KAPPA, which BOUNDS the IRLS weights at side/KAPPA —
# with the raw 1/|r| weights a near-zero residual on the tiny-SF
# rank-deficient design blows the weighted Gram's conditioning and the
# iteration oscillates (measured: gradient norms in the thousands at
# sf0.001).  The certified object is the smoothed-QR optimum at this
# bandwidth; as KAPPA -> 0 it converges to the exact quantile fit.
KAPPA = 0.01
ITERS = 80
RIDGE = 1e-6  # rank-deficient tiny-SF designs need more than 1e-9


def quantile_fit(
    design: DataFrame,
    tau: float = TAU,
    iters: int = ITERS,
    eps: float = KAPPA,
    tol: float | None = 1e-9,
) -> dict[str, np.ndarray]:
    """IRLS over a (slice, x: array, y_t: double) design frame;
    returns {slice: β}.  Early-stops at the IRLS fixed point."""

    def weight(r):
        return np.where(r > 0, tau, 1.0 - tau) / np.maximum(np.abs(r), eps)

    return irls_fit(design, weight, iters, tol, RIDGE)


def _qr_cert_kernel(bq, bo, tau, eps):
    """Partials for the certification row: n, below-count, pinball
    losses at both β, and the ε-smoothed gradient at β_qr."""

    def kernel(batches):
        for pdf in batches:
            for slice_name, g in pdf.groupby("slice"):
                X = np.asarray(list(g["x"]), dtype=np.float64)
                y = np.asarray(g["y_t"], dtype=np.float64)
                r = y - X @ bq[slice_name]
                ro = y - X @ bo[slice_name]

                def pinball(res):
                    return float(
                        np.sum(res * (tau - (res < 0).astype(np.float64)))
                    )

                psi = tau - (r < 0).astype(np.float64)
                # smoothed ψ inside the ε-kink: w·r with the IRLS weight
                near = np.abs(r) <= eps
                psi[near] = (
                    np.where(r[near] > 0, tau, 1.0 - tau) * r[near] / eps
                )
                grad = X.T @ psi
                yield pd.DataFrame(
                    {
                        "slice": [slice_name],
                        "n": [len(y)],
                        "n_below": [int(np.sum(r <= 0))],
                        "loss_qr": [pinball(r)],
                        "loss_ols": [pinball(ro)],
                        "grad": [grad.tolist()],
                        "absx": [np.abs(X).sum(axis=0).tolist()],
                    }
                )

    return kernel


def quantile_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D28 certification row: real distributed τ=0.9 fit, then in-row
    coverage / pinball-dominance / smoothed-gradient booleans."""
    from fiveg_spark.ml.certify import N_TERMS, P_LAGS

    design = scalar_design(spark, sf_dir, p=P_LAGS).persist()
    try:
        qr = quantile_fit(design)
        from fiveg_spark.ml.huber import huber_fit

        ols = huber_fit(design, iters=1)  # unit weights = plain OLS
        m = N_TERMS
        partials = design.select("slice", "x", "y_t").mapInPandas(
            _qr_cert_kernel(qr, ols, TAU, KAPPA),
            schema=(
                "slice string, n long, n_below long, "
                "loss_qr double, loss_ols double, grad array<double>, "
                "absx array<double>"
            ),
        )
        agg = (
            partials.groupBy("slice")
            .agg(
                F.sum("n").alias("n"),
                F.sum("n_below").alias("n_below"),
                F.sum("loss_qr").alias("loss_qr"),
                F.sum("loss_ols").alias("loss_ols"),
                F.array(
                    *[F.sum(F.element_at("grad", t + 1)) for t in range(m)]
                ).alias("grad"),
                F.array(
                    *[F.sum(F.element_at("absx", t + 1)) for t in range(m)]
                ).alias("absx"),
            )
            .transform(note_precollect).collect()
        )
    finally:
        design.unpersist()
    rows = []
    for r in sorted(agg, key=lambda x: x["slice"]):
        share_below = r["n_below"] / r["n"]
        # per-term RELATIVE gradient: |g_t| against the attainable range
        # max(τ,1−τ)·Σ|x_t| for that coordinate — the absolute ∞-norm is
        # meaningless when heavy-tailed lag columns carry |x| ~ 1e5 (a
        # converged fit still shows |g| ~ scale · float-noise there);
        # measured converged fits sit at ≤ 1.5e-3, bound set at 1e-2
        gmax = max(
            abs(g) / max(a, 1e-12) for g, a in zip(r["grad"], r["absx"])
        )
        rows.append(
            (
                r["slice"],
                r["n"],
                # quantile property: ±5% slack plus the m/n interpolation
                # wiggle (finite-sample exactness is only to ~m points)
                bool(abs(share_below - TAU) <= 0.05 + N_TERMS / r["n"]),
                bool(r["loss_qr"] <= r["loss_ols"] + 1e-6 * r["n"]),
                bool(gmax <= 1e-2),
            )
        )
    return spark.createDataFrame(
        rows,
        "slice string, n_obs long, coverage_ok boolean, "
        "loss_le_ols boolean, grad_ok boolean",
    )
