"""Driver-certifiable invariant rows for the iterative-ML block
(SURVEY §2 D6/D8/D9/D12/D15/D17/D18/D19/D44/D49).

These fits (normal-equation VAR, IRLS Huber, MLlib LR/PCA/isotonic,
GRU forward, Adam-trained hybrid) are not SQL-reproducible, so their
raw surfaces were rows-only.  Each query here lifts the pytest-level
evidence to DRIVER scale the same way the ANN family did
(operators/ann_recall.py): run the real distributed fit on the real
data, then emit the mathematical invariants the fit GUARANTEES as
tolerance booleans, alongside data-dependent row counts the oracle
recomputes independently from the events/embeddings tables.  The
oracle states the invariant; Spark proves its own fit satisfies it.

Invariants certified (all are theorems about the exact optimum, with
float tolerances):
- VAR OLS:    XᵀX·B = XᵀY (normal equations), and fitted SSE ≤
              intercept-only SSE per equation (nested-model bound).
              The VAR, ridge and lag-order certs read n, Σy and YᵀY
              off the one collected Gram of [X | Y] (ml/var.py), so
              each is a single distributed pass.
- Huber IRLS: ∇L ≈ 0 at the converged β (fixed point), and
              L(β_huber) ≤ L(β_ols) (β_huber minimizes L).
- MLlib LR:   0 ≤ train R² ≤ 1 and RMSE ≤ stddev_pop(y) (intercept
              model is nested in the fit).
- PCA:        explained-variance ratios ∈ [0,1], non-increasing,
              Σ ≤ 1; the PC1 ratio re-derived DISTRIBUTED as
              var(PC1 scores)/Σ var(dims) (trace identity).
- Isotonic:   knots non-decreasing, MSE(calibrated) ≤ MSE(raw)
              (identity is monotone), pooled mean preserved (PAVA).
- GRU:        distributed mapInPandas forward ≡ driver-side forward
              on a bounded deterministic sample; all outputs finite.
- Hybrid:     eval frame has the exact test-split shape, forecasts
              clipped at 0, errors finite; training loss decreases.

The row counts (n_obs, n_pairs, n_sequences, …) are the strong part
of the oracle: DuckDB re-derives them from the raw events table via
the same hourly/split arithmetic the feature pipeline certifies
elsewhere (sequence_counts), so a partitioning or split bug upstream
of any fit breaks the hash match even if every boolean is TRUE.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fiveg_spark.ml.features import FEATURES, feature_frame, robust_scale
from fiveg_spark.ml.var import collect_gram, lag_design, normal_equations, ridge_solve
from fiveg_spark.operators.kpi import kpi36
from fiveg_spark.operators.timeseries import _hourly_cte
from fiveg_spark.plans.plan_ledger import note_precollect
from fiveg_spark.plans.registry import Query

P_LAGS = 3
N_TERMS = len(FEATURES) * P_LAGS + 1  # intercept + k*p lag terms
GRU_SAMPLE = 64


def _counted_cte() -> str:
    return f"""{_hourly_cte("duckdb")},
    counted AS (SELECT slice, count(*) AS n FROM hourly GROUP BY slice)"""


# --------------------------------------------------------------------------
# D6: VAR normal-equation fit
# --------------------------------------------------------------------------


def _train_gram(spark: SparkSession, sf_dir: str) -> dict:
    """{slice: (XᵀX, XᵀY, YᵀY)} of the VAR(P_LAGS) train design: one
    distributed Gram pass, noted for the plan ledger.  XᵀX[0, 0] is n
    and XᵀY[0] is Σy (the intercept column), so the certs below read
    every target moment they need from it."""
    scaled, _, _ = robust_scale(feature_frame(kpi36(spark, sf_dir)))
    design = lag_design(scaled, p=P_LAGS).filter(F.col("split") == "train")
    return collect_gram(normal_equations(design).transform(note_precollect))


def var_ols_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = []
    for slice_name, (xtx, xty, yty) in sorted(_train_gram(spark, sf_dir).items()):
        n = int(xtx[0, 0])
        B = ridge_solve(xtx, xty)
        resid = float(np.abs(xtx @ B - xty).max())
        normal_ok = resid <= 1e-6 * max(1.0, float(np.abs(xty).max()))
        beats = True
        for f in range(len(FEATURES)):
            sse_fit = (
                yty[f, f]
                - 2.0 * float(B[:, f] @ xty[:, f])
                + float(B[:, f] @ xtx @ B[:, f])
            )
            sse_mean = yty[f, f] - xty[0, f] ** 2 / n
            if sse_fit > sse_mean + 1e-6 * max(1.0, abs(sse_mean)):
                beats = False
        rows.append((slice_name, n, xtx.shape[0], bool(normal_ok), beats))
    return spark.createDataFrame(
        rows,
        "slice string, n_obs long, n_terms long, "
        "normal_eq_ok boolean, beats_mean_ok boolean",
    )


_VAR_CERT_ORACLE = f"""
{_counted_cte()}
SELECT
  slice,
  CAST(greatest(CAST(floor(0.7 * n) AS BIGINT) - {P_LAGS}, 0) AS BIGINT) AS n_obs,
  CAST({N_TERMS} AS BIGINT) AS n_terms,
  TRUE AS normal_eq_ok,
  TRUE AS beats_mean_ok
FROM counted
ORDER BY slice
"""


# --------------------------------------------------------------------------
# D18: Huber IRLS
# --------------------------------------------------------------------------


def _huber_cert_kernel(bh, bo, delta):
    """Partial (n, gradient vector at β_huber, Huber losses at both β)
    per (Arrow batch, slice) — summed downstream, so the invariant is
    evaluated on the FULL distributed design, not a sample."""

    def kernel(batches):
        for pdf in batches:
            for slice_name, g in pdf.groupby("slice"):
                X = np.asarray(list(g["x"]), dtype=np.float64)
                y = np.asarray(g["y_t"], dtype=np.float64)

                def huber_loss(beta):
                    r = y - X @ beta
                    a = np.abs(r)
                    return float(
                        np.where(a <= delta, 0.5 * r * r, delta * (a - 0.5 * delta)).sum()
                    )

                r = y - X @ bh[slice_name]
                psi = np.where(np.abs(r) <= delta, r, delta * np.sign(r))
                yield pd.DataFrame(
                    {
                        "slice": [slice_name],
                        "n": [len(y)],
                        "grad": [(X.T @ psi).tolist()],
                        "loss_hub": [huber_loss(bh[slice_name])],
                        "loss_ols": [huber_loss(bo[slice_name])],
                    }
                )

    return kernel


def huber_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.ml.huber import DELTA, huber_fit, scalar_design

    design = scalar_design(spark, sf_dir, p=P_LAGS).persist()
    try:
        # run IRLS to its fixed point (early-stop): the gradient
        # invariant certifies the CONVERGED optimum, not round 6
        hub = huber_fit(design, iters=40, tol=1e-9)
        ols = huber_fit(design, iters=1)  # unit weights = plain OLS
        m = N_TERMS
        partials = design.select("slice", "x", "y_t").mapInPandas(
            _huber_cert_kernel(hub, ols, DELTA),
            schema=(
                "slice string, n long, grad array<double>, "
                "loss_hub double, loss_ols double"
            ),
        )
        agg = (
            partials.groupBy("slice")
            .agg(
                F.sum("n").alias("n"),
                F.array(
                    *[F.sum(F.element_at("grad", t + 1)) for t in range(m)]
                ).alias("grad"),
                F.sum("loss_hub").alias("loss_hub"),
                F.sum("loss_ols").alias("loss_ols"),
            )
            .transform(note_precollect).collect()
        )
    finally:
        design.unpersist()
    rows = []
    for r in sorted(agg, key=lambda r: r["slice"]):
        gmax = max(abs(v) for v in r["grad"])
        rows.append(
            (
                r["slice"],
                r["n"],
                bool(gmax <= 1e-3 * r["n"]),
                bool(r["loss_hub"] <= r["loss_ols"] + 1e-6 * r["n"]),
            )
        )
    return spark.createDataFrame(
        rows, "slice string, n_obs long, grad_ok boolean, loss_le_ols boolean"
    )


_HUBER_CERT_ORACLE = f"""
{_counted_cte()}
SELECT
  slice,
  CAST(greatest(CAST(floor(0.7 * n) AS BIGINT) - {P_LAGS}, 0) AS BIGINT) AS n_obs,
  TRUE AS grad_ok,
  TRUE AS loss_le_ols
FROM counted
ORDER BY slice
"""


# --------------------------------------------------------------------------
# D12: MLlib LinearRegression AR baseline
# --------------------------------------------------------------------------


def linear_baseline_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.ml.regression import LinearRegression

    from fiveg_spark.operators.timeseries import _var_lag_sql
    from fiveg_spark.plans.registry import ensure_views

    ensure_views(spark, ("events",), sf_dir)
    lagged = spark.sql(_var_lag_sql("spark"))
    pipeline = Pipeline(
        stages=[
            VectorAssembler(inputCols=["y_l1", "y_l2", "y_l3"], outputCol="raw"),
            StandardScaler(inputCol="raw", outputCol="features"),
            LinearRegression(
                featuresCol="features", labelCol="y", solver="normal", regParam=0.0
            ),
        ]
    )
    rows = []
    for slice_name in ("eMBB", "URLLC", "mMTC"):
        part = lagged.filter(F.col("slice") == slice_name)
        model = pipeline.fit(part)
        lr = model.stages[-1]
        stats = part.agg(
            F.count("*").alias("n"), F.stddev_pop("y").alias("sd")
        ).transform(note_precollect).head()
        r2 = float(lr.summary.r2)
        rmse = float(lr.summary.rootMeanSquaredError)
        sd = float(stats["sd"] or 0.0)
        rows.append(
            (
                slice_name,
                stats["n"],
                int(lr.numFeatures),
                bool(-1e-9 <= r2 <= 1.0 + 1e-9),
                bool(rmse <= sd + 1e-6 * max(1.0, sd)),
            )
        )
    return spark.createDataFrame(
        rows,
        "slice string, n_rows long, n_features long, r2_ok boolean, rmse_le_sd boolean",
    )


_LINEAR_CERT_ORACLE = f"""
{_counted_cte()}
SELECT
  slice,
  CAST(greatest(n - {P_LAGS}, 0) AS BIGINT) AS n_rows,
  CAST({P_LAGS} AS BIGINT) AS n_features,
  TRUE AS r2_ok,
  TRUE AS rmse_le_sd
FROM counted
ORDER BY slice
"""


# --------------------------------------------------------------------------
# D15: MLlib PCA
# --------------------------------------------------------------------------


def pca_cert(spark: SparkSession, sf_dir: str, k: int = 4) -> DataFrame:
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from fiveg_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir).withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    dim = len(emb.select("embedding").head()[0])
    model = PCA(k=k, inputCol="features", outputCol="pc").fit(emb)
    ratios = [float(v) for v in model.explainedVariance]
    monotone_ok = all(ratios[i] >= ratios[i + 1] - 1e-9 for i in range(k - 1))
    bounded_ok = all(-1e-9 <= r <= 1.0 + 1e-9 for r in ratios) and sum(ratios) <= 1.0 + 1e-6
    stats = (
        model.transform(emb)
        .select(
            vector_to_array("pc").alias("p"),
            F.col("embedding").cast("array<double>").alias("e"),
        )
        .agg(
            F.count("*").alias("n"),
            F.var_samp(F.element_at("p", 1)).alias("v1"),
            *[
                F.var_samp(F.element_at("e", d + 1)).alias(f"vd{d}")
                for d in range(dim)
            ],
        )
        .transform(note_precollect).head()
    )
    total = sum(stats[f"vd{d}"] for d in range(dim))
    pc1_ratio_ok = bool(abs(stats["v1"] / total - ratios[0]) <= 1e-4)
    return spark.createDataFrame(
        [(k, stats["n"], monotone_ok, bounded_ok, pc1_ratio_ok)],
        "k long, n_vectors long, ratios_monotone_ok boolean, "
        "ratios_bounded_ok boolean, pc1_ratio_ok boolean",
    )


_PCA_CERT_ORACLE = """
SELECT
  CAST(4 AS BIGINT) AS k,
  CAST(count(*) AS BIGINT) AS n_vectors,
  TRUE AS ratios_monotone_ok,
  TRUE AS ratios_bounded_ok,
  TRUE AS pc1_ratio_ok
FROM embeddings
"""


# --------------------------------------------------------------------------
# D19: MLlib isotonic (PAVA) calibration
# --------------------------------------------------------------------------


def isotonic_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.ml.mllib_models import _isotonic_fit

    model, scored = _isotonic_fit(spark, sf_dir)
    preds = [float(p) for p in model.predictions]
    monotone_ok = all(preds[i] <= preds[i + 1] + 1e-9 for i in range(len(preds) - 1))
    agg = scored.agg(
        F.count("*").alias("n"),
        F.sum(F.pow(F.col("actual") - F.col("fc"), 2)).alias("sse_raw"),
        F.sum(F.pow(F.col("actual") - F.col("prediction"), 2)).alias("sse_cal"),
        F.sum("actual").alias("sa"),
        F.sum("prediction").alias("sp"),
    ).transform(note_precollect).head()
    mse_improves = bool(
        agg["sse_cal"] <= agg["sse_raw"] + 1e-6 * max(1.0, agg["sse_raw"])
    )
    mean_preserved = bool(
        abs(agg["sa"] - agg["sp"]) <= 1e-6 * max(1.0, abs(agg["sa"]))
    )
    return spark.createDataFrame(
        [(agg["n"], monotone_ok, mse_improves, mean_preserved)],
        "n_pairs long, monotone_ok boolean, mse_improves boolean, "
        "mean_preserved boolean",
    )


_ISOTONIC_CERT_ORACLE = f"""
{_counted_cte()}
SELECT
  CAST(sum(greatest(n - 24, 0)) AS BIGINT) AS n_pairs,
  TRUE AS monotone_ok,
  TRUE AS mse_improves,
  TRUE AS mean_preserved
FROM counted
"""


# --------------------------------------------------------------------------
# D8: GRU/GRN/MHA distributed forward
# --------------------------------------------------------------------------


def gru_forward_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.ml.model import forward, init_weights, predict_residuals, stack_seqs
    from fiveg_spark.ml.sequences import sliding_sequences

    scaled, _, _ = robust_scale(feature_frame(kpi36(spark, sf_dir)))
    seqs = sliding_sequences(scaled).persist()
    preds = None
    try:
        w = init_weights()
        # r13 opt: persist the forward-pass output — it is consumed
        # twice (finiteness agg + the bit-parity sample collect), and
        # unpersisted the Arrow-batch numpy forward ran twice.
        preds = predict_residuals(seqs, spark.sparkContext.broadcast(w)).persist()
        finite = preds.agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.exists("resid_pred", lambda v: F.isnan(v) | v.isNull()), 1
                ).otherwise(0)
            ).alias("bad"),
        ).head()
        # bounded deterministic sample: the distributed Arrow-batch
        # forward must reproduce the driver-side forward bit-for-bit
        # (same numpy code, same f32 dtype) on the SAME rows
        sample = (
            seqs.orderBy("slice", "window_start")
            .limit(GRU_SAMPLE)
            .select("slice", "window_start", "seq")
            .transform(note_precollect).collect()
        )
        dist = {
            (r["slice"], r["window_start"]): r["resid_pred"]
            for r in preds.orderBy("slice", "window_start")
            .limit(GRU_SAMPLE)
            .select("slice", "window_start", "resid_pred")
            .transform(note_precollect).collect()
        }
        max_diff = 0.0
        for r in sample:
            local = forward(stack_seqs([r["seq"]]), w)[0].astype(np.float64)
            got = np.asarray(dist[(r["slice"], r["window_start"])])
            max_diff = max(max_diff, float(np.abs(local - got).max()))
    finally:
        seqs.unpersist()
        if preds is not None:
            preds.unpersist()
    return spark.createDataFrame(
        [
            (
                finite["n"],
                len(sample),
                bool(max_diff <= 1e-5),
                bool(finite["bad"] == 0),
            )
        ],
        "n_sequences long, n_checked long, forward_matches boolean, "
        "all_finite boolean",
    )


def _gru_cert_oracle() -> str:
    from fiveg_spark.ml.sequences import WINDOW

    return f"""
    {_counted_cte()}
    SELECT
      CAST(sum(greatest(n - {WINDOW}, 0)) AS BIGINT) AS n_sequences,
      CAST(least({GRU_SAMPLE}, sum(greatest(n - {WINDOW}, 0))) AS BIGINT) AS n_checked,
      TRUE AS forward_matches,
      TRUE AS all_finite
    FROM counted
    """


# --------------------------------------------------------------------------
# D9: hybrid forecast eval shape
# --------------------------------------------------------------------------


def hybrid_forecast_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.ml.hybrid import hybrid_forecast

    long = hybrid_forecast(spark, sf_dir)
    return (
        long.groupBy("slice", "feature")
        .agg(
            F.count("*").alias("n"),
            (F.min("yhat") >= -1e-9).alias("yhat_nonneg_ok"),
            (
                F.sum(
                    F.when(
                        F.isnan("yhat") | F.isnan("y") | F.col("yhat").isNull(), 1
                    ).otherwise(0)
                )
                == 0
            ).alias("err_finite_ok"),
        )
        .orderBy("slice", "feature")
    )


def _hybrid_forecast_cert_oracle() -> str:
    feats = ", ".join(f"('{f}')" for f in FEATURES)
    return f"""
    {_counted_cte()},
    feats(feature) AS (VALUES {feats})
    SELECT
      c.slice,
      f.feature,
      CAST(c.n - CAST(floor(0.85 * c.n) AS BIGINT) AS BIGINT) AS n,
      TRUE AS yhat_nonneg_ok,
      TRUE AS err_finite_ok
    FROM counted c CROSS JOIN feats f
    ORDER BY c.slice, f.feature
    """


# --------------------------------------------------------------------------
# D17: hybrid training
# --------------------------------------------------------------------------


def hybrid_train_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.ml.train import hybrid_train_eval

    # 25 epochs: the certified invariants (loss decrease, finite RMSE,
    # test-split shape) hold from the first epochs on; the full-length
    # schedule stays on the raw surface + tests/test_train.py.  Keeps
    # the certification window's most expensive query ~2.5x cheaper.
    df = hybrid_train_eval(spark, sf_dir, epochs=25)
    return (
        df.filter(F.col("slice") != "ALL")
        .select(
            "slice",
            F.col("n_test").cast("long").alias("n_test"),
            (F.col("loss_last") <= F.col("loss_first") + 1e-9).alias(
                "loss_decreased"
            ),
            (
                ~F.isnan("rmse_hybrid")
                & ~F.isnan("rmse_var")
                & (F.col("rmse_hybrid") >= 0)
            ).alias("rmse_finite_ok"),
        )
        .orderBy("slice")
    )


_HYBRID_TRAIN_CERT_ORACLE = f"""
{_counted_cte()}
SELECT
  slice,
  CAST(n - CAST(floor(0.85 * n) AS BIGINT) AS BIGINT) AS n_test,
  TRUE AS loss_decreased,
  TRUE AS rmse_finite_ok
FROM counted
ORDER BY slice
"""


def hybrid_conformal_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # D30 — per-slice, per-feature SPLIT-CONFORMAL radii over the HYBRID
    # model's residuals (the r6 verdict's composition ask: D26's
    # conformal machinery × D9's forecast).  The radius is the canonical
    # ceil(0.9·(n_val+1))-th order statistic of |y − ŷ| on the VAL era,
    # giving the distribution-free ≥90% finite-sample guarantee
    # (Vovk et al.; Lei et al. 2018) — the calibrated uncertainty a
    # production NWDAF consumer needs that RMSE/MAE doesn't give.
    #
    # Certification (invariant-row pattern, hybrid_train_cert family):
    # the oracle recomputes n_val/n_test EXACTLY from raw events (split
    # sizes are a deterministic function of the per-slice hourly count),
    # and the booleans are theorems: the k-th-order-stat radius covers
    # >= k val points BY CONSTRUCTION (val_coverage_ok), radii are
    # nonnegative, and test coverage is a well-formed share.  Test-era
    # coverage VALUE stays on the raw surface (model-dependent, not
    # engine-independent) — tests/test_ml_certify pins it near nominal.
    #
    # Scale: the long forecast frame materializes once (localCheckpoint;
    # radius fit + coverage both read it), the rank is a per-(slice,
    # feature) window over the val era only, and the radius join back to
    # the test era is broadcast-sized (|slices|·|features| rows).
    from fiveg_spark.ml.hybrid import hybrid_forecast

    long = (
        hybrid_forecast(spark, sf_dir, splits=("val", "test"))
        .withColumn("abs_err", F.abs(F.col("y") - F.col("yhat")))
        .localCheckpoint()
    )
    w = Window.partitionBy("slice", "feature").orderBy("abs_err", "window_start")
    val = (
        long.filter(F.col("split") == "val")
        .withColumn("rk", F.row_number().over(w))
        .withColumn(
            "n_val", F.count("*").over(Window.partitionBy("slice", "feature"))
        )
    )
    # EXACT integer rank: ceil(0.9(n+1)) = (9(n+1)+9) div 10 — the
    # float product 0.9*(n+1) lands at 18.000000000000004 for n = 19
    # and ceils one rank too high (r7 self-review); integer arithmetic
    # has no such boundary
    k_rank = F.floor((9 * (F.col("n_val") + 1) + 9) / F.lit(10))
    radius = val.filter(
        F.col("rk") == F.least(k_rank, F.col("n_val"))
    ).select(
        "slice",
        "feature",
        F.col("n_val"),
        # CEIL-round to 4 decimals: a half-up round can land BELOW the
        # true order statistic and break the >= k coverage theorem; the
        # ceil only ever widens the interval (stays conservative)
        (F.ceil(F.col("abs_err") * 1e4) / 1e4).alias("radius"),
    )
    val_cov = (
        val.join(F.broadcast(radius.select("slice", "feature", "radius")),
                 ["slice", "feature"])
        .groupBy("slice", "feature")
        .agg(
            F.sum(
                F.when(F.col("abs_err") <= F.col("radius"), 1).otherwise(0)
            ).alias("n_below_val")
        )
    )
    test = long.filter(F.col("split") == "test")
    return (
        test.join(F.broadcast(radius), ["slice", "feature"])
        .join(F.broadcast(val_cov), ["slice", "feature"])
        .groupBy("slice", "feature")
        .agg(
            F.max("n_val").cast("long").alias("n_val"),
            F.count("*").cast("long").alias("n_test"),
            (F.min("radius") >= 0.0).alias("radius_nonneg_ok"),
            # k-th order statistic covers >= k of its own sample: with
            # k = min(ceil(0.9(n+1)), n) this is the finite-sample
            # conformal calibration identity
            (
                F.max("n_below_val")
                >= F.least(
                    F.floor((9 * (F.max("n_val") + 1) + 9) / F.lit(10)),
                    F.max("n_val"),
                )
            ).alias("val_coverage_ok"),
            (
                (
                    F.avg(
                        F.when(
                            F.col("abs_err") <= F.col("radius"), 1.0
                        ).otherwise(0.0)
                    )
                    >= 0.0
                )
                & (
                    F.avg(
                        F.when(
                            F.col("abs_err") <= F.col("radius"), 1.0
                        ).otherwise(0.0)
                    )
                    <= 1.0
                )
            ).alias("test_coverage_in_range"),
        )
        .orderBy("slice", "feature")
    )


def _hybrid_conformal_oracle() -> str:
    feats = ", ".join(f"('{f}')" for f in FEATURES)
    return f"""
    {_counted_cte()},
    feats(feature) AS (VALUES {feats})
    SELECT
      c.slice,
      f.feature,
      CAST(CAST(floor(0.85 * c.n) AS BIGINT)
           - CAST(floor(0.7 * c.n) AS BIGINT) AS BIGINT) AS n_val,
      CAST(c.n - CAST(floor(0.85 * c.n) AS BIGINT) AS BIGINT) AS n_test,
      TRUE AS radius_nonneg_ok,
      TRUE AS val_coverage_ok,
      TRUE AS test_coverage_in_range
    FROM counted c CROSS JOIN feats f
    ORDER BY c.slice, f.feature
    """


def _quantile_cert(spark, sf_dir):
    from fiveg_spark.ml.quantile import quantile_cert

    return quantile_cert(spark, sf_dir)


_QUANTILE_CERT_ORACLE = f"""
{_counted_cte()}
SELECT
  slice,
  CAST(greatest(CAST(floor(0.7 * n) AS BIGINT) - {P_LAGS}, 0) AS BIGINT) AS n_obs,
  TRUE AS coverage_ok,
  TRUE AS loss_le_ols,
  TRUE AS grad_ok
FROM counted
ORDER BY slice
"""


# --------------------------------------------------------------------------
# D44: ridge regression on the VAR design (closed-form, regularization path)
# --------------------------------------------------------------------------

RIDGE_LAMBDAS = (0.1, 1.0, 10.0)


def ridge_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D44 — ridge regression over the D6 VAR lag design at a λ ladder
    (Hoerl & Kennard 1970): B_λ = (XᵀX + λI)⁻¹XᵀY from the SAME
    distributed Gram of [X | Y] D6 certifies, in ONE pass — the
    regularization path and the SSEs (YᵀY is the Gram's target block)
    are pure driver-side linear algebra on the collected (k·p+1+k)²
    sums, the whole point of the Gram formulation at 100 TB.
    Full-matrix penalty (intercept included),
    so every invariant below is an exact theorem of the computed
    objective J_λ(B) = SSE(B) + λ‖B‖²_F:

    - solve_ok:     ‖(XᵀX+λI)B_λ − XᵀY‖∞ ≈ 0 (the defining equations)
    - shrink_ok:    ‖B_λ‖_F non-increasing in λ and ≤ ‖B_ols‖_F
                    (standard ridge shrinkage monotonicity)
    - objective_ok: J_λ(B_λ) ≤ J_λ(B_ols) (B_λ minimizes J_λ)
    - sse_order_ok: SSE(B_λ) ≥ SSE(B_ols) (OLS minimizes raw SSE)

    The oracle recomputes n_obs per slice from raw events (the strong
    data-dependent half, as for D6) and states the theorems as TRUE."""

    def sse_total(xtx, xty, syy, B):
        return float(
            sum(
                syy[f] - 2.0 * float(B[:, f] @ xty[:, f])
                + float(B[:, f] @ xtx @ B[:, f])
                for f in range(B.shape[1])
            )
        )

    rows = []
    for slice_name, (xtx, xty, yty) in sorted(_train_gram(spark, sf_dir).items()):
        syy = np.diag(yty)
        eye = np.eye(xtx.shape[0])
        b_ols = ridge_solve(xtx, xty)
        sse_ols = sse_total(xtx, xty, syy, b_ols)
        norm_ols = float(np.sum(b_ols * b_ols))
        prev_norm = norm_ols
        for lam in RIDGE_LAMBDAS:
            b_lam = ridge_solve(xtx, xty, lam)
            resid = float(np.abs((xtx + lam * eye) @ b_lam - xty).max())
            solve_ok = resid <= 1e-6 * max(1.0, float(np.abs(xty).max()))
            norm_lam = float(np.sum(b_lam * b_lam))
            shrink_ok = norm_lam <= prev_norm + 1e-9 * max(1.0, prev_norm)
            sse_lam = sse_total(xtx, xty, syy, b_lam)
            tol = 1e-6 * max(1.0, abs(sse_ols))
            objective_ok = (sse_lam + lam * norm_lam
                            <= sse_ols + lam * norm_ols + tol)
            sse_order_ok = sse_lam >= sse_ols - tol
            prev_norm = norm_lam
            rows.append(
                (
                    slice_name,
                    float(lam),
                    int(xtx[0, 0]),
                    xtx.shape[0],
                    bool(solve_ok),
                    bool(shrink_ok),
                    bool(objective_ok),
                    bool(sse_order_ok),
                )
            )
    return spark.createDataFrame(
        rows,
        "slice string, lambda double, n_obs long, n_terms long, "
        "solve_ok boolean, shrink_ok boolean, objective_ok boolean, "
        "sse_order_ok boolean",
    )


_RIDGE_CERT_ORACLE = f"""
{_counted_cte()},
lambdas AS (
  SELECT unnest([{", ".join(f"CAST({lam} AS DOUBLE)" for lam in RIDGE_LAMBDAS)}])
    AS lam
)
SELECT
  c.slice,
  l.lam AS lambda,
  CAST(greatest(CAST(floor(0.7 * c.n) AS BIGINT) - {P_LAGS}, 0) AS BIGINT)
    AS n_obs,
  CAST({N_TERMS} AS BIGINT) AS n_terms,
  TRUE AS solve_ok,
  TRUE AS shrink_ok,
  TRUE AS objective_ok,
  TRUE AS sse_order_ok
FROM counted c CROSS JOIN lambdas l
ORDER BY slice, lambda
"""


# --------------------------------------------------------------------------
# D49: VAR lag-order selection (AIC/BIC over nested Gram sub-blocks)
# --------------------------------------------------------------------------

ORDER_CANDIDATES = (1, 2, 3)


def _order_criteria(spark: SparkSession, sf_dir: str):
    """One fit, shared by the cert rows and the selection surface:
    per slice -> (n, {p: (aic, bic, sse, logdet, m_params)})."""
    k = len(FEATURES)
    out = {}
    for slice_name, (xtx, xty, yty) in _train_gram(spark, sf_dir).items():
        n = int(xtx[0, 0])
        crits = {}
        for p in ORDER_CANDIDATES:
            m_terms = k * p + 1
            sub_xtx = xtx[:m_terms, :m_terms]
            sub_xty = xty[:m_terms]
            B = ridge_solve(sub_xtx, sub_xty)
            E = yty - sub_xty.T @ B
            E = 0.5 * (E + E.T)  # numerical symmetrization
            sse = float(np.trace(E))
            sign, logdet = np.linalg.slogdet(
                E / max(n, 1) + 1e-12 * np.eye(k)
            )
            logdet = float(logdet) if sign > 0 else float("-inf")
            m_params = k * m_terms
            aic = logdet + 2.0 * m_params / max(n, 1)
            bic = logdet + np.log(max(n, 2)) * m_params / max(n, 1)
            crits[p] = (aic, bic, sse, logdet, m_params)
        out[slice_name] = (n, crits)
    return out


def var_order_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D49 — VAR lag-order selection via AIC/BIC (Lutkepohl 2005 ch.4),
    answering WHY the pipeline fits p=3 (ref train.py:214) instead of
    assuming it.  The statsmodels-standard discipline: hold the
    estimation sample FIXED at the max-lag complete cases so criteria
    are comparable across p — and then every candidate order's Gram
    matrix is a LEADING SUB-BLOCK of the p=3 Gram D6 already computes
    (column order is intercept, lag-1 block, ..., lag-p block), so the
    whole sweep is ONE Gram pass: Y'Y is the Gram's target block and
    n its intercept cell (the ridge_cert doctrine: the model ladder is
    driver-side linear algebra on collected sums).

    Criteria per (slice, p): residual cross-covariance E_p = Y'Y −
    (X'Y)'B_p (exact at the normal-equation solution), AIC = ln|E_p/n|
    + 2m/n, BIC = ln|E_p/n| + m·ln(n)/n with m = k(kp+1) params.
    Certified theorems per row:

    - sse_decreases_ok:    trace(E_p) non-increasing in p (nested OLS)
    - logdet_decreases_ok: ln|E_p| non-increasing in p (E_{p+1} ⪯ E_p
                           in PSD order under nested regression)
    - order_relation_ok:   p_BIC ≤ p_AIC whenever ln(n) ≥ 2 (the
                           classic penalty-ordering theorem; vacuous
                           below n = 8)

    The oracle recomputes n_obs per slice from raw events (fixed
    sample: 0.7n − max-lag, shared with D6/D44) and the m ladder, and
    states the theorems as TRUE.  The actual selected orders are a
    function surface (`select_var_order`), pytest-pinned on planted
    AR(p) series where the true order wins."""
    rows = []
    for slice_name, (n, crits) in sorted(
        _order_criteria(spark, sf_dir).items()
    ):
        p_aic = min(ORDER_CANDIDATES, key=lambda p: (crits[p][0], p))
        p_bic = min(ORDER_CANDIDATES, key=lambda p: (crits[p][1], p))
        relation_ok = n < 8 or p_bic <= p_aic
        prev_sse = prev_logdet = None
        for p in ORDER_CANDIDATES:
            _aic, _bic, sse, logdet, m_params = crits[p]
            tol = 1e-6 * max(1.0, abs(prev_sse) if prev_sse is not None else 1.0)
            sse_ok = prev_sse is None or sse <= prev_sse + tol
            logdet_ok = prev_logdet is None or logdet <= prev_logdet + 1e-6
            prev_sse, prev_logdet = sse, logdet
            rows.append(
                (
                    slice_name,
                    p,
                    n,
                    m_params,
                    bool(sse_ok),
                    bool(logdet_ok),
                    bool(relation_ok),
                )
            )
    return spark.createDataFrame(
        rows,
        "slice string, p int, n_obs long, n_params long, "
        "sse_decreases_ok boolean, logdet_decreases_ok boolean, "
        "order_relation_ok boolean",
    )


def select_var_order(
    spark: SparkSession, sf_dir: str
) -> dict[str, dict[str, int]]:
    """The consumer surface: {slice: {"aic": p, "bic": p}} — the order
    a production fit should use.  Shares var_order_cert's one fit."""
    out: dict[str, dict[str, int]] = {}
    for slice_name, (_n, crits) in _order_criteria(spark, sf_dir).items():
        out[slice_name] = {
            "aic": min(ORDER_CANDIDATES, key=lambda p: (crits[p][0], p)),
            "bic": min(ORDER_CANDIDATES, key=lambda p: (crits[p][1], p)),
        }
    return out


_VAR_ORDER_ORACLE = f"""
{_counted_cte()},
cands AS (
  SELECT unnest([{", ".join(str(p) for p in ORDER_CANDIDATES)}]) AS p
)
SELECT
  c.slice,
  CAST(d.p AS INT) AS p,
  CAST(greatest(CAST(floor(0.7 * c.n) AS BIGINT) - {P_LAGS}, 0) AS BIGINT)
    AS n_obs,
  CAST({len(FEATURES)} * ({len(FEATURES)} * d.p + 1) AS BIGINT) AS n_params,
  TRUE AS sse_decreases_ok,
  TRUE AS logdet_decreases_ok,
  TRUE AS order_relation_ok
FROM counted c CROSS JOIN cands d
ORDER BY slice, p
"""


# --------------------------------------------------------------------------
# D53: pairwise Granger causality between slices
# --------------------------------------------------------------------------

GRANGER_P = 3


def _granger_rows(spark: SparkSession, sf_dir: str) -> list:
    """D53 — pairwise Granger causality between slice throughput series
    (Granger 1969): does slice x's past improve the forecast of slice
    y beyond y's own lags?  The inter-slice question the reference's
    VAR family implies but never tests — cross-correlation (D35) finds
    lead-lag ASSOCIATION, Granger is the predictive-improvement test a
    capacity planner acts on (x Granger-causes y => watch x to
    provision y).

    Design: the hourly throughput pivot restricted to hours where ALL
    slices report (inner grid — a bounded |hours|×|slices| frame that
    grows with calendar time, never data volume), lags over the row
    index of that grid.  Per ordered pair: restricted OLS y_t ~
    (1, y_{t-1..p}) vs unrestricted + x_{t-1..p}, F = ((SSE_r −
    SSE_u)/p) / (SSE_u/(n − 2p − 1)), verdict at the F(3, large)
    5%% point 2.605.  The regressions are numpy lstsq on the collected
    grid — the collect is the tiny series pivot (the ml/var doctrine:
    driver-side linear algebra on calendar-bounded frames), at 100 TB
    the pivot still has one row per hour.

    Cert rows carry ONLY the nested-OLS theorems (SSE_u ≤ SSE_r,
    F ≥ 0) plus the oracle-recomputed common-grid size (the cert
    doctrine: the oracle cannot refit, so estimates stay off the
    hashed row); the F matrix and verdicts ship as the
    `granger_matrix` consumer surface, pytest-pinned on planted
    leader/follower series where causality is one-directional."""
    from fiveg_spark.plans.registry import ensure_views

    if sf_dir is not None:  # None: score an already-registered view
        ensure_views(spark, ("events",), sf_dir)
    pivot = spark.sql(
        f"""
        {_hourly_cte("spark")},
        grid AS (
          SELECT h, slice, throughput_bps AS v FROM hourly
        ),
        complete AS (
          SELECT h FROM grid GROUP BY h
          HAVING count(DISTINCT slice) = (SELECT count(DISTINCT slice) FROM grid)
        )
        SELECT g.h, g.slice, g.v
        FROM grid g JOIN complete c ON c.h = g.h
        ORDER BY g.h, g.slice
        """
    ).transform(note_precollect).collect()  # bounded: hours x slices rows, calendar-sized
    series: dict[str, list[float]] = {}
    hours: list = []
    for r in pivot:
        if not hours or hours[-1] != r["h"]:
            hours.append(r["h"])
        series.setdefault(r["slice"], []).append(float(r["v"]))
    slices = sorted(series)
    p = GRANGER_P
    rows = []
    for x in slices:
        for y in slices:
            if x == y:
                continue
            ys = np.asarray(series[y])
            xs = np.asarray(series[x])
            n_grid = len(ys)
            n = n_grid - p
            if n < 2 * p + 2:
                continue
            Y = ys[p:]
            own = np.column_stack(
                [np.ones(n)] + [ys[p - k : n_grid - k] for k in range(1, p + 1)]
            )
            cross = np.column_stack(
                [own] + [xs[p - k : n_grid - k] for k in range(1, p + 1)]
            )
            br, *_ = np.linalg.lstsq(own, Y, rcond=None)
            bu, *_ = np.linalg.lstsq(cross, Y, rcond=None)
            sse_r = float(np.sum((Y - own @ br) ** 2))
            sse_u = float(np.sum((Y - cross @ bu) ** 2))
            df2 = n - 2 * p - 1
            f_stat = (
                ((sse_r - sse_u) / p) / (sse_u / df2) if sse_u > 0 else 0.0
            )
            f_round = round(f_stat + 1e-9, 4)
            tol = 1e-6 * max(1.0, sse_r)
            rows.append(
                (
                    x,
                    y,
                    n_grid,
                    n,
                    bool(sse_u <= sse_r + tol),
                    bool(f_round >= 0.0),
                    float(f_round),
                    bool(f_round > 2.605),  # F(3, inf) 5% point
                )
            )
    return rows


def granger_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _granger_rows(spark, sf_dir)
    return spark.createDataFrame(
        [r[:6] for r in rows],
        "cause string, effect string, n_grid long, n_obs long, "
        "nested_sse_ok boolean, f_nonneg_ok boolean",
    )


def granger_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer surface: the full F matrix with verdicts (the columns
    the hash-compared cert row cannot carry)."""
    rows = _granger_rows(spark, sf_dir)
    return spark.createDataFrame(
        rows,
        "cause string, effect string, n_grid long, n_obs long, "
        "nested_sse_ok boolean, f_nonneg_ok boolean, f_stat double, "
        "granger_causes boolean",
    )


_GRANGER_ORACLE = f"""
{_hourly_cte("duckdb")},
grid AS (SELECT h, slice FROM hourly),
complete AS (
  SELECT h FROM grid GROUP BY h
  HAVING count(DISTINCT slice) = (SELECT count(DISTINCT slice) FROM grid)
),
n_common AS (SELECT CAST(count(*) AS BIGINT) AS n_grid FROM complete),
slices AS (SELECT DISTINCT slice FROM grid)
SELECT
  a.slice AS cause,
  b.slice AS effect,
  nc.n_grid,
  CAST(nc.n_grid - {GRANGER_P} AS BIGINT) AS n_obs,
  TRUE AS nested_sse_ok,
  TRUE AS f_nonneg_ok
FROM slices a
CROSS JOIN slices b
CROSS JOIN n_common nc
WHERE a.slice <> b.slice
  AND nc.n_grid - {GRANGER_P} >= 2 * {GRANGER_P} + 2
ORDER BY cause, effect
"""


QUERIES = [
    # conversions of the former rows-only registrations (round 6); raw
    # coefficient/top-k surfaces remain available as functions and stay
    # pytest-pinned to independent numpy implementations.
    Query("var_ols_cert", var_ols_cert, _VAR_CERT_ORACLE),
    Query("quantile_cert", _quantile_cert, _QUANTILE_CERT_ORACLE),
    Query("huber_cert", huber_cert, _HUBER_CERT_ORACLE),
    Query(
        "linear_baseline_cert", linear_baseline_cert, _LINEAR_CERT_ORACLE,
    ),
    Query("pca_cert", pca_cert, _PCA_CERT_ORACLE),
    Query("isotonic_cert", isotonic_cert, _ISOTONIC_CERT_ORACLE),
    Query("gru_forward_cert", gru_forward_cert, _gru_cert_oracle()),
    Query(
        "hybrid_forecast_cert",
        hybrid_forecast_cert,
        _hybrid_forecast_cert_oracle(),
    ),
    Query(
        "hybrid_train_cert", hybrid_train_cert, _HYBRID_TRAIN_CERT_ORACLE,
    ),
    Query(
        "hybrid_conformal_radii",
        hybrid_conformal_cert,
        _hybrid_conformal_oracle(),
    ),
    Query("ridge_cert", ridge_cert, _RIDGE_CERT_ORACLE),
    Query("var_order_cert", var_order_cert, _VAR_ORDER_ORACLE),
    Query("granger_cert", granger_cert, _GRANGER_ORACLE),
]
