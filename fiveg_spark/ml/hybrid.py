"""Hybrid VAR + residual-network forecast (SURVEY §2 D9).

Reference composition (train.py:199-261): fit VAR on the scaled train
split, take its one-step forecast, model the residuals with the
network, final_pred = var_pred + resid_pred, inverse RobustScaler,
clip at 0.

Distributed layout of one forecast pass:
  kpi36 → 7 features, checkpointed           [1 shuffle: KPI agg, pruned
                                              to 5 KPIs, run once]
    → RobustScaler params (one row per slice), collected and applied
      as literals (``features.robust_scale``)
    → scaled lag design, checkpointed        [window functions on the
                                              series key]
    → VAR fit: partial Gram mapInPandas + solve   [tiny shuffle, D6]
    → per-row VAR forecast + residuals (numpy dot, B broadcast) →
      one applyInPandas per slice: residual windows as strided views,
      network forward on the requested splits only  [1 shuffle, D8]
    → compose + inverse-scale (the same literals) + clip, long form

The driver collects only the m×m Gram cells and the scaler params.
The trade: the forward's parallelism is the number of series (one task
per slice).  A series is ~720 hourly rows at any sf, and per-series
chunks make each row's float32 output independent of the partitioning.

``residual_pipeline`` is the stepwise form that training reads: the
residual frame checkpointed, and the sequences as a collect_list window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fiveg_spark.ml.features import FEATURES, feature_frame, robust_scale
from fiveg_spark.ml.model import DTYPE, forward, init_weights, score_chunks
from fiveg_spark.ml.sequences import preceding_windows
from fiveg_spark.ml.var import lag_design, normal_equations, solve_coefficients
from fiveg_spark.operators.kpi import kpi36

_RESID_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("window_start", T.TimestampType()),
        T.StructField("split", T.StringType()),
        T.StructField("var_pred", T.ArrayType(T.DoubleType())),
        T.StructField("resid", T.ArrayType(T.DoubleType())),
    ]
)


def residual_frame(design: DataFrame, coeffs_bc) -> DataFrame:
    """Per-row VAR one-step forecast and residual (vectorized per batch)."""

    def score(batches):
        B_by_slice = coeffs_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            frames = []
            for slice_name, g in pdf.groupby("slice"):
                B = B_by_slice[slice_name]
                X = np.asarray(list(g["x"]), dtype=np.float64)
                Y = np.asarray(list(g["y"]), dtype=np.float64)
                pred = X @ B
                frames.append(
                    pd.DataFrame(
                        {
                            "slice": slice_name,
                            "window_start": g["window_start"].values,
                            "split": g["split"].values,
                            "var_pred": [r.tolist() for r in pred],
                            "resid": [r.tolist() for r in Y - pred],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return design.mapInPandas(score, schema=_RESID_SCHEMA)


def _scaled_design(spark: SparkSession, sf_dir: str, p: int):
    """kpi36 → 7 hourly features → RobustScaler → lag design,
    checkpointed: it feeds the Gram solve AND the residual scorer, and
    is hourly and tiny (~720 rows/slice).  Returns (design,
    scaler_params, (centers, scales)) — ``robust_scale``'s literals."""
    scaled, params, literals = robust_scale(feature_frame(kpi36(spark, sf_dir)))
    return lag_design(scaled, p=p).localCheckpoint(), params, literals


def _var_fit(design: DataFrame) -> dict[str, np.ndarray]:
    """VAR OLS on the train split: {slice: B (m × k)}."""
    return solve_coefficients(normal_equations(design.filter(F.col("split") == "train")))


def residual_pipeline(
    spark: SparkSession, sf_dir: str, p: int = 3, window: int = 60
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Stepwise front half of the hybrid, for training: scaled design →
    VAR fit on the train split → per-row residuals (checkpointed: they
    feed the sequences and the caller) → sliding residual sequences.
    Returns (resid, sequences, scaler_params)."""
    design, params, _ = _scaled_design(spark, sf_dir, p)
    coeffs = _var_fit(design)
    resid = residual_frame(design, spark.sparkContext.broadcast(coeffs)).localCheckpoint()

    # target before seq: the column order the plan ledger fingerprints
    sequences = preceding_windows(
        resid, "resid", window, ("slice", "window_start", "split", "target", "seq")
    )
    return resid, sequences, params


def predict_residuals(
    resid: DataFrame, weights_bc, window: int, splits: tuple[str, ...]
) -> DataFrame:
    """Score one broadcast weight pytree per residual series: one
    ``resid`` vector per (slice, window_start).

    One applyInPandas per slice reads the series once, takes every
    row's preceding ``window`` residuals as a strided view
    (``sliding_window_view``: no per-row lists, no collect_list window)
    and runs the forward only on rows with a full window whose
    ``split`` is in ``splits``, in ``score_chunks``' CHUNK-sized
    chunks.  Those rows come back with all of ``resid``'s columns plus
    ``resid_pred``.  ``model.predict_residuals`` is the same forward
    over precomputed ``seq`` cells."""
    keep = list(splits)

    def score_series(pdf: pd.DataFrame) -> pd.DataFrame:
        w = weights_bc.value
        pdf = pdf.sort_values("window_start", ignore_index=True)
        rows = np.arange(window, len(pdf))
        rows = rows[pdf["split"].iloc[window:].isin(keep).values]
        out = pdf.iloc[rows]
        if len(rows) == 0:
            return out.assign(resid_pred=pd.Series(dtype=object))
        R = np.asarray(list(pdf["resid"]), dtype=DTYPE)
        # windows[i] = rows i .. i+window-1, the history of row i+window;
        # fancy indexing gathers only the scored windows
        windows = sliding_window_view(R, window, axis=0).transpose(0, 2, 1)
        preds = score_chunks(windows[rows - window], lambda X: forward(X, w))
        return out.assign(resid_pred=[p.tolist() for p in preds])

    schema = T.StructType(
        resid.schema.fields + [T.StructField("resid_pred", T.ArrayType(T.DoubleType()))]
    )
    return resid.groupBy("slice").applyInPandas(score_series, schema=schema)


def hybrid_forecast(
    spark: SparkSession,
    sf_dir: str,
    p: int = 3,
    window: int = 60,
    splits: tuple[str, ...] = ("test",),
) -> DataFrame:
    """Long-form forecast: (slice, window_start, split, feature, yhat, y).

    ``splits`` picks which eras are scored — ("test",) is the eval
    default; the conformal calibrator takes ("val", "test") so the
    radius fits on val and coverage measures on test.  The windows
    still reach back into the earlier eras."""
    sc = spark.sparkContext
    design, _, (centers, scales) = _scaled_design(spark, sf_dir, p)
    coeffs = _var_fit(design)
    resid = residual_frame(design, sc.broadcast(coeffs))
    preds = predict_residuals(
        resid, sc.broadcast(init_weights()), window=window, splits=splits
    )

    # final = var_pred + resid_pred, then inverse-scale + clip (train.py:256-261)
    inv = preds.select(
        "slice",
        "window_start",
        "split",
        F.expr("zip_with(var_pred, resid_pred, (a, b) -> a + b)").alias("yhat_scaled"),
        F.expr("zip_with(var_pred, resid, (a, b) -> a + b)").alias("y_scaled"),
        centers.alias("centers"),
        scales.alias("scales"),
    )
    long = inv.select(
        "slice",
        "window_start",
        "split",
        F.posexplode(F.col("yhat_scaled")).alias("idx", "yhat_s"),
        "y_scaled",
        "centers",
        "scales",
    ).select(
        "slice",
        "window_start",
        "split",
        F.element_at(
            F.array(*[F.lit(f) for f in FEATURES]), F.col("idx") + 1
        ).alias("feature"),
        F.greatest(
            F.col("yhat_s") * F.element_at("scales", F.col("idx") + 1)
            + F.element_at("centers", F.col("idx") + 1),
            F.lit(0.0),
        ).alias("yhat"),
        (
            F.element_at("y_scaled", F.col("idx") + 1)
            * F.element_at("scales", F.col("idx") + 1)
            + F.element_at("centers", F.col("idx") + 1)
        ).alias("y"),
    )
    return long


def hybrid_eval(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """Per-(slice, feature) RMSE/MAE of the hybrid forecast (train.py:264-269)."""
    return (
        hybrid_forecast(spark, sf_dir, **kw)
        .groupBy("slice", "feature")
        .agg(
            F.round(F.sqrt(F.avg(F.pow(F.col("yhat") - F.col("y"), 2))), 4).alias("rmse"),
            F.round(F.avg(F.abs(F.col("yhat") - F.col("y"))), 4).alias("mae"),
            F.count("*").alias("n"),
        )
    )
