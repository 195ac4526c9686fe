"""Hybrid VAR + residual-network forecast (SURVEY §2 D9).

Reference composition (train.py:199-261): fit VAR on the scaled train
split, take its one-step forecast, model the residuals with the
network, final_pred = var_pred + resid_pred, inverse RobustScaler,
clip at 0.

Distributed layout:
  kpi36 → 7 features → scaled frame (hourly, tiny)  [1 shuffle: KPI agg,
                                                     pruned to 5 KPIs]
    → lag design via window functions               [reuses series order]
    → VAR fit: partial Gram mapInPandas + solve     [tiny shuffle, D6]
    → per-row VAR forecast + residuals (numpy dot,
      B broadcast, Arrow batches)
    → sliding sequences over residuals              [window collect_list]
    → network forward (mapInPandas, weights bcast)  [D8]
    → compose + inverse-scale + clip, long form     [broadcast params join]

Nothing ever collects to the driver except the m×m Gram cells.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fiveg_spark.ml.features import FEATURES, feature_frame, robust_scale
from fiveg_spark.ml.model import init_weights, predict_residuals
from fiveg_spark.ml.sequences import preceding_windows
from fiveg_spark.ml.var import lag_design, normal_equations, solve_coefficients
from fiveg_spark.operators.kpi import kpi36

_RESID_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("window_start", T.TimestampType()),
        T.StructField("split", T.StringType()),
        T.StructField("y", T.ArrayType(T.DoubleType())),
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
                            "y": [r.tolist() for r in Y],
                            "var_pred": [r.tolist() for r in pred],
                            "resid": [r.tolist() for r in Y - pred],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return design.mapInPandas(score, schema=_RESID_SCHEMA)


def residual_pipeline(
    spark: SparkSession, sf_dir: str, p: int = 3, window: int = 60
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared front half of the hybrid: kpi36 → scaled hourly features →
    VAR fit on the train split → per-row residuals → sliding residual
    sequences.  Returns (resid, sequences, scaler_params)."""
    scaled, params = robust_scale(feature_frame(kpi36(spark, sf_dir)))
    # localCheckpoint both shared frames: design feeds the Gram solve
    # AND the residual scorer, resid feeds the sequence window AND the
    # var_pred join downstream — without materialization each reference
    # re-runs the kpi36 aggregation + scaling pipeline (advisor
    # repeated-scan). The hourly frame is tiny (~2k rows/slice), so the
    # checkpoint is effectively free.
    design = lag_design(scaled, p=p).localCheckpoint()
    coeffs = solve_coefficients(
        normal_equations(design.filter(F.col("split") == "train"))
    )
    resid = residual_frame(design, spark.sparkContext.broadcast(coeffs)).localCheckpoint()

    # target before seq: the column order the plan ledger fingerprints
    sequences = preceding_windows(
        resid, "resid", window, ("slice", "window_start", "split", "target", "seq")
    )
    return resid, sequences, params


def hybrid_forecast(
    spark: SparkSession,
    sf_dir: str,
    p: int = 3,
    window: int = 60,
    splits: tuple[str, ...] = ("test",),
) -> DataFrame:
    """Long-form forecast: (slice, window_start, split, feature, yhat, y).

    ``splits`` picks which eras survive — ("test",) is the eval default;
    the conformal calibrator takes ("val", "test") so the radius fits on
    val and coverage measures on test."""
    resid, sequences, params = residual_pipeline(spark, sf_dir, p=p, window=window)
    preds = predict_residuals(sequences, spark.sparkContext.broadcast(init_weights()))

    # final = var_pred + resid_pred, then inverse-scale + clip (train.py:256-261)
    composed = (
        preds.join(
            resid.select("slice", "window_start", "var_pred"),
            ["slice", "window_start"],
        )
        .filter(F.col("split").isin(*splits))
        .select(
            "slice",
            "window_start",
            "split",
            F.expr("zip_with(var_pred, resid_pred, (a, b) -> a + b)").alias("yhat_scaled"),
            F.expr("zip_with(var_pred, target, (a, b) -> a + b)").alias("y_scaled"),
        )
    )

    centers = F.array(*[F.col(f"{f}_center") for f in FEATURES])
    scales = F.array(
        *[
            F.when(F.col(f"{f}_iqr") > 0, F.col(f"{f}_iqr")).otherwise(F.lit(1.0))
            for f in FEATURES
        ]
    )
    inv = composed.join(F.broadcast(params), "slice").select(
        "slice",
        "window_start",
        "split",
        "yhat_scaled",
        "y_scaled",
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
