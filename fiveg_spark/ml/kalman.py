"""Local-level Kalman filter per slice (SURVEY §2 D25).

The last classical baseline the forecasting stack (ref train.py: VAR +
GRU/TFT residuals) was missing between EWMA (C29) and Holt (D21): the
local-level state-space model

    x_t = x_{t-1} + w_t,   w ~ N(0, Q)      (state: latent level)
    y_t = x_t + v_t,       v ~ N(0, R)      (observation)

filtered by the scalar Kalman recursion

    P'  = P + Q
    K   = P' / (P' + R)
    x   = x + K · (y_t − x)
    P   = (1 − K) · P'

Unlike EWMA's fixed smoothing constant, the gain K adapts: it starts
near 1 (trust early observations) and converges to the steady-state
Riccati gain, so the filter self-tunes its memory from Q/R alone.
Like Holt, the coupled (x, P) recursion has no window/cumsum identity,
so the distributed shape is `applyInPandas` per slice: one shuffle on
the series key, then a microscopic sequential pass over the already
hourly-reduced frame — at 100 TB the events scan feeding the hourly
aggregate dominates, not this.

Certification: value-level against a DuckDB RECURSIVE CTE replaying
the SAME recursion (the D21/D22 oracle pattern — constants emitted via
repr() so both engines step identical doubles; update expressions
mirror ``kalman_fit``'s parenthesization exactly).  The pytest pins
the distributed path to the pure-Python recursion and checks the gain
converges to the closed-form steady-state Riccati solution.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

Q_VAR = 0.1  # state (level random-walk) variance
R_VAR = 1.0  # observation variance
P0 = 1.0  # initial state variance

_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("n_hours", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("p_var", T.DoubleType()),
        T.StructField("gain", T.DoubleType()),
        T.StructField("one_step_mae", T.DoubleType()),
    ]
)


def kalman_fit(y, q: float = Q_VAR, r: float = R_VAR, p0: float = P0):
    """Pure-Python scalar Kalman recursion (the single-series reference
    the distributed path must match).  Init x = y_0, P = p0; the first
    innovation is measured at t = 1.  Returns (x, p, k, mae, n_err)."""
    x, p, k = float(y[0]), float(p0), 0.0
    abs_err_sum, n_err = 0.0, 0
    for t in range(1, len(y)):
        pp = p + q
        k = pp / (pp + r)
        e = float(y[t]) - x
        abs_err_sum += abs(e)
        n_err += 1
        x = x + k * e
        p = (1.0 - k) * pp
    return x, p, k, abs_err_sum / n_err, n_err


def steady_state_gain(q: float = Q_VAR, r: float = R_VAR) -> float:
    """Closed-form steady-state gain: the Riccati fixed point
    P = (1−K)(P+Q), K = (P+Q)/(P+Q+R) solves to
    K* = (−Q + sqrt(Q² + 4QR)) / (2R) ... expressed via S = P'+Q:
    S² − QS − QR = 0 → S = (Q + sqrt(Q² + 4QR)) / 2, K* = S/(S+R)."""
    import math

    s = (q + math.sqrt(q * q + 4.0 * q * r)) / 2.0
    return s / (s + r)


def _r4(x: float) -> float:
    return round(x + 1e-9, 4) + 0.0


def _kalman_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("window_start")
    y = pdf["throughput"].to_numpy()
    if len(y) < 2:
        return pd.DataFrame(columns=[f.name for f in _SCHEMA.fields])
    x, p, k, mae, _ = kalman_fit(y)
    return pd.DataFrame(
        [
            {
                "slice": pdf["slice"].iloc[0],
                "n_hours": len(y),
                "level": _r4(x),
                "p_var": _r4(p),
                "gain": _r4(k),
                "one_step_mae": _r4(mae),
            }
        ]
    )


def kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice local-level Kalman filter over the hourly throughput
    series: final level / variance / gain + one-step innovation MAE."""
    from fiveg_spark.ml.features import feature_frame
    from fiveg_spark.operators.kpi import kpi36

    frame = feature_frame(kpi36(spark, sf_dir)).select("slice", "window_start", "throughput")
    return (
        frame.groupBy("slice")
        .applyInPandas(_kalman_kernel, schema=_SCHEMA)
        .orderBy("slice")
    )


def kalman_oracle_sql() -> str:
    """DuckDB oracle for D25: the same (x, P) recursion as a RECURSIVE
    CTE stepping t → t+1 per slice (the holt_oracle_sql pattern —
    ``series`` AS MATERIALIZED, repr() constants, expressions mirroring
    ``kalman_fit``'s parenthesization; K is recomputed from r.p inside
    each projected column because SQL can't self-reference projections,
    identical doubles either way)."""
    from fiveg_spark.operators.timeseries import _hourly_cte

    q, r, p0 = repr(Q_VAR), repr(R_VAR), repr(P0)
    k = f"((r.p + {q}) / ((r.p + {q}) + {r}))"
    return f"""
    {_hourly_cte("duckdb")},
    series AS MATERIALIZED (
      SELECT slice, h, throughput_bps AS y,
             row_number() OVER (PARTITION BY slice ORDER BY h) AS t
      FROM hourly
    ),
    kal AS (
      WITH RECURSIVE rec(slice, t, x, p, k, abs_err_sum, n_err) AS (
        SELECT slice, CAST(1 AS BIGINT), y, CAST({p0} AS DOUBLE),
               CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0 AS BIGINT)
        FROM series WHERE t = 1
        UNION ALL
        SELECT r.slice, r.t + 1,
               r.x + {k} * (s.y - r.x),
               (1.0 - {k}) * (r.p + {q}),
               {k},
               r.abs_err_sum + abs(s.y - r.x),
               r.n_err + 1
        FROM rec r JOIN series s ON s.slice = r.slice AND s.t = r.t + 1
      )
      SELECT * FROM rec
    ),
    final AS (
      SELECT kal.* FROM kal
      JOIN (SELECT slice, max(t) AS mt FROM kal GROUP BY slice) last
        ON last.slice = kal.slice AND kal.t = last.mt
      WHERE kal.t >= 2
    )
    SELECT
      slice,
      t AS n_hours,
      round(x + 1e-9, 4) + 0.0 AS level,
      round(p + 1e-9, 4) + 0.0 AS p_var,
      round(k + 1e-9, 4) + 0.0 AS gain,
      round(abs_err_sum / n_err + 1e-9, 4) + 0.0 AS one_step_mae
    FROM final
    ORDER BY slice
    """
