"""Holt linear-trend (double exponential) smoothing per slice (SURVEY
§2 D21).

The reference's forecasting stack (ref train.py: VAR baseline + GRU/TFT
residual model) needs a second classical baseline between seasonal-naive
(D13) and VAR (D6): Holt's method tracks level + trend with two coupled
recursions

    l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
    b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

which no window/cumsum identity linearizes (the EWMA trick in C29 only
covers the single-recursion case), so this is genuinely
`applyInPandas` territory: one shuffle on the series key, then a tiny
sequential pass per slice — the same cost shape as any per-key model
fit.  At 100 TB the hourly frame is already reduced (≤ thousands of
rows per key), so the Python stage is microscopic next to the events
scan feeding it.

Contract surface: BOTH queries certify VALUE-LEVEL against DuckDB
oracles that replay the same recursions as RECURSIVE CTEs —
Holt-Winters carries its 24-slot seasonal vector as a LIST column
updated one slot per step (see ``holt_oracle_sql`` /
``holt_winters_oracle_sql`` for the bit-parity rules); the pytest
equivalence against the pure-Python recursion stays as the
independent local check.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

ALPHA = 0.5
BETA = 0.3
H_STEPS = 3

_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("n_hours", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("one_step_mae", T.DoubleType()),
        T.StructField("fc_h1", T.DoubleType()),
        T.StructField("fc_h2", T.DoubleType()),
        T.StructField("fc_h3", T.DoubleType()),
    ]
)


def holt_fit(y, alpha: float = ALPHA, beta: float = BETA):
    """Pure-Python Holt recursion (the single-series reference the
    distributed path must match).  Returns (level, trend, one_step_mae).
    Init: l_0 = y_0, b_0 = y_1 − y_0 (standard textbook initialization);
    the first forecastable point is t = 1."""
    level, trend = float(y[0]), float(y[1]) - float(y[0])
    abs_err_sum, n_err = 0.0, 0
    for t in range(1, len(y)):
        pred = level + trend
        abs_err_sum += abs(float(y[t]) - pred)
        n_err += 1
        new_level = alpha * float(y[t]) + (1.0 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1.0 - beta) * trend
        level = new_level
    return level, trend, abs_err_sum / max(n_err, 1)


def _r4(x: float) -> float:
    """The repo-wide float discipline (see plans/registry.py:dbl): a
    +1e-9 nudge before the 4-decimal round so decimal-tie inputs can't
    round differently across engines, `+ 0.0` to erase IEEE -0.0."""
    return round(x + 1e-9, 4) + 0.0


def _holt_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("window_start")
    y = pdf["throughput"].to_numpy()
    if len(y) < 2:
        return pd.DataFrame(columns=[f.name for f in _SCHEMA.fields])
    level, trend, mae = holt_fit(y)
    return pd.DataFrame(
        [
            {
                "slice": pdf["slice"].iloc[0],
                "n_hours": len(y),
                "level": _r4(level),
                "trend": _r4(trend),
                "one_step_mae": _r4(mae),
                **{f"fc_h{h}": _r4(level + h * trend) for h in range(1, H_STEPS + 1)},
            }
        ]
    )


def holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice Holt fit over the hourly throughput series + h-step
    linear forecasts (level + h·trend)."""
    from fiveg_spark.ml.features import feature_frame
    from fiveg_spark.operators.kpi import kpi36

    frame = feature_frame(kpi36(spark, sf_dir)).select("slice", "window_start", "throughput")
    return (
        frame.groupBy("slice")
        .applyInPandas(_holt_kernel, schema=_SCHEMA)
        .orderBy("slice")
    )


def holt_oracle_sql() -> str:
    """DuckDB oracle for D21: the SAME coupled recursion as a RECURSIVE
    CTE stepping t → t+1 per slice.  Bit-parity design: the input series
    (`throughput_bps`) is already rounded to 4 decimals identically in
    both engines, the update expressions mirror ``holt_fit``'s
    parenthesization exactly, and the smoothing constants are emitted
    via repr() so e.g. (1 − β) is the SAME double both sides (1.0-0.3
    differs from the literal 0.7 by one ulp).  This upgrades the Holt
    surface from rows-only to value-level driver certification —
    iterative ≠ un-oracle-able when the oracle engine has recursion.

    Two performance/correctness notes from building this:
    - ``series`` MUST be ``AS MATERIALIZED``: the recursive step
      references it every iteration, and without the hint DuckDB
      re-inlines the whole events-scan+window pipeline per step
      (0.7 s → 76 s at sf0.01).
    - a ``list_reduce`` fold over a struct accumulator is NOT a usable
      substitute: DuckDB 1.0 updates the struct fields IN PLACE in
      field order, so a later field's expression reads the current
      step's already-written values (verified: trend/err silently
      computed from the new level) — semantics too fragile to certify
      against."""
    from fiveg_spark.operators.timeseries import _hourly_cte

    a, oma = repr(ALPHA), repr(1.0 - ALPHA)
    b, omb = repr(BETA), repr(1.0 - BETA)
    # new_level spelled out twice (SQL can't self-reference a projected
    # column) — identical double expression, identical result
    nl = f"({a} * s.y + {oma} * (r.level + r.trend))"
    return f"""
    {_hourly_cte("duckdb")},
    series AS MATERIALIZED (
      SELECT slice, h, throughput_bps AS y,
             row_number() OVER (PARTITION BY slice ORDER BY h) AS t
      FROM hourly
    ),
    holt AS (
      WITH RECURSIVE rec(slice, t, level, trend, abs_err_sum, n_err) AS (
        SELECT s1.slice, CAST(2 AS BIGINT),
               {a} * s2.y + {oma} * (s1.y + (s2.y - s1.y)),
               {b} * (({a} * s2.y + {oma} * (s1.y + (s2.y - s1.y))) - s1.y)
                 + {omb} * (s2.y - s1.y),
               abs(s2.y - (s1.y + (s2.y - s1.y))), CAST(1 AS BIGINT)
        FROM series s1 JOIN series s2
          ON s2.slice = s1.slice AND s1.t = 1 AND s2.t = 2
        UNION ALL
        SELECT r.slice, r.t + 1,
               {nl},
               {b} * ({nl} - r.level) + {omb} * r.trend,
               r.abs_err_sum + abs(s.y - (r.level + r.trend)),
               r.n_err + 1
        FROM rec r JOIN series s ON s.slice = r.slice AND s.t = r.t + 1
      )
      SELECT * FROM rec
    ),
    final AS (
      SELECT h.* FROM holt h
      JOIN (SELECT slice, max(t) AS mt FROM holt GROUP BY slice) last
        ON last.slice = h.slice AND h.t = last.mt
    )
    SELECT
      slice,
      t AS n_hours,
      round(level + 1e-9, 4) + 0.0 AS level,
      round(trend + 1e-9, 4) + 0.0 AS trend,
      round(abs_err_sum / n_err + 1e-9, 4) + 0.0 AS one_step_mae,
      round(level + 1 * trend + 1e-9, 4) + 0.0 AS fc_h1,
      round(level + 2 * trend + 1e-9, 4) + 0.0 AS fc_h2,
      round(level + 3 * trend + 1e-9, 4) + 0.0 AS fc_h3
    FROM final
    ORDER BY slice
    """


# ---- Holt-Winters additive seasonal (SURVEY §2 D22) ----

GAMMA = 0.1
SEASON = 24  # hourly series, daily season

_HW_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("n_hours", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("one_step_mae", T.DoubleType()),
        T.StructField("holt_mae", T.DoubleType()),
        T.StructField("fc_h1", T.DoubleType()),
        T.StructField("fc_h2", T.DoubleType()),
        T.StructField("fc_h3", T.DoubleType()),
    ]
)


def holt_winters_fit(
    y, m: int = SEASON, alpha: float = ALPHA, beta: float = BETA, gamma: float = GAMMA
):
    """Pure-Python additive Holt-Winters recursion (the single-series
    reference the distributed path must match).

        l_t = α(y_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
        s_t = γ(y_t − l_t) + (1−γ)s_{t−m}

    Init over the first two seasons, TREND-ADJUSTED (the plain
    ``s_i = y_i − mean(season 1)`` variant folds the in-season trend ramp
    into the seasonal indices — an amplitude-sized contamination that a
    small γ never washes out): b = (mean(season 2) − mean(season 1))/m,
    s_i = y_i − trend-line value at i, l = trend-line value at m−1.
    Returns (level, trend, seasonals list[m], one_step_mae over t ≥ m).
    """
    y = [float(v) for v in y]
    if len(y) < 2 * m:
        raise ValueError(f"need >= {2 * m} points, got {len(y)}")
    mean1 = sum(y[:m]) / m
    mean2 = sum(y[m : 2 * m]) / m
    trend = (mean2 - mean1) / m
    mid = (m - 1) / 2.0  # mean1 sits on the trend line at mid-season
    seasonals = [y[i] - (mean1 + (i - mid) * trend) for i in range(m)]
    level = mean1 + (m - 1 - mid) * trend
    abs_err_sum, n_err = 0.0, 0
    for t in range(m, len(y)):
        s_prev = seasonals[t % m]
        pred = level + trend + s_prev
        abs_err_sum += abs(y[t] - pred)
        n_err += 1
        new_level = alpha * (y[t] - s_prev) + (1.0 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1.0 - beta) * trend
        seasonals[t % m] = gamma * (y[t] - new_level) + (1.0 - gamma) * s_prev
        level = new_level
    return level, trend, seasonals, abs_err_sum / max(n_err, 1)


def _hw_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("window_start")
    y = pdf["throughput"].to_numpy()
    if len(y) < 2 * SEASON:
        return pd.DataFrame(columns=[f.name for f in _HW_SCHEMA.fields])
    level, trend, seasonals, mae = holt_winters_fit(y)
    _, _, holt_mae = holt_fit(y)
    n = len(y)
    fc = {
        f"fc_h{h}": _r4(level + h * trend + seasonals[(n + h - 1) % SEASON])
        for h in range(1, H_STEPS + 1)
    }
    return pd.DataFrame(
        [
            {
                "slice": pdf["slice"].iloc[0],
                "n_hours": n,
                "level": _r4(level),
                "trend": _r4(trend),
                "one_step_mae": _r4(mae),
                "holt_mae": _r4(holt_mae),
                **fc,
            }
        ]
    )


def holt_winters_oracle_sql() -> str:
    """DuckDB oracle for D22: BOTH recursions (additive Holt-Winters
    with its 24-slot seasonal LIST carried as a recursive-CTE column,
    plus plain Holt for the in-row `holt_mae` comparison) replayed in
    one statement.  Same bit-parity rules as ``holt_oracle_sql``
    (materialized series, mirrored parenthesization, repr() constants);
    the seasonal init replays the trend-adjusted two-season
    initialization with ordered ``list_reduce`` sums (scalar
    accumulator — safe; struct accumulators are not, see
    holt_oracle_sql) and the per-step single-slot seasonal update is an
    index-lambda ``list_transform``."""
    from fiveg_spark.operators.timeseries import _hourly_cte

    m = SEASON
    a, oma = repr(ALPHA), repr(1.0 - ALPHA)
    b, omb = repr(BETA), repr(1.0 - BETA)
    g, omg = repr(GAMMA), repr(1.0 - GAMMA)
    mid = repr((m - 1) / 2.0)
    last = repr((m - 1) - (m - 1) / 2.0)
    sp = f"r.seasonals[(r.t % {m}) + 1]"
    nl = f"({a} * (s.y - {sp}) + {oma} * (r.level + r.trend))"
    nlh = f"({a} * s.y + {oma} * (r.level + r.trend))"
    return f"""
    {_hourly_cte("duckdb")},
    series AS MATERIALIZED (
      SELECT slice, h, throughput_bps AS y,
             row_number() OVER (PARTITION BY slice ORDER BY h) AS t
      FROM hourly
    ),
    lists AS MATERIALIZED (
      SELECT slice, list(y ORDER BY h) AS ys, count(*) AS n
      FROM series GROUP BY slice HAVING count(*) >= {2 * m}
    ),
    init AS MATERIALIZED (
      SELECT slice, n,
        list_reduce(ys[1:{m}], (p, q) -> p + q) / {m} AS mean1,
        list_reduce(ys[{m + 1}:{2 * m}], (p, q) -> p + q) / {m} AS mean2,
        ys
      FROM lists
    ),
    base AS (
      SELECT slice, n, CAST({m} AS BIGINT) AS t,
        mean1 + {last} * ((mean2 - mean1) / {m}) AS level,
        (mean2 - mean1) / {m} AS trend,
        list_transform(ys[1:{m}], (v, j) ->
          v - (mean1 + ((j - 1) - {mid}) * ((mean2 - mean1) / {m}))) AS seasonals,
        CAST(0 AS DOUBLE) AS err, CAST(0 AS BIGINT) AS ne
      FROM init
    ),
    hw AS (
      WITH RECURSIVE rec(slice, n, t, level, trend, seasonals, err, ne) AS (
        SELECT * FROM base
        UNION ALL
        SELECT r.slice, r.n, r.t + 1,
          {nl},
          {b} * ({nl} - r.level) + {omb} * r.trend,
          list_transform(r.seasonals, (v, j) -> CASE WHEN j = (r.t % {m}) + 1
            THEN {g} * (s.y - {nl}) + {omg} * {sp} ELSE v END),
          r.err + abs(s.y - (r.level + r.trend + {sp})),
          r.ne + 1
        FROM rec r JOIN series s ON s.slice = r.slice AND s.t = r.t + 1
      )
      SELECT * FROM rec
    ),
    hw_final AS (
      SELECT w.* FROM hw w
      JOIN (SELECT slice, max(t) AS mt FROM hw GROUP BY slice) z
        ON z.slice = w.slice AND w.t = z.mt
    ),
    holt AS (
      WITH RECURSIVE rec(slice, t, level, trend, abs_err_sum, n_err) AS (
        SELECT s1.slice, CAST(2 AS BIGINT),
               {a} * s2.y + {oma} * (s1.y + (s2.y - s1.y)),
               {b} * (({a} * s2.y + {oma} * (s1.y + (s2.y - s1.y))) - s1.y)
                 + {omb} * (s2.y - s1.y),
               abs(s2.y - (s1.y + (s2.y - s1.y))), CAST(1 AS BIGINT)
        FROM series s1 JOIN series s2
          ON s2.slice = s1.slice AND s1.t = 1 AND s2.t = 2
        WHERE s1.slice IN (SELECT slice FROM lists)
        UNION ALL
        SELECT r.slice, r.t + 1, {nlh},
               {b} * ({nlh} - r.level) + {omb} * r.trend,
               r.abs_err_sum + abs(s.y - (r.level + r.trend)),
               r.n_err + 1
        FROM rec r JOIN series s ON s.slice = r.slice AND s.t = r.t + 1
      )
      SELECT * FROM rec
    ),
    holt_final AS (
      SELECT p.* FROM holt p
      JOIN (SELECT slice, max(t) AS mt FROM holt GROUP BY slice) z
        ON z.slice = p.slice AND p.t = z.mt
    )
    SELECT
      w.slice,
      w.t AS n_hours,
      round(w.level + 1e-9, 4) + 0.0 AS level,
      round(w.trend + 1e-9, 4) + 0.0 AS trend,
      round(w.err / w.ne + 1e-9, 4) + 0.0 AS one_step_mae,
      round(p.abs_err_sum / p.n_err + 1e-9, 4) + 0.0 AS holt_mae,
      round(w.level + 1 * w.trend + w.seasonals[((w.n + 1 - 1) % {m}) + 1] + 1e-9, 4) + 0.0 AS fc_h1,
      round(w.level + 2 * w.trend + w.seasonals[((w.n + 2 - 1) % {m}) + 1] + 1e-9, 4) + 0.0 AS fc_h2,
      round(w.level + 3 * w.trend + w.seasonals[((w.n + 3 - 1) % {m}) + 1] + 1e-9, 4) + 0.0 AS fc_h3
    FROM hw_final w JOIN holt_final p ON p.slice = w.slice
    ORDER BY w.slice
    """


def holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice additive Holt-Winters over hourly throughput: final
    level/trend, h-step forecasts carrying the seasonal index, and the
    one-step MAE side-by-side with plain Holt's (same series, same
    in-sample protocol) so the seasonal term's value is visible in-row.
    Same scale shape as D21: one shuffle on the series key, sequential
    recursion over the already-reduced hourly frame."""
    from fiveg_spark.ml.features import feature_frame
    from fiveg_spark.operators.kpi import kpi36

    frame = feature_frame(kpi36(spark, sf_dir)).select("slice", "window_start", "throughput")
    return (
        frame.groupBy("slice")
        .applyInPandas(_hw_kernel, schema=_HW_SCHEMA)
        .orderBy("slice")
    )


# ---- Holt grid search (SURVEY §2 D29) ----

GRID_A = (0.2, 0.5, 0.8)
GRID_B = (0.1, 0.3, 0.5)

_GRID_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("alpha", T.DoubleType()),
        T.StructField("beta", T.DoubleType()),
        T.StructField("n_hours", T.LongType()),
        T.StructField("one_step_mae", T.DoubleType()),
        T.StructField("is_best", T.BooleanType()),
    ]
)


def _holt_grid_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("window_start")
    y = pdf["throughput"].to_numpy()
    if len(y) < 2:
        return pd.DataFrame(columns=[f.name for f in _GRID_SCHEMA.fields])
    rows = []
    for a in GRID_A:
        for b in GRID_B:
            _, _, mae = holt_fit(y, alpha=a, beta=b)
            rows.append(
                {
                    "slice": pdf["slice"].iloc[0],
                    "alpha": a,
                    "beta": b,
                    "n_hours": len(y),
                    "one_step_mae": _r4(mae),
                }
            )
    out = pd.DataFrame(rows)
    # argmin on the ROUNDED mae (both engines rank identical doubles),
    # ties broken by (alpha, beta)
    best = out.sort_values(["one_step_mae", "alpha", "beta"]).iloc[0]
    out["is_best"] = (out["alpha"] == best["alpha"]) & (
        out["beta"] == best["beta"]
    )
    return out


def holt_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D29 — smoothing-constant model selection, the sweep a real
    forecasting deployment runs before trusting Holt defaults: the
    full 3×3 (α, β) grid evaluated per slice in ONE applyInPandas pass
    (the hourly frame is tiny, the grid loop is driver-free), every
    grid cell's one-step MAE VALUE-certified against a DuckDB
    RECURSIVE CTE that carries (α, β) as recursion-state columns — one
    recursion replays all 9 combos per slice (the base case CROSS
    JOINs the grid), so the oracle certifies the entire sweep, not
    just the winner.  ``is_best`` flags the argmin on rounded MAE."""
    from fiveg_spark.ml.features import feature_frame
    from fiveg_spark.operators.kpi import kpi36

    frame = feature_frame(kpi36(spark, sf_dir)).select("slice", "window_start", "throughput")
    return (
        frame.groupBy("slice")
        .applyInPandas(_holt_grid_kernel, schema=_GRID_SCHEMA)
        .orderBy("slice", "alpha", "beta")
    )


def holt_grid_oracle_sql() -> str:
    """Parameterized twin of holt_oracle_sql: (α, β) ride in the
    recursion state, seeded by CROSS JOIN against the literal grid.
    1 − α is computed IN-ENGINE from the same double on both sides
    (unlike the fixed-constant oracle, which needed repr(1−α) — here
    both engines evaluate 1.0 − a at runtime, bit-identically)."""
    from fiveg_spark.operators.timeseries import _hourly_cte

    grid_vals = ", ".join(
        f"({a!r}, {b!r})" for a in GRID_A for b in GRID_B
    )
    # base-case level spelled out (SQL can't self-reference projections)
    l0 = "(g.a * s2.y + (1.0 - g.a) * (s1.y + (s2.y - s1.y)))"
    nl = "(r.a * s.y + (1.0 - r.a) * (r.level + r.trend))"
    return f"""
    {_hourly_cte("duckdb")},
    series AS MATERIALIZED (
      SELECT slice, h, throughput_bps AS y,
             row_number() OVER (PARTITION BY slice ORDER BY h) AS t
      FROM hourly
    ),
    fits AS (
      WITH RECURSIVE grid(a, b) AS (
        -- DuckDB types bare VALUES literals as DECIMAL; the recursion
        -- and the output schema must run on DOUBLE like the kernel
        SELECT CAST(a AS DOUBLE), CAST(b AS DOUBLE)
        FROM (VALUES {grid_vals}) v(a, b)
      ),
      rec(slice, a, b, t, level, trend, abs_err_sum, n_err) AS (
        SELECT s1.slice, g.a, g.b, CAST(2 AS BIGINT),
               {l0},
               g.b * ({l0} - s1.y) + (1.0 - g.b) * (s2.y - s1.y),
               abs(s2.y - (s1.y + (s2.y - s1.y))), CAST(1 AS BIGINT)
        FROM series s1
        JOIN series s2 ON s2.slice = s1.slice AND s1.t = 1 AND s2.t = 2
        CROSS JOIN grid g
        UNION ALL
        SELECT r.slice, r.a, r.b, r.t + 1,
               {nl},
               r.b * ({nl} - r.level) + (1.0 - r.b) * r.trend,
               r.abs_err_sum + abs(s.y - (r.level + r.trend)),
               r.n_err + 1
        FROM rec r JOIN series s ON s.slice = r.slice AND s.t = r.t + 1
      )
      SELECT * FROM rec
    ),
    final AS (
      SELECT f.* FROM fits f
      JOIN (SELECT slice, a, b, max(t) AS mt FROM fits GROUP BY slice, a, b) last
        ON last.slice = f.slice AND last.a = f.a AND last.b = f.b
       AND f.t = last.mt
    ),
    scored AS (
      SELECT
        slice,
        a AS alpha,
        b AS beta,
        t AS n_hours,
        round(abs_err_sum / n_err + 1e-9, 4) + 0.0 AS one_step_mae
      FROM final
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (
          PARTITION BY slice ORDER BY one_step_mae, alpha, beta
        ) AS rk
      FROM scored
    )
    SELECT
      slice, alpha, beta, n_hours, one_step_mae,
      CAST(max(CASE WHEN rk = 1 THEN alpha END) OVER (PARTITION BY slice)
             = alpha
           AND max(CASE WHEN rk = 1 THEN beta END) OVER (PARTITION BY slice)
             = beta AS BOOLEAN) AS is_best
    FROM ranked
    ORDER BY slice, alpha, beta
    """
