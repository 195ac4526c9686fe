"""Time-series construction & ML-support operators.

Re-expresses train.py's pandas preprocessing as distributed plans:
feature mapping (train.py:52-110), forward/backward fill (:110), ordered
70/15/15 split (:186-190), RobustScaler parameter fit (:193-196), VAR lag
matrix (:199-214), naive-baseline eval metrics (:264-269) — plus the
general time-series toolkit (resample+gap-fill, moving windows,
percentiles, JSON props).

Everything is a window/agg plan over the hourly slice series (3 slices ×
~720 hours at any sf — tiny after the first aggregation, so the heavy
lifting is the single shuffle over raw events; all downstream windows
operate on the reduced series).
"""

from __future__ import annotations

from fiveg_spark.ml.features import feature_frame
from fiveg_spark.operators.kpi import flows_cte, kpi36, kpi_as
from fiveg_spark.plans.registry import (
    NUDGE,
    corr_safe,
    Query,
    cnt,
    dbl,
    epoch,
    json_int,
    materialized_backed,
    pct,
    sql_backed,
)

CONC_TOP_SHARES = (0.01, 0.05, 0.10)


def _value_concentration_sql(d: str) -> str:
    # C132 — value concentration per event type: the share of total
    # value carried by the top 1/5/10% of events — the whale-tail
    # summary a capacity/abuse review reads next to C93's full Lorenz
    # curve (three scalars instead of a curve; computable map-only).
    # Thresholds are per-type broadcast percentiles compared back
    # (the E69 boundary-compare recipe — no global ntile, no
    # single-partition sort); tie-heavy types make the captured mass
    # approximate from above, which n_top makes visible.
    thr_cols = ", ".join(
        f"{pct('value', 1.0 - s, d)} AS thr_{int(s * 100)}"
        for s in CONC_TOP_SHARES
    )
    share_cols = ",\n      ".join(
        dbl(
            f"sum(CASE WHEN e.value >= t.thr_{int(s * 100)} THEN e.value"
            " ELSE 0.0 END) / nullif(sum(e.value), 0.0)",
            f"top{int(s * 100)}pct_value_share",
        )
        for s in CONC_TOP_SHARES
    )
    return f"""
    WITH thr AS (
      SELECT event_type, {thr_cols}
      FROM events
      GROUP BY event_type
    )
    SELECT
      e.event_type,
      {cnt("count(*)", "n_events")},
      {dbl("sum(e.value)", "total_value")},
      {share_cols}
    FROM events e
    JOIN thr t ON t.event_type = e.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """


# Hourly series CTE reused by most queries here (rounded measure so every
# downstream window sees identical inputs in both engines).  Each column
# is a kpi36 KPI under the series' own name; the formulas live only in
# KPIS.
HOURLY_KPIS = (
    ("throughput_bps", "Throughput_bps"),
    ("total_packets", "Total_Packets"),
    ("jitter", "Jitter"),
    ("latency", "Avg_IAT"),
    ("congestion", "Avg_Win_Size"),
)


def _hourly_cte(d: str) -> str:
    cols = ",\n        ".join(kpi_as(kpi, col, d) for col, kpi in HOURLY_KPIS)
    return f"""{flows_cte(d)},
    hourly AS (
      SELECT
        slice,
        date_trunc('hour', ts) AS h,
        {cols}
      FROM flows
      GROUP BY slice, date_trunc('hour', ts)
    )"""


def _feature_vectors_oracle() -> str:
    # D1 — train.py FEATURE_MAP: sources missing from the KPI set
    # (Retransmission_Ratio, Entropy_Score) become 0.0 (train.py:104-109).
    # DuckDB twin of ml/features.feature_frame(kpi36(...)).
    return f"""
    {_hourly_cte("duckdb")}
    SELECT
      slice,
      h AS window_start,
      throughput_bps AS throughput,
      total_packets AS packets,
      jitter,
      latency,
      CAST(0.0 AS DOUBLE) AS reliability,
      congestion,
      CAST(0.0 AS DOUBLE) AS complexity
    FROM hourly
    """


def _feature_vectors_run(spark, sf_dir):
    return feature_frame(kpi36(spark, sf_dir))


def _moving_avg_sql(d: str) -> str:
    # C5 — frame-based moving average + lag delta on the hourly series.
    return f"""
    {_hourly_cte(d)}
    SELECT
      slice,
      h AS window_start,
      throughput_bps,
      {dbl("avg(throughput_bps) OVER (PARTITION BY slice ORDER BY h ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)", "ma3")},
      {dbl("throughput_bps - coalesce(lag(throughput_bps) OVER (PARTITION BY slice ORDER BY h), throughput_bps)", "delta")}
    FROM hourly
    """


def _resample_gapfill_sql(d: str) -> str:
    # C7 — dense hourly grid per slice, missing hours -> 0.
    if d == "spark":
        grid = "SELECT slice, explode(sequence(mn, mx, INTERVAL 1 HOUR)) AS h FROM bounds"
    else:
        grid = "SELECT slice, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM bounds"
    return f"""
    {_hourly_cte(d)},
    bounds AS (
      SELECT slice, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY slice
    ),
    grid AS (
      {grid}
    )
    SELECT
      g.slice,
      g.h AS window_start,
      CAST(coalesce(hh.throughput_bps, 0.0) AS DOUBLE) AS throughput_bps,
      CAST(coalesce(hh.total_packets, 0) AS BIGINT) AS total_packets,
      CAST(CASE WHEN hh.slice IS NULL THEN 1 ELSE 0 END AS INT) AS was_gap
    FROM grid g
    LEFT JOIN hourly hh ON g.slice = hh.slice AND g.h = hh.h
    """


def _ffill_sql(d: str) -> str:
    # D2 — pandas ffill().bfill() (train.py:110) as IGNORE NULLS windows.
    if d == "spark":
        ff = (
            "last_value(err_avg) IGNORE NULLS OVER "
            "(PARTITION BY slice ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        bf = (
            "first_value(err_avg) IGNORE NULLS OVER "
            "(PARTITION BY slice ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
        )
    else:
        ff = (
            "last_value(err_avg IGNORE NULLS) OVER "
            "(PARTITION BY slice ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        bf = (
            "first_value(err_avg IGNORE NULLS) OVER "
            "(PARTITION BY slice ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
        )
    return f"""
    {flows_cte(d)},
    hourly AS (
      SELECT
        slice,
        date_trunc('hour', ts) AS h,
        CAST(round(avg(CASE WHEN protocol = 'ICMP' THEN pkt_len END) + 1e-9, 4) + 0.0 AS DOUBLE) AS err_avg
      FROM flows
      GROUP BY slice, date_trunc('hour', ts)
    )
    SELECT
      slice,
      h AS window_start,
      err_avg,
      CAST(coalesce({ff}, {bf}, 0.0) AS DOUBLE) AS err_avg_filled
    FROM hourly
    """


def _train_split_sql(d: str) -> str:
    # D3 — ordered 70/15/15 split (train.py:186-190, int() truncation).
    return f"""
    {_hourly_cte(d)},
    numbered AS (
      SELECT *,
        row_number() OVER (PARTITION BY slice ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY slice) AS n
      FROM hourly
    ),
    tagged AS (
      SELECT *,
        CASE WHEN rn <= CAST(floor(0.7 * n) AS BIGINT) THEN 'train'
             WHEN rn <= CAST(floor(0.85 * n) AS BIGINT) THEN 'val'
             ELSE 'test' END AS split
      FROM numbered
    )
    SELECT
      slice,
      split,
      {cnt("count(*)", "n_rows")},
      min(h) AS start_h,
      max(h) AS end_h
    FROM tagged
    GROUP BY slice, split
    """


def _robust_scaler_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D4 — RobustScaler fit: median + IQR per (slice, feature), computed
    # on the train split only (first 70%), mirroring scaler.fit(train).
    # materialized_backed: the four per-feature UNION branches each
    # reference the train split — inlined CTEs re-ran the events
    # aggregation + split window per branch (4 scans).
    def block(feature: str, col: str) -> str:
        return f"""
    SELECT
      slice,
      '{feature}' AS feature,
      {dbl(pct(col, 0.5, d), "center")},
      {dbl(f"{pct(col, 0.75, d)} - {pct(col, 0.25, d)}", "iqr")}
    FROM _mz_rs_train
    GROUP BY slice"""

    train_sql = f"""
    {_hourly_cte(d)},
    numbered AS (
      SELECT *,
        row_number() OVER (PARTITION BY slice ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY slice) AS n
      FROM hourly
    )
    SELECT * FROM numbered WHERE rn <= CAST(floor(0.7 * n) AS BIGINT)
    """
    tail = f"""
    {block("throughput", "throughput_bps")}
    UNION ALL
    {block("packets", "total_packets")}
    UNION ALL
    {block("jitter", "jitter")}
    UNION ALL
    {block("latency", "latency")}
    """
    return [("_mz_rs_train", train_sql)], tail


def _var_lag_sql(d: str) -> str:
    # D5 — VAR(3) design matrix: y with 3 lags per slice (train.py:201).
    lag = "lag(throughput_bps, {k}) OVER (PARTITION BY slice ORDER BY h)"
    return f"""
    {_hourly_cte(d)},
    lagged AS (
      SELECT
        slice,
        h,
        throughput_bps AS y,
        {lag.format(k=1)} AS y_l1,
        {lag.format(k=2)} AS y_l2,
        {lag.format(k=3)} AS y_l3
      FROM hourly
    )
    SELECT slice, h AS window_start, y, y_l1, y_l2, y_l3
    FROM lagged
    WHERE y_l3 IS NOT NULL
    """


def _eval_metrics_sql(d: str) -> str:
    # D10 — RMSE/MAE (train.py:267-268) of the naive lag-1 forecaster on
    # the test split (last 15%): the SQL-checkable end of the eval path.
    return f"""
    {_hourly_cte(d)},
    numbered AS (
      SELECT *,
        row_number() OVER (PARTITION BY slice ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY slice) AS n,
        lag(throughput_bps) OVER (PARTITION BY slice ORDER BY h) AS yhat
      FROM hourly
    ),
    test_rows AS (
      SELECT *, throughput_bps - yhat AS err
      FROM numbered
      WHERE rn > CAST(floor(0.85 * n) AS BIGINT) AND yhat IS NOT NULL
    )
    SELECT
      slice,
      {cnt("count(*)", "n_test")},
      {dbl("sqrt(avg(power(err, 2)))", "rmse")},
      {dbl("avg(abs(err))", "mae")}
    FROM test_rows
    GROUP BY slice
    """


def _window_entropy_sql(d: str) -> str:
    # B8 — Shannon entropy of the protocol mix per (slice, hour): the
    # reference's Entropy_Score feature (train.py:59) computed for real
    # instead of filled with 0.  Two-level agg + window-over-agg; log2
    # is identical in both engines.
    return f"""
    {flows_cte(d)},
    counts AS (
      SELECT
        slice,
        date_trunc('hour', ts) AS h,
        protocol,
        count(*) AS c
      FROM flows
      GROUP BY slice, date_trunc('hour', ts), protocol
    ),
    withp AS (
      SELECT
        slice, h, c,
        c / CAST(sum(c) OVER (PARTITION BY slice, h) AS DOUBLE) AS p
      FROM counts
    )
    SELECT
      slice,
      h AS window_start,
      {dbl("-sum(p * log2(p))", "entropy")},
      {cnt("count(*)", "n_protocols")}
    FROM withp
    GROUP BY slice, h
    """


def _cohort_retention_sql(d: str) -> str:
    # C23 — weekly cohort retention: users bucketed by first-seen day,
    # activity tracked in 7-day offsets.  Only the day-difference
    # function differs between engines.
    if d == "spark":
        ddiff = "date_diff(day, first_day)"
    else:
        ddiff = "date_diff('day', first_day, day)"
    return f"""
    WITH activity AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
      GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
    ),
    firsts AS (
      SELECT user_id, min(day) AS first_day FROM activity GROUP BY user_id
    ),
    offsets AS (
      SELECT
        f.first_day,
        CAST(floor({ddiff} / 7.0) AS INT) AS week_offset,
        a.user_id
      FROM activity a JOIN firsts f ON a.user_id = f.user_id
    )
    SELECT
      first_day AS cohort_day,
      {cnt("week_offset", "week_offset")},
      {cnt("count(DISTINCT user_id)", "active_users")}
    FROM offsets
    GROUP BY first_day, week_offset
    """


def _funnel_sql(d: str) -> str:
    # C24 — ordered funnel view -> click -> purchase per user: stage
    # timestamps must be strictly increasing.  Conditional min-aggs +
    # one count — a single shuffle on user_id.
    return f"""
    WITH stages AS (
      SELECT
        user_id,
        min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT
      {cnt("count(*)", "n_users")},
      {cnt("sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)", "reached_view")},
      {cnt("sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END)", "reached_click")},
      {cnt("sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click THEN 1 ELSE 0 END)", "reached_purchase")}
    FROM stages
    """


def _pinball_eval_sql(d: str) -> str:
    # D16 — quantile-forecast evaluation with pinball (quantile) loss,
    # the eval the reference's TFT-style quantile head calls for.  The
    # forecaster is the rolling empirical quantile of the previous 24 h
    # (exact holistic window agg); loss and coverage are computed on the
    # last-15% test split.  Forecasts round to 4 dp BEFORE the loss so
    # both engines score identical numbers.  Scale: one shuffle on
    # slice; the holistic window runs on the hourly reduced frame.
    def fq(p: float) -> str:
        agg = pct("throughput_bps", p, d)
        return (
            f"round({agg} OVER (PARTITION BY slice ORDER BY h "
            f"ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) + 1e-9, 4) + 0.0"
        )

    def pinball(q: float, yhat: str) -> str:
        diff = f"(throughput_bps - {yhat})"
        return f"avg(CASE WHEN {diff} >= 0 THEN {q} * {diff} ELSE ({q} - 1) * {diff} END)"

    return f"""
    {_hourly_cte(d)},
    numbered AS (
      SELECT *,
        row_number() OVER (PARTITION BY slice ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY slice) AS n,
        {fq(0.1)} AS q10,
        {fq(0.5)} AS q50,
        {fq(0.9)} AS q90
      FROM hourly
    ),
    test_rows AS (
      SELECT * FROM numbered
      WHERE rn > CAST(floor(0.85 * n) AS BIGINT) AND q50 IS NOT NULL
    )
    SELECT
      slice,
      {cnt("count(*)", "n_test")},
      {dbl(pinball(0.1, "q10"), "pinball_q10")},
      {dbl(pinball(0.5, "q50"), "pinball_q50")},
      {dbl(pinball(0.9, "q90"), "pinball_q90")},
      {dbl("avg(CAST(CASE WHEN throughput_bps <= q10 THEN 1 ELSE 0 END AS DOUBLE))", "coverage_q10")},
      {dbl("avg(CAST(CASE WHEN throughput_bps <= q90 THEN 1 ELSE 0 END AS DOUBLE))", "coverage_q90")}
    FROM test_rows
    GROUP BY slice
    ORDER BY slice
    """


def _time_to_convert_sql(d: str) -> str:
    # C41 — funnel latency: distribution of view→purchase delay per
    # first-view day.  Same single user_id shuffle as the funnel; the
    # percentile agg runs on converted users only.
    delta = f"{epoch('t_purchase', d)} - {epoch('t_view', d)}"
    return f"""
    WITH stages AS (
      SELECT
        user_id,
        min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    ),
    converted AS (
      SELECT
        CAST(date_trunc('day', t_view) AS DATE) AS cohort_day,
        {delta} AS delay_s
      FROM stages
      WHERE t_view IS NOT NULL AND t_purchase > t_view
    )
    SELECT
      cohort_day,
      {cnt("count(*)", "n_converted")},
      {dbl("avg(delay_s)", "avg_delay_s")},
      {dbl(pct("delay_s", 0.5, d), "p50_delay_s")},
      {dbl(pct("delay_s", 0.9, d), "p90_delay_s")},
      {dbl("min(delay_s)", "min_delay_s")},
      {dbl("max(delay_s)", "max_delay_s")}
    FROM converted
    GROUP BY cohort_day
    ORDER BY cohort_day
    """


def _event_type_mix_sql(d: str) -> str:
    # C8 — daily event-type shares (agg + window-over-agg).
    return f"""
    SELECT
      CAST(date_trunc('day', ts) AS DATE) AS day,
      event_type,
      {cnt("count(*)", "n")},
      {dbl("count(*) / CAST(sum(count(*)) OVER (PARTITION BY date_trunc('day', ts)) AS DOUBLE)", "share")}
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """


def _feature_correlations_sql(d: str) -> str:
    # D11 — sample Pearson correlations between the hourly KPI features
    # (the multivariate structure VAR exploits); corr_safe because the
    # native corr() raises under ANSI on constant series (degenerate
    # hours are real at small windows) — identical values elsewhere
    # after the 4-decimal rounding.
    return f"""
    {_hourly_cte(d)}
    SELECT
      slice,
      {dbl(corr_safe("throughput_bps", "total_packets"), "corr_tp_pkts")},
      {dbl(corr_safe("throughput_bps", "jitter"), "corr_tp_jitter")},
      {dbl(corr_safe("throughput_bps", "latency"), "corr_tp_latency")},
      {dbl(corr_safe("jitter", "latency"), "corr_jitter_latency")},
      {dbl(corr_safe("congestion", "latency"), "corr_cong_latency")}
    FROM hourly
    GROUP BY slice
    """


def _value_histogram_sql(d: str) -> str:
    # C17 — fixed-width histogram via portable bucket arithmetic
    # (no width_bucket: DuckDB lacks it; floor arithmetic is identical).
    #
    # r14 two-pass A/B (10x events, noop sink, interleaved 5 reps,
    # local[32]): scan-twice 0.360 s vs a global-window min/max variant
    # 0.583 s (frame-equal results) — the window variant funnels every
    # row through ONE task (empty PARTITION BY), losing at every scale;
    # the global-bounds-then-rescan shape is confirmed correct.
    # Bin width is guarded for the all-equal-values column (hi == lo):
    # unguarded, Spark raises DIVIDE_BY_ZERO under ANSI while DuckDB
    # returns inf — caught by the property-parity gate (r6); everything
    # lands in bucket 0 instead.
    nbins = 20
    width = f"CASE WHEN b.hi <= b.lo THEN 1.0 ELSE (b.hi - b.lo) / {nbins}.0 END"
    return f"""
    WITH bounds AS (
      SELECT min(value) AS lo, max(value) AS hi FROM events
    ),
    bucketed AS (
      SELECT
        CAST(least(floor((e.value - b.lo) / ({width})), {nbins - 1}) AS INT) AS bucket,
        e.value,
        b.lo, b.hi
      FROM events e CROSS JOIN bounds b
    )
    SELECT
      bucket,
      {cnt("count(*)", "n")},
      {dbl("min(value)", "bucket_min")},
      {dbl("max(value)", "bucket_max")}
    FROM bucketed
    GROUP BY bucket
    """


def _value_percentiles_sql(d: str) -> str:
    # B4 — exact interpolated percentiles per event_type.
    return f"""
    SELECT
      event_type,
      {dbl(pct("value", 0.5, d), "p50")},
      {dbl(pct("value", 0.9, d), "p90")},
      {dbl(pct("value", 0.95, d), "p95")},
      {dbl(pct("value", 0.99, d), "p99")},
      {dbl("min(value)", "min_v")},
      {dbl("max(value)", "max_v")},
      {dbl("avg(value)", "avg_v")}
    FROM events
    GROUP BY event_type
    """


def _trending_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C86 -- windowed top-k "trending" detector (the rank-shift screen
    # every ops dashboard runs: which event types are surging TODAY
    # relative to their trailing week?).  Anchor = the newest day in
    # the data; current window = that day, baseline = the prior 7
    # days.  Per type: current count, baseline daily average (floored
    # at 1 event/week so brand-new types get a finite, maximal lift
    # instead of a div-by-zero), lift ratio, ranks in both windows and
    # the rank gain, plus a trending flag on the ROUNDED lift (PSI
    # discipline: both engines compare identical 4-dp doubles).
    #
    # Scale: materialized_backed -- the (type, day) rollup is ONE
    # events scan; the anchor max and both conditional sums read the
    # <=|types|*|days| rollup, so inlining would rescan the corpus
    # but the part build never does.  Everything downstream is
    # |types| rows; the rank windows are single-partition by design
    # on a frame that small.
    daily = f"""
    SELECT
      event_type,
      CAST(floor({epoch("ts", d)} / 86400.0) AS BIGINT) AS day_idx,
      count(*) AS n
    FROM events
    GROUP BY event_type, CAST(floor({epoch("ts", d)} / 86400.0) AS BIGINT)
    """
    lift = "n_current / greatest(n_baseline / 7.0, 1.0 / 7.0)"
    tail = f"""
    WITH anchor AS (SELECT max(day_idx) AS a FROM _mz_trend_daily),
    counts AS (
      SELECT
        t.event_type,
        sum(CASE WHEN t.day_idx = an.a THEN t.n ELSE 0 END) AS n_current,
        sum(CASE WHEN t.day_idx >= an.a - 7 AND t.day_idx < an.a
                 THEN t.n ELSE 0 END) AS n_baseline
      FROM _mz_trend_daily t CROSS JOIN anchor an
      GROUP BY t.event_type
    ),
    windowed AS (
      SELECT * FROM counts WHERE n_current + n_baseline > 0
    ),
    ranked AS (
      SELECT
        event_type,
        n_current,
        n_baseline,
        row_number() OVER (ORDER BY n_current DESC, event_type)
          AS rank_current,
        row_number() OVER (ORDER BY n_baseline DESC, event_type)
          AS rank_baseline
      FROM windowed
    )
    SELECT
      event_type,
      {cnt("n_current", "n_current")},
      {cnt("n_baseline", "n_baseline")},
      {dbl("n_baseline / 7.0", "baseline_daily_avg")},
      {dbl(lift, "lift")},
      CAST(rank_current AS INT) AS rank_current,
      CAST(rank_baseline - rank_current AS INT) AS rank_gain,
      round({lift} + {NUDGE}, 4) >= 1.5 AS trending
    FROM ranked
    ORDER BY event_type
    """
    return [("_mz_trend_daily", daily)], tail



def _json_props_sql(d: str) -> str:
    # A4 — schema-on-read JSON prop extraction + agg.
    k = json_int("props", "k", d)
    return f"""
    SELECT
      event_type,
      {dbl(f"avg({k})", "avg_k")},
      {cnt(f"min({k})", "min_k")},
      {cnt(f"max({k})", "max_k")},
      {cnt(f"count(DISTINCT {k})", "distinct_k")}
    FROM events
    GROUP BY event_type
    """


def _variant_props_sql(d: str) -> str:
    # C54 — the same prop analytics through Spark 4's VARIANT type:
    # parse_json once into the binary-encoded semi-structured value,
    # then typed variant_get paths.  Against string re-parsing
    # (get_json_object per access), VARIANT parses ONCE and every
    # subsequent path is a binary traversal — the open-schema column
    # pattern for event payloads at scale.  DuckDB oracle reads the
    # same numbers through its native JSON path functions.
    if d == "spark":
        k = "variant_get(v, '$.k', 'int')"
        pre = "SELECT event_type, parse_json(props) AS v FROM events"
    else:
        k = "CAST(json_extract_string(v, '$.k') AS INT)"
        pre = "SELECT event_type, props AS v FROM events"
    return f"""
    WITH parsed AS ({pre})
    SELECT
      event_type,
      {cnt("count(*)", "n")},
      {cnt(f"sum(CASE WHEN {k} IS NULL THEN 1 ELSE 0 END)", "n_missing")},
      {dbl(f"avg({k})", "avg_k")},
      {dbl(f"stddev_samp({k})", "std_k")},
      {cnt(f"sum(CASE WHEN {k} > 50 THEN 1 ELSE 0 END)", "n_large")}
    FROM parsed
    GROUP BY event_type
    ORDER BY event_type
    """


def _twap_sql(d: str) -> str:
    # C70 — TIME-WEIGHTED average value per (event_type, day): each
    # reading holds (LOCF) from its timestamp until the next reading of
    # the same type, the last one until midnight — the TimescaleDB
    # `time_weight('LOCF')` continuous-aggregate semantic that a plain
    # avg() silently gets wrong whenever sampling is irregular (a
    # 23-hour-stale reading counts once, same as a back-to-back burst).
    # Emits the plain average next to the TWAP and their gap, so the
    # irregular-sampling bias is visible per group.
    #
    # Determinism: interval weights come from the exact integer-derived
    # epoch helper (bit-identical doubles both engines); ties in ts
    # break on event_id for the lead() order; readings with NULL value
    # are not observations and are excluded up front.
    #
    # Scale: one scan, one (event_type, day)-keyed window family —
    # partition-local lead, then the same-keyed agg reuses the shuffle.
    return f"""
    WITH readings AS (
      SELECT
        event_type,
        date_trunc('day', ts) AS day_ts,
        {epoch("ts", d)} AS t,
        value AS v,
        event_id
      FROM events
      WHERE value IS NOT NULL
    ),
    weighted AS (
      SELECT
        event_type,
        day_ts,
        v,
        coalesce(
          lead(t) OVER (
            PARTITION BY event_type, day_ts ORDER BY t, event_id
          ),
          {epoch("day_ts", d)} + 86400.0
        ) - t AS w
      FROM readings
    )
    SELECT
      event_type,
      CAST(day_ts AS DATE) AS day,
      {cnt("count(*)", "n_readings")},
      {dbl("sum(v * w) / sum(w)", "twap")},
      {dbl("avg(v)", "plain_avg")},
      {dbl("sum(v * w) / sum(w) - avg(v)", "sampling_bias")}
    FROM weighted
    GROUP BY event_type, CAST(day_ts AS DATE)
    ORDER BY event_type, day
    """


def _quantile_transform_sql(d: str) -> str:
    # D34 — empirical quantile (rank) transform per slice, the
    # QuantileTransformer preprocessing step next to D4's RobustScaler:
    # every hourly value maps to its midrank ECDF position under the
    # TRAIN era's distribution (D3's ordered 70/15/15 split), so
    # val/test transform through the SAME fitted map — leakage-free by
    # construction, and heavy-tailed features become uniform [0,1]
    # inputs for the downstream nets.
    #
    # The "fit" never materializes: interleaving every row with the
    # train distribution per slice and ordering by value, the RANGE
    # cumulative count of train rows ≤ v IS the fitted ECDF lookup —
    # one window family, no as-of join, no per-row subquery.  Midrank
    # tie handling keeps q exact integer arithmetic; out-of-range test
    # values clip to [0, 1] naturally.
    return f"""
    {_hourly_cte(d)},
    numbered AS (
      SELECT slice, h, throughput_bps AS v,
        row_number() OVER (PARTITION BY slice ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY slice) AS n
      FROM hourly
    ),
    tagged AS (
      SELECT slice, h, v,
        CASE WHEN rn <= floor(0.7 * n) THEN 'train'
             WHEN rn <= floor(0.85 * n) THEN 'val'
             ELSE 'test' END AS part
      FROM numbered
    ),
    ranked AS (
      SELECT slice, h, v, part,
        sum(CASE WHEN part = 'train' THEN 1.0 ELSE 0.0 END) OVER (
          PARTITION BY slice ORDER BY v
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS train_le,
        sum(CASE WHEN part = 'train' THEN 1.0 ELSE 0.0 END) OVER (
          PARTITION BY slice, v
        ) AS train_eq,
        sum(CASE WHEN part = 'train' THEN 1.0 ELSE 0.0 END) OVER (
          PARTITION BY slice
        ) AS n_train
      FROM tagged
    )
    SELECT
      slice,
      h AS window_start,
      part,
      {dbl("v", "value")},
      {dbl(
          "CASE WHEN n_train > 0 "
          "THEN (train_le - 0.5 * train_eq) / n_train ELSE 0.5 END",
          "q_train",
      )}
    FROM ranked
    ORDER BY slice, window_start
    """


WILSON_Z = 1.96  # 95% two-sided


def _funnel_ci_sql(d: str) -> str:
    # C80 — Wilson score confidence intervals on the C24 funnel's
    # stage-conversion rates (Wilson 1927; the interval Agresti & Coull
    # recommend over the naive Wald, which collapses at p near 0/1 and
    # small n — exactly where funnel tails live).  A conversion-rate
    # movement is only a finding if the intervals separate; this row
    # is what turns the funnel counts into decisions.
    #
    #   center = (p̂ + z²/2n) / (1 + z²/n)
    #   half   = z·sqrt(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)
    #
    # The stage counts compute ONCE (C24's single user-keyed shuffle);
    # the three transitions unpivot via the C38 stack ↔ UNION dual.
    # Zero-denominator transitions report rate 0 with a [0, 1] interval
    # (no information).  All ratio math rounds at the end.
    z2 = f"({WILSON_Z} * {WILSON_Z})"
    if d == "spark":
        unpivot = """
      SELECT s.sf AS stage_from, s.st AS stage_to,
             s.nf AS n_from, s.nt AS n_to
      FROM counts
      LATERAL VIEW explode(array(
        named_struct('sf', 'view', 'st', 'click',
                     'nf', reached_view, 'nt', reached_click),
        named_struct('sf', 'click', 'st', 'purchase',
                     'nf', reached_click, 'nt', reached_purchase),
        named_struct('sf', 'view', 'st', 'purchase',
                     'nf', reached_view, 'nt', reached_purchase)
      )) t AS s
        """
    else:
        unpivot = """
      SELECT 'view' AS stage_from, 'click' AS stage_to,
             reached_view AS n_from, reached_click AS n_to FROM counts
      UNION ALL
      SELECT 'click', 'purchase', reached_click, reached_purchase FROM counts
      UNION ALL
      SELECT 'view', 'purchase', reached_view, reached_purchase FROM counts
        """
    p = "(n_to / CAST(n_from AS DOUBLE))"
    denom = f"(1.0 + {z2} / n_from)"
    center = f"(({p} + {z2} / (2.0 * n_from)) / {denom})"
    half = (
        f"({WILSON_Z} * sqrt({p} * (1.0 - {p}) / n_from"
        f" + {z2} / (4.0 * n_from * n_from)) / {denom})"
    )
    return f"""
    WITH stages AS (
      SELECT
        user_id,
        min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    ),
    counts AS (
      SELECT
        sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS reached_view,
        sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
            THEN 1 ELSE 0 END) AS reached_click,
        sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                 AND t_purchase > t_click THEN 1 ELSE 0 END) AS reached_purchase
      FROM stages
    ),
    transitions AS (
      {unpivot}
    )
    SELECT
      stage_from,
      stage_to,
      {cnt("n_from", "n_from")},
      {cnt("n_to", "n_to")},
      {dbl(f"CASE WHEN n_from > 0 THEN {p} ELSE 0.0 END", "rate")},
      {dbl(f"CASE WHEN n_from > 0 THEN {center} - {half} ELSE 0.0 END",
           "ci_lo")},
      {dbl(f"CASE WHEN n_from > 0 THEN {center} + {half} ELSE 1.0 END",
           "ci_hi")}
    FROM transitions
    ORDER BY stage_from, stage_to
    """


def _retention_halflife_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C81 — pooled retention curve + exponential half-life (the
    # growth-accounting summary read off C23's cohort grid): weekly
    # pooled retention r(w) = Σ_cohorts active(c, w) / Σ cohort_size
    # over cohorts OLD ENOUGH to observe week w (right-censoring guard
    # — without it the newest cohorts drag late weeks to zero), then
    # a log-linear fit ln r ~ w on weeks ≥ 1 gives the decay rate and
    # half-life = ln 2 / −slope.  One number that says "half the users
    # are gone after N weeks" — the summary every retention dashboard
    # quotes.
    #
    # Parity: retention rounds BEFORE ln (the PSI discipline); the fit
    # runs over ≤ |weeks| points with explicit Σ sums; slope ≥ 0 or
    # < 2 usable points report half-life 0 (no decay measurable).
    #
    # materialized_backed: the cohort lattice references the per-user
    # activity frame from FIVE downstream relations (firsts, gmax,
    # offsets twice, and the curve is read by both the fit and the
    # final select) — inlined, Spark re-ran the events scan 12×.  The
    # activity/firsts/cells chain now materializes once; everything
    # after the first frame touches only tiny derived relations.
    if d == "spark":
        ddiff = "date_diff(day, first_day)"
        obs = "date_diff(gm.max_day, f.first_day)"
    else:
        ddiff = "date_diff('day', first_day, day)"
        obs = "date_diff('day', f.first_day, gm.max_day)"
    activity_sql = """
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
    GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
    """
    firsts_sql = """
    SELECT user_id, min(day) AS first_day FROM _mz_rh_activity GROUP BY user_id
    """
    cells_sql = f"""
    WITH offsets AS (
      SELECT
        f.first_day,
        CAST(floor({ddiff} / 7.0) AS INT) AS week_offset,
        a.user_id
      FROM _mz_rh_activity a JOIN _mz_rh_firsts f ON a.user_id = f.user_id
    )
    SELECT first_day, week_offset, count(DISTINCT user_id) AS active
    FROM offsets GROUP BY first_day, week_offset
    """
    # the cohort lattice has exactly one consumer (pooled below) so it
    # rides INSIDE the curve job as a CTE over the two materialized
    # frames (r13 fold — no separate eager job for it)
    curve_sql = f"""
    WITH gmax AS (SELECT max(day) AS max_day FROM _mz_rh_activity),
    cohorts AS (
      SELECT f.first_day,
             count(*) AS cohort_size,
             CAST(floor({obs} / 7.0) AS INT) AS max_week
      FROM _mz_rh_firsts f CROSS JOIN gmax gm
      GROUP BY f.first_day, CAST(floor({obs} / 7.0) AS INT)
    ),
    pooled AS (
      SELECT
        cs.max_week,
        w.week_offset,
        sum(cs.cohort_size) AS base,
        sum(coalesce(ce.active, 0)) AS active
      FROM cohorts cs
      JOIN (SELECT DISTINCT week_offset FROM _mz_rh_cells) w
        ON w.week_offset <= cs.max_week
      LEFT JOIN _mz_rh_cells ce
        ON ce.first_day = cs.first_day AND ce.week_offset = w.week_offset
      GROUP BY cs.max_week, w.week_offset
    )
    SELECT
      week_offset,
      sum(base) AS base,
      sum(active) AS active,
      round(sum(active) / CAST(sum(base) AS DOUBLE) + {NUDGE}, 4) + 0.0 AS r
    FROM pooled
    GROUP BY week_offset
    """
    tail = f"""
    WITH fit AS (
      SELECT
        count(*) AS npt,
        sum(CAST(week_offset AS DOUBLE)) AS sx,
        sum(ln(r)) AS sy,
        sum(CAST(week_offset AS DOUBLE) * week_offset) AS sxx,
        sum(CAST(week_offset AS DOUBLE) * ln(r)) AS sxy
      FROM _mz_rh_curve
      WHERE week_offset >= 1 AND r > 0
    )
    SELECT
      {cnt("c.week_offset", "week_offset")},
      {cnt("c.base", "pooled_base")},
      {cnt("c.active", "pooled_active")},
      CAST(c.r AS DOUBLE) AS retention,
      {dbl(
          "CASE WHEN f.npt >= 2 AND f.npt * f.sxx - f.sx * f.sx > 1e-12"
          " AND (f.npt * f.sxy - f.sx * f.sy) < 0"
          " THEN ln(2.0) * (f.npt * f.sxx - f.sx * f.sx)"
          " / -(f.npt * f.sxy - f.sx * f.sy)"
          " ELSE 0.0 END",
          "halflife_weeks",
      )}
    FROM _mz_rh_curve c CROSS JOIN fit f
    ORDER BY week_offset
    """
    return (
        [
            ("_mz_rh_activity", activity_sql),
            ("_mz_rh_firsts", firsts_sql),
            ("_mz_rh_cells", cells_sql),
            ("_mz_rh_curve", curve_sql),
        ],
        tail,
    )


def _peak_to_mean_sql(d: str) -> str:
    # C107 — peak-to-mean ratio per (slice, day): the capacity-planning
    # number between C50's instantaneous peak concurrency and the
    # hourly mean series — provisioning for the mean melts at the peak,
    # provisioning for the peak wastes (PMR − 1)/PMR of the fleet.
    # Per slice: mean/max daily PMR, the p90 PMR (the planning
    # percentile), and the modal busiest hour-of-day (deterministic
    # count-rank, the C31 rule — never engine-native mode()).
    #
    # Scale: one events scan → hourly frame → per-(slice, day) rollup
    # → |slices| rows.
    return f"""
    {_hourly_cte(d)},
    ranked AS (
      SELECT
        slice,
        CAST(floor({epoch("h", d)} / 86400.0) AS BIGINT) AS day_idx,
        throughput_bps,
        hour(h) AS hod,
        row_number() OVER (
          PARTITION BY slice, CAST(floor({epoch("h", d)} / 86400.0) AS BIGINT)
          ORDER BY round(throughput_bps + {NUDGE}, 4) DESC, hour(h)
        ) AS rk
      FROM hourly
    ),
    daily AS (
      SELECT
        slice,
        day_idx,
        round(max(throughput_bps) / nullif(avg(throughput_bps), 0.0)
              + {NUDGE}, 4) AS pmr,
        max(CASE WHEN rk = 1 THEN hod END) AS peak_hour
      FROM ranked
      GROUP BY slice, day_idx
    ),
    modal AS (
      SELECT slice, peak_hour, count(*) AS n,
        row_number() OVER (PARTITION BY slice
                           ORDER BY count(*) DESC, peak_hour) AS rk
      FROM daily
      GROUP BY slice, peak_hour
    )
    SELECT
      dd.slice,
      {cnt("count(*)", "n_days")},
      {dbl("avg(dd.pmr)", "mean_pmr")},
      {dbl("max(dd.pmr)", "max_pmr")},
      {dbl(pct("dd.pmr", 0.9, d), "p90_pmr")},
      {cnt("max(m.peak_hour)", "modal_peak_hour")},
      {dbl("avg(1.0 - 1.0 / nullif(dd.pmr, 0.0))", "mean_headroom_waste")}
    FROM daily dd
    JOIN (SELECT slice, peak_hour FROM modal WHERE rk = 1) m
      ON m.slice = dd.slice
    GROUP BY dd.slice
    ORDER BY dd.slice
    """


def _heatmap_sql(d: str) -> str:
    # C110 — the weekday × hour LOAD HEATMAP: the 168-cell grid every
    # ops dashboard opens with, as a certified query — per cell:
    # volume, mean value, the share of weekly load, and the z-score of
    # the cell's volume against the grid (rounded inputs, explicit
    # Σ/Σ² std — the C30 discipline), with the peak cell flagged via
    # deterministic rank.  Monday-start weekday by the shared +3 epoch
    # arithmetic (the D47 landmine).
    #
    # Scale: one scan → 168-row hash-agg; everything after is window
    # math on the grid.
    dow = f"CAST((floor({epoch('ts', d)} / 86400.0) + 3) % 7 AS BIGINT)"
    hr = f"CAST(floor(({epoch('ts', d)} % 86400.0) / 3600.0) AS BIGINT)"
    z = (
        "round((CAST(c AS DOUBLE) - s1 / n)"
        " / sqrt(greatest(CASE WHEN n <= 1 THEN 0.0"
        " ELSE (s2 - s1 * s1 / n) / (n - 1) END, 1e-12))"
        f" + {NUDGE}, 4)"
    )
    return f"""
    WITH cells AS (
      SELECT {dow} AS weekday, {hr} AS hour_of_day,
             count(*) AS c,
             round(avg(value) + {NUDGE}, 4) AS mean_value
      FROM events
      GROUP BY {dow}, {hr}
    ),
    grid AS (
      SELECT *,
        CAST(count(*) OVER () AS DOUBLE) AS n,
        sum(CAST(c AS DOUBLE)) OVER () AS s1,
        sum(CAST(c AS DOUBLE) * c) OVER () AS s2,
        row_number() OVER (ORDER BY c DESC, weekday, hour_of_day) AS rk
      FROM cells
    )
    SELECT
      weekday,
      hour_of_day,
      {cnt("c", "n_events")},
      {dbl("mean_value", "mean_value")},
      {dbl("c / s1", "load_share")},
      {dbl(z, "volume_z")},
      (rk = 1) AS is_peak_cell
    FROM grid
    ORDER BY weekday, hour_of_day
    """


QUERIES = [
    sql_backed("quantile_transform", _quantile_transform_sql, ("events",)),
    sql_backed("peak_to_mean_daily", _peak_to_mean_sql, ("events",)),
    sql_backed("value_concentration_by_type", _value_concentration_sql,
               ("events",)),
    sql_backed("weekday_hour_heatmap", _heatmap_sql, ("events",)),
    sql_backed("funnel_conversion_ci", _funnel_ci_sql, ("events",)),
    materialized_backed("retention_halflife", _retention_halflife_parts, ("events",)),
    sql_backed("twap_value_daily", _twap_sql, ("events",)),
    sql_backed("variant_props_stats", _variant_props_sql, ("events",)),
    Query("feature_vectors", _feature_vectors_run, _feature_vectors_oracle()),
    sql_backed("moving_avg_throughput", _moving_avg_sql, ("events",)),
    sql_backed("resample_gapfill", _resample_gapfill_sql, ("events",)),
    sql_backed("ffill_features", _ffill_sql, ("events",)),
    sql_backed("train_split_bounds", _train_split_sql, ("events",)),
    materialized_backed("robust_scaler_params", _robust_scaler_parts, ("events",)),
    sql_backed("var_lag_features", _var_lag_sql, ("events",)),
    sql_backed("eval_metrics", _eval_metrics_sql, ("events",)),
    sql_backed("window_entropy", _window_entropy_sql, ("events",)),
    sql_backed("feature_correlations", _feature_correlations_sql, ("events",)),
    sql_backed("cohort_retention", _cohort_retention_sql, ("events",)),
    sql_backed("funnel_stages", _funnel_sql, ("events",)),
    sql_backed("pinball_eval", _pinball_eval_sql, ("events",)),
    sql_backed("time_to_convert", _time_to_convert_sql, ("events",)),
    sql_backed("value_histogram", _value_histogram_sql, ("events",)),
    sql_backed("event_type_mix", _event_type_mix_sql, ("events",)),
    sql_backed("value_percentiles", _value_percentiles_sql, ("events",)),
    sql_backed("json_props_stats", _json_props_sql, ("events",)),
    materialized_backed(
        "trending_types", _trending_parts, ("events",),
    ),
]


def _linear_interp_sql(d: str) -> str:
    # C166 — LINEAR-interpolation gap fill on the dense hourly grid:
    # C7 zero-fills (right for counts) and D2 step-fills (right for
    # slowly-moving levels); a throughput LEVEL fed to the D1 feature
    # frame wants the line between the bracketing observations —
    # zero-fill fabricates outages, step-fill fabricates plateaus.
    # Four IGNORE NULLS windows (value+epoch in each direction) give
    # prev/next anchors; gaps interpolate by time weight, each row
    # labeled obs/interp so downstream consumers can weigh trust.
    # Every gap is INTERIOR by construction — the grid spans each
    # slice's observed min..max hour, so both anchors always exist
    # (no dead one-sided branches to pretend to handle).
    #
    # Scale: the C7 grid (bounded by calendar), per-slice windows on
    # the tiny spine, no joins beyond the grid LEFT JOIN.
    if d == "spark":
        grid = ("SELECT slice, explode(sequence(mn, mx, INTERVAL 1 HOUR)) "
                "AS h FROM bounds")
        ff_v = ("last_value(v) IGNORE NULLS OVER "
                "(PARTITION BY slice ORDER BY h "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
        ff_t = ("last_value(es) IGNORE NULLS OVER "
                "(PARTITION BY slice ORDER BY h "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
        bf_v = ("first_value(v) IGNORE NULLS OVER "
                "(PARTITION BY slice ORDER BY h "
                "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
        bf_t = ("first_value(es) IGNORE NULLS OVER "
                "(PARTITION BY slice ORDER BY h "
                "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
    else:
        grid = ("SELECT slice, unnest(generate_series(mn, mx, "
                "INTERVAL 1 HOUR)) AS h FROM bounds")
        ff_v = ("last_value(v IGNORE NULLS) OVER "
                "(PARTITION BY slice ORDER BY h "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
        ff_t = ("last_value(es IGNORE NULLS) OVER "
                "(PARTITION BY slice ORDER BY h "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
        bf_v = ("first_value(v IGNORE NULLS) OVER "
                "(PARTITION BY slice ORDER BY h "
                "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
        bf_t = ("first_value(es IGNORE NULLS) OVER "
                "(PARTITION BY slice ORDER BY h "
                "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
    ge = epoch("g.h", d)
    interp = (
        "pv + (nv - pv) * (ge - pt) / (nt - pt)"
    )
    return f"""
    {_hourly_cte(d)},
    bounds AS (
      SELECT slice, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY slice
    ),
    grid AS (
      {grid}
    ),
    spine AS (
      SELECT g.slice, g.h, {ge} AS ge, hh.throughput_bps AS v,
             CASE WHEN hh.slice IS NULL THEN NULL ELSE {epoch("hh.h", d)}
             END AS es
      FROM grid g
      LEFT JOIN hourly hh ON hh.slice = g.slice AND hh.h = g.h
    ),
    anchored AS (
      SELECT slice, h, ge, v,
        {ff_v} AS pv, {ff_t} AS pt,
        {bf_v} AS nv, {bf_t} AS nt
      FROM spine
    )
    SELECT
      slice,
      h AS window_start,
      {dbl(
          "CASE WHEN v IS NOT NULL THEN v "
          f"ELSE {interp} END",
          "filled_value",
      )},
      CASE WHEN v IS NOT NULL THEN 'obs' ELSE 'interp' END AS fill_mode
    FROM anchored
    ORDER BY slice, window_start
    """


QUERIES.extend([
    sql_backed("linear_interp_gapfill", _linear_interp_sql, ("events",)),
])


def _collated_mix_sql(d: str) -> str:
    # C183 (né C167) — case-insensitive analytics via Spark 4 COLLATIONS: the
    # query synthesizes a case-mangled event-type column (upper for
    # even event_ids — the dirty-ingest reality collations exist for),
    # then groups under UTF8_LCASE so 'CLICK' and 'click' are ONE group
    # at the ENGINE level: no lower() rewrite in the plan, the collated
    # comparator drives the hash aggregate itself.  The oracle gets the
    # same semantics the pre-collation way (GROUP BY lower()) — two
    # different mechanisms, identical groups.  The group label is
    # lower(min(raw)) (binary min is deterministic both engines);
    # n_case_variants counts the BINARY-distinct spellings inside each
    # case-insensitive group (2 whenever both parities occur).
    if d == "spark":
        key = "et COLLATE UTF8_LCASE"
    else:
        key = "lower(et)"
    return f"""
    WITH mangled AS (
      SELECT
        CASE WHEN event_id % 2 = 0 THEN upper(event_type)
             ELSE event_type END AS et,
        user_id, value
      FROM events
    )
    SELECT
      lower(min(et)) AS event_type,
      {cnt("count(*)", "n_events")},
      {cnt("count(DISTINCT et)", "n_case_variants")},
      {cnt("count(DISTINCT user_id)", "n_users")},
      {dbl("sum(value)", "sum_value")}
    FROM mangled
    GROUP BY {key}
    ORDER BY event_type
    """


QUERIES.append(
    sql_backed("collated_type_mix", _collated_mix_sql, ("events",))
)


def _pipe_syntax_sql(d: str) -> str:
    # C180 (né C170) — Spark 4's SQL PIPE syntax certified semantically: the
    # Spark side expresses a 5-stage pipeline with |> operators
    # (EXTEND → WHERE → AGGREGATE..GROUP BY → post-agg WHERE → ORDER),
    # the oracle the same pipeline as classical nested SQL — the two
    # syntaxes must parse to identical semantics or the hash breaks.
    # Same underlying discipline as every query: exact-integer day
    # bucketing, counts as BIGINT, sums rounded on the shared grid.
    day = f"CAST(floor({epoch('ts', d)} / 86400.0) AS BIGINT)"
    if d == "spark":
        return f"""
        FROM events
        |> EXTEND {day} AS day
        |> WHERE value IS NOT NULL
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_events,
                     {dbl("sum(value)", "sum_value")}
           GROUP BY event_type, day
        |> WHERE n_events >= 3
        |> ORDER BY event_type, day
        """
    return f"""
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS n_events,
           {dbl("sum(value)", "sum_value")}
    FROM (
      SELECT event_type, {day} AS day, value
      FROM events WHERE value IS NOT NULL
    ) t
    GROUP BY event_type, day
    HAVING count(*) >= 3
    ORDER BY event_type, day
    """


QUERIES.append(
    sql_backed("pipe_syntax_daily_mix", _pipe_syntax_sql, ("events",))
)
