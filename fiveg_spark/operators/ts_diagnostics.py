"""Time-series diagnostics over the hourly slice series.

The forecasting pipeline (ref train.py) needs model-selection
diagnostics before fitting: autocorrelation (picks the VAR lag order p,
ref train.py:199 uses p=3), drift/change detection (is the series
stationary enough for VAR?), a seasonal-naive error floor (the
baseline any model must beat), and robust smoothing.

All queries aggregate raw events ONCE into the tiny hourly series
(3 slices x ~720 hours regardless of SF), so the single events shuffle
dominates and every window below it runs on a reduced frame partitioned
by slice — nothing here degrades at 100 TB.

Parity notes: hourly measures are rounded before any window (identical
inputs both engines); running sums evaluate sequentially in frame order
in both engines, so CUSUM is bit-stable; `corr` accumulation noise is
~1e-16 and dies in the 4-decimal rounding.
"""

from __future__ import annotations

from fiveg_spark.operators.kpi import flows_cte
from fiveg_spark.operators.timeseries import _hourly_cte
from fiveg_spark.plans.registry import (
    NUDGE,
    cnt,
    corr_safe,
    dbl,
    epoch,
    materialized_backed,
    pct,
    sql_backed,
)


def _calendar_outlier_sql(d: str) -> str:
    # C87 -- calendar-outlier day screen (the "holiday effect" the
    # round-7 backlog named: a day whose volume breaks its own
    # weekday's pattern is a holiday, an outage, or a data hole --
    # the D46 consensus votes on VALUES, this votes on the calendar).
    # Per day: volume vs the LEAVE-ONE-OUT mean of the SAME weekday
    # across the rest of the series (LOO so a single huge day cannot
    # dilute its own expectation), ratio on the shared 4-dp rounding,
    # outlier when the rounded ratio falls outside [0.5, 2.0].
    # Weekday via the shared integer-epoch arithmetic (epoch day 0 =
    # Thursday, +3 => 0 = Monday -- the D47 landmine).
    #
    # Scale: one events scan pre-agged to <=|days| rows; the LOO mean
    # is two windows over the dow partition of that tiny rollup --
    # nothing after the first hash-agg touches facts.  Under-2-sample
    # weekdays report the 0.0 no-information convention and never flag.
    day_idx = f"CAST(floor({epoch('ts', d)} / 86400.0) AS BIGINT)"
    if d == "spark":
        day_date = "date_add(DATE '1970-01-01', CAST(day_idx AS INT))"
    else:
        day_date = "DATE '1970-01-01' + CAST(day_idx AS INT)"
    # the LOO mean is NULL-guarded (not condition-guarded) because
    # ANSI Spark evaluates CASE subexpressions eagerly inside codegen:
    # `dow_n >= 2 AND f(ratio)` still computes ratio when dow_n = 1
    # and dies on /0 — dividing by a NULL loo instead yields NULL on
    # both engines (the parity gate caught this live)
    return f"""
    WITH daily AS (
      SELECT {day_idx} AS day_idx, count(*) AS n
      FROM events
      GROUP BY {day_idx}
    ),
    stats AS (
      SELECT
        day_idx,
        CAST((day_idx + 3) % 7 AS INT) AS dow,
        n,
        sum(n) OVER (PARTITION BY (day_idx + 3) % 7) AS dow_sum,
        count(*) OVER (PARTITION BY (day_idx + 3) % 7) AS dow_n
      FROM daily
    ),
    guarded AS (
      SELECT
        day_idx,
        dow,
        n,
        dow_n,
        CASE WHEN dow_n >= 2
             THEN (dow_sum - n) / CAST(dow_n - 1 AS DOUBLE) END AS loo
      FROM stats
    )
    SELECT
      {day_date} AS day,
      dow,
      {cnt("n", "n_events")},
      {cnt("dow_n", "n_same_dow")},
      {dbl("loo", "loo_dow_mean")},
      {dbl("n / loo", "volume_ratio")},
      coalesce(
        round(n / loo + {NUDGE}, 4) <= 0.5
        OR round(n / loo + {NUDGE}, 4) >= 2.0,
        FALSE
      ) AS is_outlier
    FROM guarded
    ORDER BY day_idx
    """



def _acf_sql(d: str) -> str:
    # Lag-1 / lag-3 / lag-24 sample autocorrelation per slice: the
    # order-selection evidence for VAR(p) (ref train.py:214 fits p=3).
    return f"""
    {_hourly_cte(d)},
    lagged AS (
      SELECT
        slice,
        throughput_bps AS v,
        lag(throughput_bps, 1) OVER (PARTITION BY slice ORDER BY h) AS v1,
        lag(throughput_bps, 3) OVER (PARTITION BY slice ORDER BY h) AS v3,
        lag(throughput_bps, 24) OVER (PARTITION BY slice ORDER BY h) AS v24
      FROM hourly
    )
    SELECT
      slice,
      {cnt("count(*)", "n_hours")},
      {dbl(corr_safe("v", "v1"), "acf_lag1")},
      {dbl(corr_safe("v", "v3"), "acf_lag3")},
      {dbl(corr_safe("v", "v24"), "acf_lag24")}
    FROM lagged
    GROUP BY slice
    """


def _cusum_sql(d: str) -> str:
    # CUSUM drift scan: running sum of deviations from the slice mean;
    # the max |excursion| and its hour locate the strongest level shift.
    # The mean is rounded so both engines cumsum identical doubles.
    return f"""
    {_hourly_cte(d)},
    mu AS (
      SELECT slice, {dbl("avg(throughput_bps)", "mean_bps")}
      FROM hourly GROUP BY slice
    ),
    cusum AS (
      SELECT
        hr.slice,
        hr.h,
        round(abs(
          sum(hr.throughput_bps - mu.mean_bps) OVER (
            PARTITION BY hr.slice ORDER BY hr.h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          )
        ) + 1e-9, 2) AS abs_c
      FROM hourly hr JOIN mu ON hr.slice = mu.slice
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY slice ORDER BY abs_c DESC, h) AS rnk
      FROM cusum
    )
    SELECT
      slice,
      {dbl("abs_c", "max_abs_cusum")},
      h AS drift_hour
    FROM ranked
    WHERE rnk = 1
    """


def _seasonal_naive_sql(d: str) -> str:
    # Error floor of the 24-hour seasonal-naive forecaster — the
    # baseline the hybrid model's RMSE/MAE (ref train.py:264-269) must
    # beat to justify itself.
    return f"""
    {_hourly_cte(d)},
    lagged AS (
      SELECT
        slice,
        throughput_bps AS v,
        lag(throughput_bps, 24) OVER (PARTITION BY slice ORDER BY h) AS pred
      FROM hourly
    )
    SELECT
      slice,
      {cnt("count(*)", "n_eval")},
      {dbl("sqrt(avg((v - pred) * (v - pred)))", "rmse")},
      {dbl("avg(abs(v - pred))", "mae")}
    FROM lagged
    WHERE pred IS NOT NULL
    GROUP BY slice
    """


def _seasonal_profile_sql(d: str) -> str:
    # Hour-of-day seasonality profile (the pattern seasonal-naive
    # exploits): per (slice, hour-of-day) level + spread.
    return f"""
    {_hourly_cte(d)}
    SELECT
      slice,
      {cnt("hour(h)", "hour_of_day")},
      {cnt("count(*)", "n_days")},
      {dbl("avg(throughput_bps)", "mean_bps")},
      {dbl("stddev_samp(throughput_bps)", "sd_bps")}
    FROM hourly
    GROUP BY slice, hour(h)
    """


def _rolling_median_sql(d: str) -> str:
    # Robust trailing-7h smoothing: exact median as a WINDOW aggregate
    # (holistic frame agg in both engines) — outlier-proof where the
    # moving average (C5) is not.
    med = pct("throughput_bps", 0.5, d)
    frame = "PARTITION BY slice ORDER BY h ROWS BETWEEN 6 PRECEDING AND CURRENT ROW"
    return f"""
    {_hourly_cte(d)}
    SELECT
      slice,
      h AS window_start,
      throughput_bps,
      {dbl(f"{med} OVER ({frame})", "rolling_median_7h")}
    FROM hourly
    """


def _changepoint_sql(d: str) -> str:
    # D20 — single best changepoint per slice (one level of binary
    # segmentation): the split hour minimizing SSE_left + SSE_right,
    # where each segment SSE comes from prefix sums of y and y² —
    # NO per-candidate rescan, the whole scan of candidate splits is
    # one cumulative window over the (already tiny) hourly frame.
    # Inputs are the pre-rounded hourly measures, and the combined SSE
    # is rounded BEFORE the argmin rank (tiebreak on hour) so
    # engine-side summation noise can't flip the winner.  Minimum
    # segment length 24 h keeps the split out of the seasonal edges.
    return f"""
    {_hourly_cte(d)},
    idx AS (
      SELECT
        slice,
        h,
        throughput_bps AS y,
        row_number() OVER (PARTITION BY slice ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY slice) AS n,
        sum(throughput_bps) OVER (PARTITION BY slice ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_y,
        sum(throughput_bps * throughput_bps) OVER (PARTITION BY slice ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_y2,
        sum(throughput_bps) OVER (PARTITION BY slice) AS tot_y,
        sum(throughput_bps * throughput_bps) OVER (PARTITION BY slice) AS tot_y2
      FROM hourly
    ),
    cand AS (
      SELECT
        slice,
        h,
        rn,
        n,
        tot_y,
        tot_y2,
        round(
          (cum_y2 - cum_y * cum_y / rn)
          + (tot_y2 - cum_y2 - (tot_y - cum_y) * (tot_y - cum_y) / (n - rn))
          + 1e-9, 2) AS sse_split
      FROM idx
      WHERE rn >= 24 AND rn <= n - 24
    ),
    best AS (
      SELECT *,
        row_number() OVER (PARTITION BY slice ORDER BY sse_split, h) AS rnk
      FROM cand
    )
    SELECT
      slice,
      h AS split_hour,
      {cnt("rn", "left_hours")},
      {cnt("n - rn", "right_hours")},
      {dbl("sse_split", "sse_split")},
      {dbl("tot_y2 - tot_y * tot_y / n", "sse_nosplit")},
      {dbl("1.0 - sse_split / (tot_y2 - tot_y * tot_y / n)", "var_reduction")}
    FROM best
    WHERE rnk = 1
    ORDER BY slice
    """


def _iat_exponential_fit_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D24 — exponential goodness-of-fit for inter-arrival times: a
    # Poisson-process arrival model (the queueing-theory default for
    # packet/event streams, cf. the reference's IAT KPI family) implies
    # exponential IATs.  Fit lambda = 1/mean per event_type, then a
    # BINNED Kolmogorov-Smirnov distance on the fixed grid
    # t_j = j*mean/5 (j = 1..20): with that grid the exponential CDF at
    # t_j is the CONSTANT 1 - exp(-j/5), so the whole test is 20
    # conditional sums — no global per-type sort, no empirical-CDF rank
    # window (the textbook KS needs one; at 100 TB a 5-partition sort is
    # the skew the repo bans, the binned variant is one hash-agg).
    #
    # materialized_backed: the IAT frame feeds BOTH the mean fit and the
    # binned CDF; inlined it would run the (user, type) lag window
    # twice.
    iat_sql = f"""
      WITH seq AS (
        SELECT
          event_type,
          {epoch('ts', d)} AS t,
          lag({epoch('ts', d)}) OVER (
            PARTITION BY user_id, event_type ORDER BY ts, event_id
          ) AS prev_t
        FROM events
      )
      SELECT event_type, t - prev_t AS iat
      FROM seq
      WHERE prev_t IS NOT NULL
    """
    # + NUDGE: an IAT landing exactly on a grid point (all-equal IATs put
    # iat == mean on the j=5 boundary) must bin identically in both
    # engines even when their avg() differs by one ulp.
    emp = ",\n      ".join(
        f"sum(CASE WHEN i.iat <= {j} * m.mean_iat / 5.0 + {NUDGE} "
        f"THEN 1.0 ELSE 0.0 END) / m.n AS f{j}"
        for j in range(1, 21)
    )
    ks = ", ".join(f"abs(f{j} - (1.0 - exp(-{j} / 5.0)))" for j in range(1, 21))
    tail = f"""
    WITH means AS (
      SELECT
        event_type,
        avg(iat) AS mean_iat,
        CAST(count(*) AS DOUBLE) AS n
      FROM _mz_iat_frame
      GROUP BY event_type
    ),
    cdf AS (
      SELECT
        i.event_type,
        m.mean_iat,
        m.n,
        {emp}
      FROM _mz_iat_frame i
      JOIN means m ON i.event_type = m.event_type
      GROUP BY i.event_type, m.mean_iat, m.n
    )
    SELECT
      event_type,
      {cnt("n", "n_iats")},
      {dbl("mean_iat", "mean_iat_s")},
      {dbl("CASE WHEN mean_iat <= 0 THEN 0.0 ELSE 1.0 / mean_iat END",
           "lambda_hz")},
      {dbl(f"GREATEST({ks})", "ks_binned")}
    FROM cdf
    ORDER BY event_type
    """
    return [("_mz_iat_frame", iat_sql)], tail


def _era_split_parts(d: str, prefix: str) -> list[tuple[str, str]]:
    """Shared materialized ref/cur era split at the per-slice MEDIAN
    hour — the drift quartet (D27 PSI, D31 KS, D33 Mann-Whitney, D40
    Cramer-von Mises) must test the SAME split or their verdicts stop
    being comparable; factoring the cut rule here makes that invariant
    structural instead of a four-way copy-paste (r7 self-review).
    Returns the two parts [(_mz_{prefix}_hourly, …), (_mz_{prefix}_
    tagged, …)] every member materializes first."""
    hourly_sql = f"""
      WITH {_hourly_cte(d).lstrip().removeprefix("WITH ")}
      SELECT slice, h, throughput_bps FROM hourly
    """
    tagged_sql = f"""
      WITH cut AS (
        SELECT slice, round({pct(epoch("h", d), 0.5, d)} + {NUDGE}, 4) + 0.0 AS h_med
        FROM _mz_{prefix}_hourly GROUP BY slice
      )
      SELECT hy.slice, hy.throughput_bps AS v,
             CASE WHEN {epoch("hy.h", d)} <= c.h_med THEN 'ref' ELSE 'cur' END AS era
      FROM _mz_{prefix}_hourly hy JOIN cut c ON c.slice = hy.slice
    """
    return [
        (f"_mz_{prefix}_hourly", hourly_sql),
        (f"_mz_{prefix}_tagged", tagged_sql),
    ]


def _psi_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D27 — Population Stability Index, the production model-monitoring
    # drift score: PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) between a
    # reference window (first half of each slice's hourly series by
    # time — the "training era") and the current window (second half).
    # Convention: PSI < 0.1 stable, 0.1–0.2 watch, > 0.2 drifted.
    #
    # Determinism/parity: the time split is the rounded median hour;
    # bin edges are the rounded reference min/max cut into 10 equal
    # widths (degenerate zero-width range → single-bin, PSI = 0 — the
    # value_histogram guard); shares are floored at 1e-4 (standard PSI
    # practice so empty bins don't blow up ln) and ROUNDED before the
    # log so both engines take ln of identical doubles.
    #
    # Scale: the era-tagged hourly frame MATERIALIZES once
    # (materialized_backed — the tail references it through four CTE
    # layers, and Spark's CTE inlining would re-run the events scan per
    # reference: the sweep gate measured 10 rescans of the inlined
    # form); bins/shares are tiny per-slice aggregates over it.  Every
    # tail CTE is referenced exactly ONCE — a twice-referenced CTE in
    # this shape trips a Spark 4.1 InlineCTE/DeduplicateRelations
    # INTERNAL_ERROR (UnresolvedAttribute.exprId) on temp-view-backed
    # inputs, so the grid's slice universe reads the materialized view,
    # not the binned CTE.
    era_parts = _era_split_parts(d, "psi")
    if d == "spark":
        eras = "SELECT explode(array('ref', 'cur')) AS era"
        bins = "SELECT explode(sequence(0, 9)) AS bin"
    else:
        eras = "SELECT unnest(['ref', 'cur']) AS era"
        bins = "SELECT unnest(generate_series(0, 9)) AS bin"
    tail = f"""
    WITH edges AS (
      SELECT slice,
             round(min(CASE WHEN era = 'ref' THEN v END) + {NUDGE}, 4) + 0.0 AS lo,
             round(max(CASE WHEN era = 'ref' THEN v END) + {NUDGE}, 4) + 0.0 AS hi
      FROM _mz_psi_tagged GROUP BY slice
    ),
    binned AS (
      SELECT t.slice, t.era,
             CASE WHEN e.hi - e.lo <= 0 THEN 0
                  ELSE least(9, greatest(0,
                    CAST(floor((t.v - e.lo) / ((e.hi - e.lo) / 10.0)) AS INT)))
             END AS bin
      FROM _mz_psi_tagged t JOIN edges e ON e.slice = t.slice
    ),
    grid AS (
      SELECT slice, era, bin
      FROM (SELECT DISTINCT slice FROM _mz_psi_tagged) s
      CROSS JOIN ({eras}) e
      CROSS JOIN ({bins}) b
    ),
    shares AS (
      SELECT
        g.slice, g.bin,
        round(greatest(
          sum(CASE WHEN b.era = 'ref' THEN 1.0 ELSE 0.0 END)
            / greatest(max(tot.n_ref), 1), 0.0001) + {NUDGE}, 6) + 0.0 AS p,
        round(greatest(
          sum(CASE WHEN b.era = 'cur' THEN 1.0 ELSE 0.0 END)
            / greatest(max(tot.n_cur), 1), 0.0001) + {NUDGE}, 6) + 0.0 AS q
      FROM grid g
      LEFT JOIN binned b ON b.slice = g.slice AND b.era = g.era AND b.bin = g.bin
      JOIN (
        SELECT slice,
               sum(CASE WHEN era = 'ref' THEN 1 ELSE 0 END) AS n_ref,
               sum(CASE WHEN era = 'cur' THEN 1 ELSE 0 END) AS n_cur
        FROM _mz_psi_tagged GROUP BY slice
      ) tot ON tot.slice = g.slice
      GROUP BY g.slice, g.bin
    )
    SELECT
      sh.slice,
      {dbl("CASE WHEN t.n_ref = 0 OR t.n_cur = 0 THEN 0.0 "
           "ELSE sum((p - q) * ln(p / q)) END", "psi")},
      CAST(CASE WHEN t.n_ref = 0 OR t.n_cur = 0 THEN FALSE
                ELSE round(sum((p - q) * ln(p / q)) + {NUDGE}, 4) > 0.2
           END AS BOOLEAN) AS drifted
    FROM shares sh
    JOIN (
      SELECT slice,
             sum(CASE WHEN era = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN era = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM _mz_psi_tagged GROUP BY slice
    ) t ON t.slice = sh.slice
    GROUP BY sh.slice, t.n_ref, t.n_cur
    ORDER BY sh.slice
    """
    return era_parts, tail


KS_ALPHA_COEFF = 1.358  # c(alpha) at alpha = 0.05, two-sample KS


def _ks_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D31 — two-sample Kolmogorov-Smirnov drift test per slice: the
    # RANK-based twin of D27's PSI over the same ref/cur era split
    # (median-hour cut of the hourly throughput series).  PSI needs bin
    # edges and floors; KS is binning-free — D = sup_x |F_ref − F_cur|
    # with the classical alpha=0.05 rejection bound
    # c(alpha)·sqrt((n_ref+n_cur)/(n_ref·n_cur)).  A drift monitor runs
    # both: PSI localizes WHERE mass moved, KS detects ANY distribution
    # change with a proper test.
    #
    # The sup evaluates at sample points only (ECDFs are step
    # functions): cumulative era counts via a RANGE window on v (peers
    # included, so ties contribute their full mass on both sides —
    # WHICH row of a tie evaluates is irrelevant, every tie-peer row
    # sees the same post-tie cumulative counts).  All ECDF values are
    # integer-over-integer doubles — bit-identical across engines, so
    # D and the rejection compare raw.
    #
    # Scale: the era-tagged hourly frame materializes once (PSI's
    # materialize-once rule — the tail reads it for totals AND the
    # window); the window is per-slice over the tiny hourly frame, and
    # at 100 TB the same plan holds on any per-key series that fits a
    # partition (the hourly rollup is ~9k rows/slice/year).
    era_parts = _era_split_parts(d, "ks")
    tail = f"""
    WITH tot AS (
      SELECT slice,
             sum(CASE WHEN era = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN era = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM _mz_ks_tagged GROUP BY slice
    ),
    cum AS (
      SELECT slice,
        sum(CASE WHEN era = 'ref' THEN 1.0 ELSE 0.0 END) OVER (
          PARTITION BY slice ORDER BY v
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS c_ref,
        sum(CASE WHEN era = 'cur' THEN 1.0 ELSE 0.0 END) OVER (
          PARTITION BY slice ORDER BY v
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS c_cur
      FROM _mz_ks_tagged
    ),
    stat AS (
      SELECT c.slice,
             max(abs(c.c_ref / t.n_ref - c.c_cur / t.n_cur)) AS d_stat
      FROM cum c JOIN tot t ON t.slice = c.slice
      WHERE t.n_ref > 0 AND t.n_cur > 0
      GROUP BY c.slice
    )
    SELECT
      t.slice,
      {cnt("t.n_ref", "n_ref")},
      {cnt("t.n_cur", "n_cur")},
      {dbl("coalesce(s.d_stat, 0.0)", "ks_d")},
      {dbl(
          f"CASE WHEN t.n_ref > 0 AND t.n_cur > 0 THEN {KS_ALPHA_COEFF}"
          " * sqrt((t.n_ref + t.n_cur) / (CAST(t.n_ref AS DOUBLE) * t.n_cur))"
          " ELSE 0.0 END",
          "d_crit",
      )},
      CAST(CASE WHEN t.n_ref = 0 OR t.n_cur = 0 THEN FALSE
                ELSE s.d_stat > {KS_ALPHA_COEFF}
                  * sqrt((t.n_ref + t.n_cur)
                         / (CAST(t.n_ref AS DOUBLE) * t.n_cur))
           END AS BOOLEAN) AS drifted
    FROM tot t LEFT JOIN stat s ON s.slice = t.slice
    ORDER BY t.slice
    """
    return era_parts, tail


def _mw_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D33 — tie-corrected Mann-Whitney U rank-sum test per slice, over
    # the same ref/cur era split as D27 (PSI) and D31 (KS).  The three
    # are the standard drift triptych: PSI localizes WHERE mass moved,
    # KS detects ANY distribution change, Mann-Whitney tests the
    # LOCATION shift specifically (more power against a pure level
    # change, immune to variance-only changes that trip KS).
    #
    #   U = R_ref − n_ref(n_ref+1)/2,  with midrank ties
    #   z = (U − n_ref·n_cur/2) / sqrt(n_ref·n_cur/12 · ((n+1) − T))
    #   T = Σ(t³−t) / (n(n−1))            (tie correction)
    #
    # Midranks come from pure integer window arithmetic (cumulative
    # RANGE count minus the peer count, plus (t+1)/2), so U is exact
    # and engine-identical; only the final z divides/sqrts, with the
    # all-tied degenerate (variance 0) guarded to z = 0.
    #
    # Scale: the era-tagged hourly frame materializes once (PSI rule);
    # ranks are per-slice windows over the tiny hourly rollup; the tie
    # census groups by (slice, value).
    era_parts = _era_split_parts(d, "mw")
    tail = f"""
    WITH ranked AS (
      SELECT slice, era,
        sum(1.0) OVER (
          PARTITION BY slice ORDER BY v
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
        - count(*) OVER (PARTITION BY slice, v)
        + (count(*) OVER (PARTITION BY slice, v) + 1.0) / 2.0 AS midrank
      FROM _mz_mw_tagged
    ),
    sums AS (
      SELECT slice,
        sum(CASE WHEN era = 'ref' THEN midrank ELSE 0.0 END) AS r_ref,
        sum(CASE WHEN era = 'ref' THEN 1 ELSE 0 END) AS n_ref,
        sum(CASE WHEN era = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM ranked GROUP BY slice
    ),
    ties AS (
      SELECT slice, sum(t * t * t - t) AS tie_cubes
      FROM (
        SELECT slice, v, CAST(count(*) AS DOUBLE) AS t
        FROM _mz_mw_tagged GROUP BY slice, v
      ) g GROUP BY slice
    ),
    stat AS (
      SELECT
        s.slice, s.n_ref, s.n_cur,
        s.r_ref - s.n_ref * (s.n_ref + 1.0) / 2.0 AS u_stat,
        CASE WHEN s.n_ref + s.n_cur >= 2
             THEN s.n_ref * s.n_cur / 12.0
                  * ((s.n_ref + s.n_cur + 1.0)
                     - t.tie_cubes / ((s.n_ref + s.n_cur)
                                      * (s.n_ref + s.n_cur - 1.0)))
             ELSE 0.0 END AS var_u
      FROM sums s JOIN ties t ON t.slice = s.slice
    )
    SELECT
      slice,
      {cnt("n_ref", "n_ref")},
      {cnt("n_cur", "n_cur")},
      {dbl("u_stat", "u_stat")},
      {dbl(
          "CASE WHEN var_u > 0 AND n_ref > 0 AND n_cur > 0 "
          "THEN (u_stat - n_ref * n_cur / 2.0) / sqrt(var_u) "
          "ELSE 0.0 END",
          "z_score",
      )},
      CAST(CASE WHEN var_u > 0 AND n_ref > 0 AND n_cur > 0
                THEN abs((u_stat - n_ref * n_cur / 2.0) / sqrt(var_u)) > 1.96
                ELSE FALSE END AS BOOLEAN) AS shifted
    FROM stat
    ORDER BY slice
    """
    return era_parts, tail


THEILSEN_MAX_LAG = 168  # pair horizon, hours (one week)


def _theilsen_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D36 — Theil-Sen robust trend per slice (Theil 1950; Sen 1968):
    # slope = median of pairwise slopes (v_j−v_i)/(t_j−t_i), the
    # 29%-breakdown-point complement to C44's least-squares trend —
    # one wild outlier hour moves OLS arbitrarily and Theil-Sen not at
    # all.  Intercept = median(v − slope·t), the standard companion.
    #
    # Scale: the full pair set is O(n²) in the series length; pairs are
    # BOUNDED to a THEILSEN_MAX_LAG-hour horizon (the estimator over
    # banded pairs keeps the breakdown property; Sen's original works
    # over any symmetric pair scheme), making the shape O(n·lag) on the
    # hourly ROLLUP — which grows with calendar time, not data volume.
    # The banded self-join keys on slice + an epoch-hour band.
    #
    # Determinism: t and v are exact engine-identical doubles; slopes
    # are their IEEE ratios; the median interpolates identically (pct
    # helper) and rounds before the intercept computation so both
    # engines subtract the same slope.
    # r13 opt: the per-slice hourly series is MATERIALIZED — the tail
    # references it three times (both sides of the banded pair self-join
    # + the intercept pass), and Spark inlines CTEs, so the fact scan +
    # hourly rollup ran 3× (ledger: 3 file scans for a 1-table query).
    # The series is |slices|·|hours| rows — calendar-bounded.
    series_sql = f"""
      {_hourly_cte(d)}
      SELECT slice, {epoch("h", d)} / 3600.0 AS th, throughput_bps AS v
      FROM hourly
    """
    tail = f"""
    WITH series AS (
      SELECT * FROM _mz_ts_series
    ),
    slopes AS (
      SELECT
        a.slice,
        (b.v - a.v) / (b.th - a.th) AS s
      FROM series a
      JOIN series b
        ON b.slice = a.slice
       AND b.th > a.th
       AND b.th <= a.th + {THEILSEN_MAX_LAG}
    ),
    fit AS (
      SELECT slice,
             count(*) AS n_pairs,
             round({pct("s", 0.5, d)} + {NUDGE}, 4) + 0.0 AS slope
      FROM slopes GROUP BY slice
    )
    SELECT
      f.slice,
      {cnt("f.n_pairs", "n_pairs")},
      CAST(f.slope AS DOUBLE) AS slope_per_hour,
      {dbl(pct("sr.v - f.slope * sr.th", 0.5, d), "intercept")}
    FROM fit f
    JOIN series sr ON sr.slice = f.slice
    GROUP BY f.slice, f.n_pairs, f.slope
    ORDER BY f.slice
    """
    return [("_mz_ts_series", series_sql)], tail


def _conformal_sql(d: str) -> str:
    # D26 — split-conformal prediction intervals around the seasonal-
    # naive forecaster: calibrate the |residual| q90 on the VALIDATION
    # third of each slice's series, then measure EMPIRICAL coverage of
    # ŷ ± q90 on the held-out TEST third.  Distribution-free marginal
    # coverage ≈ 90% by the conformal guarantee (finite-sample: at
    # least ⌈0.9(n+1)⌉/(n+1)); a test coverage far below nominal means
    # the series drifted between val and test eras — this row is the
    # model-monitoring companion to pinball_eval's quantile loss.
    #
    # Splits reuse D3's ordered 70/15/15 rule (row_number over the
    # hourly frame); the radius is rounded before the coverage
    # comparison so both engines test identical doubles.
    return f"""
    {_hourly_cte(d)},
    lagged AS (
      SELECT
        slice, h, throughput_bps AS v,
        lag(throughput_bps, 24) OVER (PARTITION BY slice ORDER BY h) AS pred,
        row_number() OVER (PARTITION BY slice ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY slice) AS n
      FROM hourly
    ),
    split AS (
      SELECT *,
             CASE WHEN rn <= floor(0.7 * n) THEN 'train'
                  WHEN rn <= floor(0.85 * n) THEN 'val'
                  ELSE 'test' END AS part
      FROM lagged WHERE pred IS NOT NULL
    ),
    radius AS (
      SELECT slice,
             round({pct("abs(v - pred)", 0.9, d)} + {NUDGE}, 4) + 0.0 AS q90,
             count(*) AS n_val
      FROM split WHERE part = 'val' GROUP BY slice
    )
    SELECT
      s.slice,
      {cnt("max(r.n_val)", "n_val")},
      {cnt("count(*)", "n_test")},
      {dbl("max(r.q90)", "interval_radius")},
      {dbl("avg(CASE WHEN abs(s.v - s.pred) <= r.q90 THEN 1.0 ELSE 0.0 END)",
           "test_coverage")}
    FROM split s JOIN radius r ON r.slice = s.slice
    WHERE s.part = 'test'
    GROUP BY s.slice
    ORDER BY s.slice
    """


CONFORMAL_ALPHAS = (0.8, 0.9, 0.95)


def _conformal_sweep_sql(d: str) -> str:
    # D37 — the D26 split-conformal machinery swept over MULTIPLE
    # nominal levels in one pass: a production consumer rarely wants a
    # single 90% band — the (80/90/95) ladder shows how fast intervals
    # widen in the tail, and a test-era coverage that degrades with
    # alpha localizes WHERE the residual distribution drifted (bulk vs
    # tail).  The val-era radii compute as three literal-percentile agg
    # columns in ONE aggregate (Spark's percentile needs a foldable p),
    # then unpivot to (slice, alpha, radius) rows — the C38 stack ↔
    # UNION dual — and one broadcast join measures all coverages in a
    # single test-era pass.
    alphas = CONFORMAL_ALPHAS
    qcols = ", ".join(
        f"round({pct('abs(v - pred)', a, d)} + {NUDGE}, 4) + 0.0 AS q{int(a * 100)}"
        for a in alphas
    )
    if d == "spark":
        unpivot = (
            "SELECT slice, n_val, s.alpha AS alpha, s.q AS radius FROM radii "
            "LATERAL VIEW explode(array("
            + ", ".join(
                f"named_struct('alpha', CAST({a} AS DOUBLE), 'q', q{int(a * 100)})"
                for a in alphas
            )
            + ")) t AS s"
        )
    else:
        unpivot = " UNION ALL ".join(
            f"SELECT slice, n_val, CAST({a} AS DOUBLE) AS alpha,"
            f" q{int(a * 100)} AS radius FROM radii"
            for a in alphas
        )
    return f"""
    {_hourly_cte(d)},
    lagged AS (
      SELECT
        slice, h, throughput_bps AS v,
        lag(throughput_bps, 24) OVER (PARTITION BY slice ORDER BY h) AS pred,
        row_number() OVER (PARTITION BY slice ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY slice) AS n
      FROM hourly
    ),
    split AS (
      SELECT *,
             CASE WHEN rn <= floor(0.7 * n) THEN 'train'
                  WHEN rn <= floor(0.85 * n) THEN 'val'
                  ELSE 'test' END AS part
      FROM lagged WHERE pred IS NOT NULL
    ),
    radii AS (
      SELECT slice, count(*) AS n_val, {qcols}
      FROM split WHERE part = 'val' GROUP BY slice
    ),
    rlong AS (
      {unpivot}
    )
    SELECT
      s.slice,
      {dbl("max(r.alpha)", "alpha")},
      {cnt("max(r.n_val)", "n_val")},
      {cnt("count(*)", "n_test")},
      {dbl("max(r.radius)", "interval_radius")},
      {dbl("avg(CASE WHEN abs(s.v - s.pred) <= r.radius THEN 1.0 ELSE 0.0 END)",
           "test_coverage")}
    FROM split s
    JOIN rlong r ON r.slice = s.slice
    WHERE s.part = 'test'
    GROUP BY s.slice, r.alpha
    ORDER BY s.slice, alpha
    """


def _iat_burstiness_sql(d: str) -> str:
    # D38 — burstiness + memory of the packet arrival process per
    # slice (Goh & Barabási 2008): B = (σ−μ)/(σ+μ) of the inter-arrival
    # times (−1 = perfectly periodic, 0 = Poisson, →1 = heavy-tailed
    # bursts) and the memory coefficient M = corr(iat_i, iat_{i+1})
    # over flow-consecutive pairs.  Together they place the traffic in
    # the (B, M) plane that separates human-driven bursts from
    # machine-periodic telemetry — the arrival-process characterization
    # D24's exponential GOF test assumes away.  The reference's KPI
    # window (KafkaKpiPipeline.scala:99-175) reports mean/std of IAT;
    # this is the dimensionless summary of the same moments.
    #
    # Parity: μ and σ come from explicit Σ/Σ² (population) so both
    # engines divide identical sums; B's ratio and corr_safe both die
    # in the 4-decimal rounding.  First-packet rows (iat coalesced to
    # 0 by IAT_EXPR) are not arrivals and are excluded.
    #
    # Scale: one fact scan; the lag window runs per (slice, flow) —
    # the same partitioning the flows CTE already established — and
    # the final agg is 3 rows.
    return f"""
    {flows_cte(d)},
    arrivals AS (
      SELECT
        slice,
        iat,
        lag(iat) OVER (
          PARTITION BY slice, flow_id ORDER BY ts_sec, event_id
        ) AS prev_iat
      FROM flows
      WHERE iat > 0
    )
    SELECT
      slice,
      {cnt("count(*)", "n_arrivals")},
      {dbl("avg(iat)", "mean_iat")},
      {dbl("sqrt(avg(iat * iat) - avg(iat) * avg(iat))", "std_iat")},
      {dbl(
          "CASE WHEN avg(iat) + sqrt(avg(iat * iat) - avg(iat) * avg(iat)) > 0"
          " THEN (sqrt(avg(iat * iat) - avg(iat) * avg(iat)) - avg(iat))"
          " / (sqrt(avg(iat * iat) - avg(iat) * avg(iat)) + avg(iat))"
          " ELSE 0.0 END",
          "burstiness",
      )},
      {dbl(corr_safe("iat", "prev_iat"), "memory_coeff")}
    FROM arrivals
    GROUP BY slice
    ORDER BY slice
    """


PH_DELTA_FRAC = 0.05  # drift allowance, fraction of per-slice std
PH_LAMBDA_FRAC = 3.0  # alarm threshold, multiples of per-slice std


def _page_hinkley_sql(d: str) -> str:
    # D39 — Page-Hinkley drift test per slice on the hourly series
    # (Page 1954; the sequential-analysis sibling of D20's CUSUM): the
    # running statistic accumulates deviations from the RUNNING mean
    # (x̄_i = mean of the first i observations) with a drift allowance
    # whose SIGN mirrors per direction: the increase detector walks
    # m⁺_t = Σ(x_i − x̄_i − δ) and alarms on m⁺_t − min_{s≤t} m⁺_s,
    # the decrease detector walks m⁻_t = Σ(x_i − x̄_i + δ) and alarms
    # on max_{s≤t} m⁻_s − m⁻_t (a single shared δ sign would bias one
    # side into a linear-in-t false alarm on stationary input).  Unlike
    # the fixed-reference CUSUM, the running-mean recentering makes PH
    # robust to an unknown baseline — the form streaming drift
    # detectors (MOA, river) ship.
    #
    # δ = {PH_DELTA_FRAC}·σ and λ = {PH_LAMBDA_FRAC}·σ scale with each
    # slice's own variability (σ = population std of the whole series).
    # Parity: the hourly inputs are pre-rounded doubles; running
    # mean/sum/min/max evaluate in identical frame order both engines;
    # σ enters δ via explicit Σ/Σ² sums, and the alarm booleans compare
    # the ROUNDED PH stats against the ROUNDED λ (the seasonal-
    # decomposition flag discipline) so ulp noise cannot flip a flag.
    #
    # Scale: one fact scan → hourly rollup; every window below runs
    # per-slice on the tiny series frame.
    return f"""
    {_hourly_cte(d)},
    sigma AS (
      SELECT
        slice,
        sqrt(avg(throughput_bps * throughput_bps)
             - avg(throughput_bps) * avg(throughput_bps)) AS sd
      FROM hourly GROUP BY slice
    ),
    terms AS (
      SELECT
        hy.slice,
        hy.h,
        sg.sd,
        hy.throughput_bps
          - avg(hy.throughput_bps) OVER (
              PARTITION BY hy.slice ORDER BY hy.h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS centered
      FROM hourly hy JOIN sigma sg ON sg.slice = hy.slice
    ),
    walk AS (
      SELECT
        slice,
        h,
        sd,
        sum(centered - {PH_DELTA_FRAC} * sd) OVER (
          PARTITION BY slice ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS m_up,
        sum(centered + {PH_DELTA_FRAC} * sd) OVER (
          PARTITION BY slice ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS m_down
      FROM terms
    ),
    running AS (
      SELECT
        slice,
        sd,
        m_up
          - min(m_up) OVER (
              PARTITION BY slice ORDER BY h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS ph_up,
        max(m_down) OVER (
          PARTITION BY slice ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) - m_down AS ph_down
      FROM walk
    )
    SELECT
      slice,
      {cnt("count(*)", "n_hours")},
      {dbl("max(ph_up)", "ph_up_max")},
      {dbl("max(ph_down)", "ph_down_max")},
      {dbl(f"max({PH_LAMBDA_FRAC} * sd)", "threshold")},
      CAST(max(CASE WHEN round(ph_up + {NUDGE}, 4)
                      > round({PH_LAMBDA_FRAC} * sd + {NUDGE}, 4)
               THEN 1 ELSE 0 END) AS INT) AS drift_up,
      CAST(max(CASE WHEN round(ph_down + {NUDGE}, 4)
                      > round({PH_LAMBDA_FRAC} * sd + {NUDGE}, 4)
               THEN 1 ELSE 0 END) AS INT) AS drift_down
    FROM running
    GROUP BY slice
    ORDER BY slice
    """


CVM_CRIT_05 = 0.461  # limiting 5% point of the two-sample ω² statistic


def _cvm_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D40 — two-sample Cramér–von Mises drift test per slice over the
    # SAME ref/cur era split as D27 (PSI), D31 (KS) and D33 (Mann-
    # Whitney), completing the drift quartet: KS reads only the single
    # worst ECDF gap, CvM integrates the SQUARED gap over the whole
    # distribution — more power against many-small-differences drift
    # (Anderson 1962).  T = (n·m/N²)·Σ_{pooled z}[F_ref(z) − F_cur(z)]²
    # summed over all N pooled observations with multiplicity, against
    # the limiting 5% point 0.461.
    #
    # Parity: ECDF values are integer-over-integer doubles (RANGE
    # window includes tie peers, so every tie row sees identical
    # post-tie counts — same argument as D31); the Σ of squares is the
    # only cross-engine float accumulation and the verdict compares
    # the ROUNDED statistic.
    #
    # Scale: identical physique to D31 — the era-tagged hourly frame
    # materializes once, the window runs per-slice on the rollup.
    era_parts = _era_split_parts(d, "cvm")
    tail = f"""
    WITH tot AS (
      SELECT slice,
             sum(CASE WHEN era = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN era = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM _mz_cvm_tagged GROUP BY slice
    ),
    cum AS (
      SELECT slice,
        sum(CASE WHEN era = 'ref' THEN 1.0 ELSE 0.0 END) OVER (
          PARTITION BY slice ORDER BY v
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS c_ref,
        sum(CASE WHEN era = 'cur' THEN 1.0 ELSE 0.0 END) OVER (
          PARTITION BY slice ORDER BY v
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS c_cur
      FROM _mz_cvm_tagged
    ),
    stat AS (
      SELECT c.slice,
             t.n_ref,
             t.n_cur,
             sum(
               (c.c_ref / t.n_ref - c.c_cur / t.n_cur)
               * (c.c_ref / t.n_ref - c.c_cur / t.n_cur)
             ) AS gap_sq_sum
      FROM cum c JOIN tot t ON t.slice = c.slice
      WHERE t.n_ref > 0 AND t.n_cur > 0
      GROUP BY c.slice, t.n_ref, t.n_cur
    )
    SELECT
      slice,
      {cnt("n_ref", "n_ref")},
      {cnt("n_cur", "n_cur")},
      {dbl(
          "CAST(n_ref AS DOUBLE) * n_cur"
          " / ((n_ref + n_cur) * CAST(n_ref + n_cur AS DOUBLE))"
          " * gap_sq_sum",
          "cvm_stat",
      )},
      CAST(round(CAST(n_ref AS DOUBLE) * n_cur
                 / ((n_ref + n_cur) * CAST(n_ref + n_cur AS DOUBLE))
                 * gap_sq_sum + {NUDGE}, 4)
           > {CVM_CRIT_05} AS BOOLEAN) AS drifted
    FROM stat
    ORDER BY slice
    """
    return era_parts, tail


LB_LAGS = 6
LB_CRIT_05 = 12.592  # chi-square 5% point at 6 df


def _ljung_box_sql(d: str) -> str:
    # D45 — Ljung-Box portmanteau whiteness test per slice (Ljung & Box
    # 1978): Q = n(n+2)·Σ_{k=1..m} ρ_k²/(n−k) against χ²(m) — the
    # omnibus "is there ANY autocorrelation" test that justifies (or
    # kills) fitting VAR/Holt at all, where D13's ACF reads single
    # lags.  ρ_k is the CLASSICAL autocorrelation (lag products over
    # the series' own centered sum of squares — one shared denominator,
    # not the pairwise-complete corr estimate), so Q matches the
    # textbook statistic exactly.
    #
    # Parity: v̄ and ss ride as per-slice window aggregates (identical
    # rounded hourly inputs), each ρ_k is a ratio of such sums, and the
    # verdict compares the ROUNDED Q against the fixed χ²(6) 5% point.
    # Degenerate guards: n ≤ m+1 or ss = 0 report Q = 0 / white.
    #
    # Scale: one scan → hourly rollup; the lag chain and the final agg
    # run per-slice on the tiny series frame.
    lags = ", ".join(
        f"lag(throughput_bps, {k}) OVER (PARTITION BY slice ORDER BY h) AS v{k}"
        for k in range(1, LB_LAGS + 1)
    )
    rho_terms = ", ".join(
        f"sum(CASE WHEN v{k} IS NOT NULL THEN (v - vbar) * (v{k} - vbar) "
        f"ELSE 0.0 END) AS c{k}"
        for k in range(1, LB_LAGS + 1)
    )
    q_sum = " + ".join(
        f"(c{k} / ss) * (c{k} / ss) / (n - {k})" for k in range(1, LB_LAGS + 1)
    )
    return f"""
    {_hourly_cte(d)},
    base AS (
      SELECT
        slice,
        h,
        throughput_bps AS v,
        avg(throughput_bps) OVER (PARTITION BY slice) AS vbar,
        count(*) OVER (PARTITION BY slice) AS n,
        {lags}
      FROM hourly
    ),
    sums AS (
      SELECT
        slice,
        max(n) AS n,
        sum((v - vbar) * (v - vbar)) AS ss,
        {rho_terms}
      FROM base
      GROUP BY slice
    )
    SELECT
      slice,
      {cnt("n", "n_hours")},
      {dbl("CASE WHEN ss > 0 THEN c1 / ss ELSE 0.0 END", "rho1")},
      {dbl(
          f"CASE WHEN n > {LB_LAGS + 1} AND ss > 0"
          f" THEN n * (n + 2.0) * ({q_sum}) ELSE 0.0 END",
          "q_stat",
      )},
      CAST({LB_CRIT_05} AS DOUBLE) AS lb_crit,
      CAST(CASE WHEN n <= {LB_LAGS + 1} OR ss <= 0 THEN FALSE
                ELSE round(n * (n + 2.0) * ({q_sum}) + {NUDGE}, 4)
                     > {LB_CRIT_05} END AS BOOLEAN) AS autocorrelated
    FROM sums
    ORDER BY slice
    """


def _welch_sql(d: str) -> str:
    # D47 — Welch's unequal-variance t-test per slice: weekday vs
    # weekend hourly throughput (Welch 1947).  Completes the
    # two-sample family — D31/D40 test DISTRIBUTION, D33 tests
    # location nonparametrically, Welch is the parametric location
    # test with its own variance per group (the plain pooled t is
    # wrong whenever weekend traffic has different variance, which is
    # the norm).  df via Welch-Satterthwaite; significance at the
    # normal-approx 1.96 on the ROUNDED |t| (df is ~hundreds on any
    # real series; the exact t quantile differs in the 3rd decimal).
    #
    # Calendar split: dayofweek is engine-identical on the same
    # timestamps (Sunday=1 convention in both Spark and DuckDB's
    # dayofweek? no — DuckDB dayofweek is 0=Sunday; use ISO weekday
    # via a shared expression instead).
    # epoch day 0 = 1970-01-01 = Thursday; +3 makes Monday 0, so the
    # weekend is {5, 6} = {Saturday, Sunday}
    iso = (
        "((CAST(floor({e} / 86400.0) AS BIGINT) + 3) % 7)"
    ).format(e=epoch("h", d))
    return f"""
    {_hourly_cte(d)},
    tagged AS (
      SELECT
        slice,
        throughput_bps AS v,
        CASE WHEN {iso} >= 5 THEN 1 ELSE 0 END AS is_weekend
      FROM hourly
    ),
    grp AS (
      SELECT
        slice,
        sum(CASE WHEN is_weekend = 0 THEN 1.0 ELSE 0.0 END) AS n1,
        sum(CASE WHEN is_weekend = 0 THEN v ELSE 0.0 END) AS s1,
        sum(CASE WHEN is_weekend = 0 THEN v * v ELSE 0.0 END) AS ss1,
        sum(CASE WHEN is_weekend = 1 THEN 1.0 ELSE 0.0 END) AS n2,
        sum(CASE WHEN is_weekend = 1 THEN v ELSE 0.0 END) AS s2,
        sum(CASE WHEN is_weekend = 1 THEN v * v ELSE 0.0 END) AS ss2
      FROM tagged
      GROUP BY slice
    ),
    derived AS (
      SELECT
        slice, n1, n2,
        s1 / n1 AS m1,
        s2 / n2 AS m2,
        (ss1 - s1 * s1 / n1) / (n1 - 1.0) AS var1,
        (ss2 - s2 * s2 / n2) / (n2 - 1.0) AS var2
      FROM grp
      WHERE n1 >= 2 AND n2 >= 2
    )
    SELECT
      slice,
      {cnt("n1", "n_weekday")},
      {cnt("n2", "n_weekend")},
      {dbl("m1", "mean_weekday")},
      {dbl("m2", "mean_weekend")},
      {dbl(
          "CASE WHEN var1 / n1 + var2 / n2 > 0"
          " THEN (m1 - m2) / sqrt(var1 / n1 + var2 / n2) ELSE 0.0 END",
          "t_stat",
      )},
      {dbl(
          "CASE WHEN var1 > 0 OR var2 > 0"
          " THEN power(var1 / n1 + var2 / n2, 2)"
          " / (power(var1 / n1, 2) / (n1 - 1.0)"
          "    + power(var2 / n2, 2) / (n2 - 1.0)) ELSE 0.0 END",
          "welch_df",
      )},
      CAST(CASE WHEN var1 / n1 + var2 / n2 <= 0 THEN FALSE
                ELSE abs(round((m1 - m2) / sqrt(var1 / n1 + var2 / n2)
                               + {NUDGE}, 4)) > 1.96 END AS BOOLEAN)
        AS significant
    FROM derived
    ORDER BY slice
    """




def _diebold_mariano_sql(d: str) -> str:
    # D51 -- Diebold-Mariano equal-predictive-accuracy test per slice
    # (Diebold & Mariano 1995): naive (y_{t-1}) vs seasonal-naive
    # (y_{t-24}) one-step forecasts under squared loss.  D13's
    # seasonal-naive RMSE floor says how good that baseline is; DM
    # says whether it is SIGNIFICANTLY better than the even cheaper
    # naive -- the difference decides if the period-24 state is worth
    # carrying at all (the D50 router's seasonal gate, tested formally
    # on out-of-sample-style losses instead of in-sample variance).
    # d_t = e_naive^2 - e_seasonal^2; at horizon 1 the DM statistic is
    # mean(d) / sqrt(var(d)/n) ~ N(0,1); positive = seasonal-naive
    # better.  Verdict on the ROUNDED |DM| vs 1.96.
    #
    # Parity: hourly measures are pre-rounded, losses are exact
    # squares of identical doubles, var from sum/sum-of-squares over
    # them; zero-variance d (identical forecasters) takes the DM = 0
    # guard, as do under-2-observation slices.
    #
    # Scale: one scan -> hourly rollup; both lag forecasts ride the
    # SAME slice-partitioned sort, then one per-slice agg.
    return f"""
    {_hourly_cte(d)},
    fc AS (
      SELECT
        slice,
        throughput_bps AS v,
        lag(throughput_bps, 1) OVER (PARTITION BY slice ORDER BY h) AS f_naive,
        lag(throughput_bps, 24) OVER (PARTITION BY slice ORDER BY h) AS f_seas
      FROM hourly
    ),
    losses AS (
      SELECT
        slice,
        (v - f_naive) * (v - f_naive)
          - (v - f_seas) * (v - f_seas) AS d_t
      FROM fc
      WHERE f_naive IS NOT NULL AND f_seas IS NOT NULL
    ),
    sums AS (
      SELECT
        slice,
        count(*) AS n,
        avg(d_t) AS dbar,
        avg(d_t * d_t) - avg(d_t) * avg(d_t) AS var_d
      FROM losses
      GROUP BY slice
    ),
    scored AS (
      SELECT
        slice,
        n,
        dbar,
        var_d,
        CASE
          WHEN n >= 2 AND var_d > 0
            THEN round(dbar / sqrt(var_d / n) + {NUDGE}, 4)
          WHEN n >= 2 AND round(dbar + {NUDGE}, 4) <> 0.0
            -- zero-variance, nonzero differential: one forecaster is
            -- better at EVERY step by the same margin — conclusive,
            -- not a tie; signed sentinel stands in for the divergent
            -- statistic
            THEN CASE WHEN dbar > 0 THEN 1000000.0 ELSE -1000000.0 END
          ELSE 0.0
        END AS dm_round
      FROM sums
    )
    SELECT
      slice,
      {cnt("n", "n_obs")},
      {dbl("dbar", "mean_loss_diff")},
      {dbl("dm_round", "dm_stat")},
      CAST(abs(dm_round) > 1.96 AS BOOLEAN) AS significant,
      CASE
        WHEN abs(dm_round) <= 1.96 THEN 'tie'
        WHEN dm_round > 0 THEN 'seasonal_naive'
        ELSE 'naive'
      END AS better_model
    FROM scored
    ORDER BY slice
    """



def _mann_kendall_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D52 -- Mann-Kendall monotone-trend test per slice (Mann 1945;
    # Kendall 1975): S = sum of sign(v_j - v_i) over ordered pairs,
    # tie-corrected variance, continuity-corrected z ~ N(0,1).  The
    # SIGNIFICANCE companion to D36's Theil-Sen slope (the standard
    # pairing in every hydrology/telemetry trend suite): Theil-Sen
    # says HOW steep, MK says whether a monotone trend exists at all,
    # nonparametrically -- no normality or linearity assumed, where
    # C44's OLS t-test needs both.
    #
    # Scale: the full pair set is the TEXTBOOK statistic -- O(n^2) in
    # the SERIES length on the tiny hourly rollup (n ~ 720/month per
    # slice => ~260k sign pairs, trivially), bounded by calendar time,
    # never data volume; a multi-year series switches to seasonal-MK
    # blocks (per-month S summed -- same SQL per block).  Ties in the
    # rounded hourly measure get the textbook t(t-1)(2t+5) variance
    # correction.  Verdict on the ROUNDED |z| vs 1.96.
    #
    # materialized_backed: the series frame is referenced THREE times
    # (both self-join sides + tie/count rollups) -- inlined, Spark
    # re-ran the events scan 3x (measured); materialized it scans
    # ONCE and the tail works the tiny rollup.
    series_sql = f"""
    {_hourly_cte(d)}
    SELECT slice, {epoch("h", d)} AS th, throughput_bps AS v
    FROM hourly
    """
    tail = f"""
    WITH s_stat AS (
      SELECT
        a.slice,
        sum(CASE WHEN b.v > a.v THEN 1
                 WHEN b.v < a.v THEN -1 ELSE 0 END) AS s,
        count(*) AS n_pairs
      FROM _mz_mk_series a
      JOIN _mz_mk_series b ON b.slice = a.slice AND b.th > a.th
      GROUP BY a.slice
    ),
    ties AS (
      SELECT slice,
             sum(t * (t - 1.0) * (2.0 * t + 5.0)) AS tie_term
      FROM (
        SELECT slice, v, CAST(count(*) AS DOUBLE) AS t
        FROM _mz_mk_series GROUP BY slice, v
      ) grouped
      WHERE t > 1
      GROUP BY slice
    ),
    counts AS (
      SELECT slice, CAST(count(*) AS DOUBLE) AS n FROM _mz_mk_series GROUP BY slice
    ),
    scored AS (
      SELECT
        c.slice,
        c.n,
        st.s,
        st.n_pairs,
        (c.n * (c.n - 1.0) * (2.0 * c.n + 5.0)
          - coalesce(t.tie_term, 0.0)) / 18.0 AS var_s
      FROM counts c
      JOIN s_stat st ON st.slice = c.slice
      LEFT JOIN ties t ON t.slice = c.slice
    ),
    zed AS (
      SELECT
        slice,
        n,
        s,
        n_pairs,
        CASE
          WHEN var_s <= 0 THEN 0.0
          WHEN s > 0 THEN round((s - 1.0) / sqrt(var_s) + {NUDGE}, 4)
          WHEN s < 0 THEN round((s + 1.0) / sqrt(var_s) + {NUDGE}, 4)
          ELSE 0.0
        END AS z_round
      FROM scored
    )
    SELECT
      slice,
      {cnt("n", "n_hours")},
      {cnt("s", "s_stat")},
      {cnt("n_pairs", "n_pairs")},
      {dbl("z_round", "z_score")},
      CAST(abs(z_round) > 1.96 AS BOOLEAN) AS significant,
      CASE
        WHEN abs(z_round) <= 1.96 THEN 'none'
        WHEN z_round > 0 THEN 'increasing'
        ELSE 'decreasing'
      END AS trend
    FROM zed
    ORDER BY slice
    """
    return [("_mz_mk_series", series_sql)], tail


SEASONAL_ROUTE_MIN = 0.6  # F_s above this: the period-24 state pays


def _model_router_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D50 — evidence-gated forecast-model router per slice: the
    # composite decision the diagnostics exist FOR.  D45's Ljung-Box
    # whiteness and D42's seasonal strength re-derive here over ONE
    # shared hourly frame and gate the standard ladder:
    #
    #   not autocorrelated        -> 'mean'        (white noise: any
    #                                dynamic model fits nothing)
    #   autocorrelated + seasonal -> 'holt_winters' (D22: the period-24
    #                                state earns its keep, F_s >= 0.6)
    #   autocorrelated, aseasonal -> 'var'          (D6/D49: dynamics
    #                                without a calendar)
    #
    # This is the router a production NWDAF forecaster runs nightly
    # per slice before refitting — evidence columns ship alongside the
    # verdict so the call is auditable, and every verdict compares
    # ROUNDED statistics against fixed critical points (identical
    # 4-dp doubles both engines; the D45/D42 parity discipline).
    #
    # The hourly rollup rides IN the tail (r13 fold): both statistic
    # families (lag chain + hour-of-day profile) read it through the
    # ONE `base` projection, so the chain is single-expansion and an
    # eager materialization paid a job + checkpoint for nothing.
    # Everything downstream of the rollup is per-slice windows on a
    # tiny series frame.  Degenerate guards: n <= LB_LAGS+1 or zero
    # centered SS -> white -> 'mean'; zero total variance -> F_s = 0.
    lags = ", ".join(
        f"lag(v, {k}) OVER (PARTITION BY slice ORDER BY h) AS v{k}"
        for k in range(1, LB_LAGS + 1)
    )
    rho_terms = ", ".join(
        f"sum(CASE WHEN v{k} IS NOT NULL THEN (v - vbar) * (v{k} - vbar) "
        f"ELSE 0.0 END) AS c{k}"
        for k in range(1, LB_LAGS + 1)
    )
    q_sum = " + ".join(
        f"(c{k} / ss) * (c{k} / ss) / (n - {k})" for k in range(1, LB_LAGS + 1)
    )
    q_round = (
        f"CASE WHEN n <= {LB_LAGS + 1} OR ss <= 0 THEN 0.0 "
        f"ELSE round(n * (n + 2.0) * ({q_sum}) + {NUDGE}, 4) END"
    )
    fs_round = (
        "CASE WHEN var_total > 0 THEN greatest(0.0, "
        f"round(1.0 - var_resid / var_total + {NUDGE}, 4)) ELSE 0.0 END"
    )
    tail = f"""
    {_hourly_cte(d)},
    rh AS (
      SELECT slice, h, throughput_bps AS v FROM hourly
    ),
    base AS (
      SELECT
        slice,
        h,
        v,
        avg(v) OVER (PARTITION BY slice) AS vbar,
        count(*) OVER (PARTITION BY slice) AS n,
        round(avg(v) OVER (PARTITION BY slice, hour(h)) + {NUDGE}, 4)
          + 0.0 AS seas,
        {lags}
      FROM rh
    ),
    withr AS (
      SELECT *, round(v - seas, 4) AS r FROM base
    ),
    sums AS (
      SELECT
        slice,
        max(n) AS n,
        sum((v - vbar) * (v - vbar)) AS ss,
        avg(v * v) - avg(v) * avg(v) AS var_total,
        avg(r * r) - avg(r) * avg(r) AS var_resid,
        {rho_terms}
      FROM withr
      GROUP BY slice
    ),
    scored AS (
      SELECT
        slice,
        n,
        {q_round} AS q_round,
        {fs_round} AS fs_round
      FROM sums
    )
    SELECT
      slice,
      {cnt("n", "n_hours")},
      {dbl("q_round", "lb_q")},
      CAST(q_round > {LB_CRIT_05} AS BOOLEAN) AS autocorrelated,
      {dbl("fs_round", "seasonal_strength")},
      CAST(fs_round >= {SEASONAL_ROUTE_MIN} AS BOOLEAN) AS is_seasonal,
      CASE
        WHEN q_round <= {LB_CRIT_05} THEN 'mean'
        WHEN fs_round >= {SEASONAL_ROUTE_MIN} THEN 'holt_winters'
        ELSE 'var'
      END AS recommended_model
    FROM scored
    ORDER BY slice
    """
    return [], tail


def _poisson_dispersion_sql(d: str) -> str:
    # D55 — index-of-dispersion (Fisher) overdispersion screen per
    # slice: variance/mean of hourly PACKET COUNTS (a Poisson arrival
    # process has D = 1; D >> 1 means bursty/clustered arrivals, the
    # count-domain complement of D38's IAT burstiness and D24's
    # exponential-fit check).  Chi-square form (n−1)·D with a 3σ normal
    # band on D — the quick "is this arrival process Poisson at all"
    # gate before any queueing-model claim (cf. C89).  Hours inside
    # each slice's OWN active span with zero packets count as zeros via
    # a per-slice calendar spine (the r7 growth-accounting lesson: the
    # burstiest hour is the silent one; an active-hours-only rollup
    # can't see it).
    #
    # Scale: one events scan → (slice, hour) counts; the spine join and
    # moment rollup run on ≤ |slices|·|hours| rows.
    if d == "spark":
        spine = ("SELECT slice, explode(sequence(0, CAST(span_h AS INT))) AS hi, h0"
                 " FROM bounds")
    else:
        spine = ("SELECT slice, unnest(generate_series(0, CAST(span_h AS INT))) AS hi, h0"
                 " FROM bounds")
    e = epoch("h", d)
    return f"""
    {_hourly_cte(d)},
    bounds AS (
      SELECT slice, min({e}) AS h0,
             (max({e}) - min({e})) / 3600.0 AS span_h
      FROM hourly GROUP BY slice
    ),
    spine AS ({spine}),
    counts AS (
      SELECT sp.slice,
             coalesce(hr.total_packets, 0) AS n_pkts
      FROM spine sp
      LEFT JOIN hourly hr
        ON hr.slice = sp.slice AND {epoch("hr.h", d)} = sp.h0 + sp.hi * 3600.0
    ),
    moments AS (
      SELECT
        slice,
        CAST(count(*) AS DOUBLE) AS n,
        avg(CAST(n_pkts AS DOUBLE)) AS mu,
        var_samp(CAST(n_pkts AS DOUBLE)) AS v
      FROM counts
      GROUP BY slice
    )
    SELECT
      slice,
      {cnt("n", "n_hours")},
      {dbl("mu", "mean_hourly_packets")},
      {dbl("v", "var_hourly_packets")},
      {dbl("v / nullif(mu, 0.0)", "dispersion_index")},
      {dbl("(n - 1.0) * v / nullif(mu, 0.0)", "chi2_stat")},
      (round(v / nullif(mu, 0.0) + {NUDGE}, 4)
         > 1.0 + 3.0 * sqrt(2.0 / (n - 1.0))) AS overdispersed
    FROM moments
    WHERE n >= 2
    ORDER BY slice
    """


def _resid_ctes(d: str) -> str:
    """Shared mean-centered hourly residual frame over `hourly` —
    `resid(slice, h, r)` with the slice mean rounded to 4 dp BEFORE
    differencing, so residuals are differences of engine-identical
    doubles.  Consumed by D57 (Jarque-Bera) and D61 (ARCH LM): one
    residual convention, two certified rows."""
    return f"""mu AS (
      SELECT slice, round(avg(throughput_bps) + {NUDGE}, 4) AS m
      FROM hourly GROUP BY slice
    ),
    resid AS (
      SELECT h.slice, h.h AS h, h.throughput_bps - mu.m AS r
      FROM hourly h JOIN mu ON mu.slice = h.slice
    )"""


def _jarque_bera_sql(d: str) -> str:
    # D57 — Jarque-Bera normality test per slice on the hourly
    # throughput residuals (v − slice mean): JB = n/6·(S² + (K−3)²/4)
    # against the χ²₂ 95% cut (5.99).  The formal gate behind B3's raw
    # skew/kurt readouts — z-score anomaly thresholds (C30) and CUSUM
    # variance assumptions (B18) are only calibrated when this passes.
    # Parity: the slice mean is rounded to 4 dp BEFORE residuals, so
    # every residual is the difference of two engine-identical doubles
    # and the power sums diverge only by addition order (≪ 4 dp).
    # Centering BEFORE the power sums is also the numerics: raw
    # E[x⁴]-based central-moment algebra at throughput magnitudes
    # (1e6⁴ = 1e24) would cancel past double precision.
    #
    # Scale: one events scan → hourly frame; mean join + moment rollup
    # on the tiny series frame.
    return f"""
    {_hourly_cte(d)},
    {_resid_ctes(d)},
    moments AS (
      SELECT
        slice,
        CAST(count(*) AS DOUBLE) AS n,
        sum(r * r) AS s2,
        sum(r * r * r) AS s3,
        sum(r * r * r * r) AS s4
      FROM resid
      GROUP BY slice
    ),
    stats AS (
      SELECT
        slice, n,
        CASE WHEN s2 > 0 THEN (s3 / n) / power(s2 / n, 1.5) ELSE 0.0 END AS skew,
        CASE WHEN s2 > 0 THEN (s4 / n) / power(s2 / n, 2.0) ELSE 0.0 END AS kurt
      FROM moments
      WHERE n >= 4
    )
    SELECT
      slice,
      {cnt("n", "n_hours")},
      {dbl("skew", "skewness")},
      {dbl("kurt", "kurtosis")},
      {dbl("n / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)",
           "jb_stat")},
      (round(n / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
             + {NUDGE}, 4) > 5.99) AS non_normal
    FROM stats
    ORDER BY slice
    """


def _runs_test_sql(d: str) -> str:
    # D58 — Wald-Wolfowitz runs test per slice: is the hour-ordered
    # sign sequence (throughput above/below the slice MEDIAN) random,
    # or does it trend/oscillate?  z = (R − E[R]) / σ_R with
    # E[R] = 1 + 2·n₁·n₀/n, σ²_R = 2n₁n₀(2n₁n₀−n) / (n²(n−1)).
    # Too FEW runs = regime persistence (the D52 Mann-Kendall shape,
    # detected nonparametrically); too MANY = oscillation faster than
    # hourly (aliasing — sampling is too coarse).  Complements D45's
    # autocorrelation-based whiteness with a distribution-free check.
    # Parity: the median is interpolated identically on both engines
    # and compared against 4-dp-rounded values; runs/counts are exact
    # integers.
    #
    # Scale: one events scan → hourly frame → per-slice lag window on
    # the tiny series.
    return f"""
    {_hourly_cte(d)},
    med AS (
      SELECT slice, {pct("throughput_bps", 0.5, d)} AS m
      FROM hourly GROUP BY slice
    ),
    signed AS (
      SELECT h.slice,
        CASE WHEN h.throughput_bps > med.m THEN 1 ELSE 0 END AS s,
        lag(CASE WHEN h.throughput_bps > med.m THEN 1 ELSE 0 END)
          OVER (PARTITION BY h.slice ORDER BY h.h) AS prev_s
      FROM hourly h JOIN med ON med.slice = h.slice
    ),
    rolled AS (
      SELECT
        slice,
        CAST(count(*) AS DOUBLE) AS n,
        CAST(sum(s) AS DOUBLE) AS n1,
        CAST(count(*) - sum(s) AS DOUBLE) AS n0,
        CAST(1 + sum(CASE WHEN prev_s IS NOT NULL AND s <> prev_s
                          THEN 1 ELSE 0 END) AS DOUBLE) AS runs
      FROM signed
      GROUP BY slice
      HAVING count(*) >= 2
    ),
    scored AS (
      SELECT
        slice, n, n1, n0, runs,
        1.0 + 2.0 * n1 * n0 / n AS e_runs,
        2.0 * n1 * n0 * (2.0 * n1 * n0 - n) / (n * n * (n - 1.0)) AS var_runs
      FROM rolled
    )
    SELECT
      slice,
      {cnt("n", "n_hours")},
      {cnt("runs", "n_runs")},
      {dbl("e_runs", "expected_runs")},
      {dbl(
          "CASE WHEN var_runs > 1e-12 THEN (runs - e_runs) / sqrt(var_runs) END",
          "z_stat",
      )},
      (abs(CASE WHEN var_runs > 1e-12
                THEN round((runs - e_runs) / sqrt(var_runs) + {NUDGE}, 4)
                ELSE 0.0 END) > 1.96) AS non_random
    FROM scored
    ORDER BY slice
    """


def _kl_weekly_mix_sql(d: str) -> str:
    # D59 — weekly event-type mix drift: KL(week ‖ all-time) per
    # calendar week, in nats — the categorical-composition drift
    # monitor over TIME (E75 runs the same math over sources; D27's
    # PSI covers numeric features).  Monday-start weeks via the shared
    # +3-day epoch arithmetic (the D47 landmine).  E75's parity
    # discipline verbatim: shares floored at 1e-4 and rounded to 6 dp
    # BEFORE ln, so both engines take logs of identical doubles.  Each
    # week also reports its most divergent type (max p·ln(p/q), ties
    # on type name).
    #
    # Scale: one events scan → (week, type) hash-agg; window marginals
    # and the KL rollup run on |weeks|·|types| rows.
    week = f"CAST(floor((floor({epoch('ts', d)} / 86400.0) + 3) / 7.0) AS BIGINT)"
    p = "round(greatest(c / CAST(w_total AS DOUBLE), 1e-4) + 1e-12, 6)"
    q = "round(greatest(t_total / CAST(n AS DOUBLE), 1e-4) + 1e-12, 6)"
    return f"""
    WITH cells AS (
      SELECT {week} AS week_idx, event_type, count(*) AS c
      FROM events
      GROUP BY {week}, event_type
    ),
    marg AS (
      SELECT
        week_idx, event_type, c,
        sum(c) OVER (PARTITION BY week_idx) AS w_total,
        sum(c) OVER (PARTITION BY event_type) AS t_total,
        sum(c) OVER () AS n
      FROM cells
    ),
    contrib AS (
      SELECT
        week_idx, event_type, c, w_total,
        round({p} * ln({p} / {q}) + {NUDGE}, 6) AS kl_term
      FROM marg
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY week_idx
                           ORDER BY kl_term DESC, event_type) AS rk
      FROM contrib
    )
    SELECT
      {cnt("week_idx", "week_idx")},
      {cnt("max(w_total)", "n_events")},
      {dbl("sum(kl_term)", "kl_nats")},
      max(CASE WHEN rk = 1 THEN event_type END) AS most_divergent_type
    FROM ranked
    GROUP BY week_idx
    ORDER BY week_idx
    """


def _theils_u_sql(d: str) -> str:
    # D56 — forecast BIAS + Theil's U per slice for the 24-hour
    # seasonal-naive forecaster: D13's seasonal_naive_eval reports only
    # RMSE/MAE (magnitude); this adds the SIGN (mean error / mean
    # percentage error — a forecaster can have small RMSE and still
    # bleed systematically) and Theil's U₂ = RMSE(seasonal) /
    # RMSE(random-walk), the unit-free "does seasonality beat simply
    # repeating the last hour" verdict (U < 1 = yes).  Evaluated only
    # on hours where BOTH predictors exist, so the ratio compares like
    # with like.
    #
    # Scale: one events scan → hourly frame → two lag windows on the
    # tiny series; rollup is |slices| rows.
    return f"""
    {_hourly_cte(d)},
    lagged AS (
      SELECT
        slice,
        throughput_bps AS v,
        lag(throughput_bps, 24) OVER (PARTITION BY slice ORDER BY h) AS s24,
        lag(throughput_bps, 1) OVER (PARTITION BY slice ORDER BY h) AS n1
      FROM hourly
    ),
    scored AS (
      SELECT * FROM lagged WHERE s24 IS NOT NULL AND n1 IS NOT NULL
    )
    SELECT
      slice,
      {cnt("count(*)", "n_eval")},
      {dbl("avg(v - s24)", "mean_error")},
      {dbl("avg((v - s24) / nullif(v, 0.0)) * 100.0", "mpe_pct")},
      {dbl("avg(abs(v - s24) / nullif(abs(v), 0.0)) * 100.0", "mape_pct")},
      {dbl("sqrt(avg((v - s24) * (v - s24)))", "rmse_seasonal")},
      {dbl("sqrt(avg((v - n1) * (v - n1)))", "rmse_naive1")},
      {dbl(
          "sqrt(avg((v - s24) * (v - s24)))"
          " / nullif(sqrt(avg((v - n1) * (v - n1))), 0.0)",
          "theils_u2",
      )},
      (round(sqrt(avg((v - s24) * (v - s24)))
             / nullif(sqrt(avg((v - n1) * (v - n1))), 0.0) + {NUDGE}, 4)
         < 1.0) AS seasonal_beats_naive
    FROM scored
    GROUP BY slice
    ORDER BY slice
    """


def _wilcoxon_sql(d: str) -> str:
    # D60 — Wilcoxon SIGNED-RANK weekday-vs-weekend contrast per slice:
    # the PAIRED nonparametric twin of D47's (unpaired) Welch test —
    # pairing on hour-of-day removes the diurnal variance Welch must
    # absorb, so a genuine weekend effect shows with far fewer hours.
    # Pairs: per (slice, hour-of-day), mean weekday vs mean weekend
    # throughput (both 4-dp-rounded; ≤ 24 pairs/slice); zero
    # differences drop (the standard Wilcoxon convention), |d| gets
    # D33's exact midrank window arithmetic, and
    #   z = (W₊ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 − Σ(t³−t)/48)
    # with the all-tied variance-0 degenerate guarded to z = 0.
    #
    # Scale: one events scan → hourly frame → 24-row pair frame per
    # slice; every window runs on ≤ 24·|slices| rows.
    wd = f"((floor({epoch('h', d)} / 86400.0) + 3) % 7)"  # 0 = Monday
    return f"""
    {_hourly_cte(d)},
    paired AS (
      SELECT
        slice,
        hour(h) AS hod,
        round(avg(CASE WHEN {wd} <= 4 THEN throughput_bps END) + {NUDGE}, 4)
          AS v_wd,
        round(avg(CASE WHEN {wd} >= 5 THEN throughput_bps END) + {NUDGE}, 4)
          AS v_we
      FROM hourly
      GROUP BY slice, hour(h)
    ),
    diffs AS (
      SELECT slice, hod,
        v_wd - v_we AS diff,
        abs(v_wd - v_we) AS ad
      FROM paired
      WHERE v_wd IS NOT NULL AND v_we IS NOT NULL AND v_wd <> v_we
    ),
    ranked AS (
      SELECT slice, diff, ad,
        sum(1.0) OVER (
          PARTITION BY slice ORDER BY ad
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
        - count(*) OVER (PARTITION BY slice, ad)
        + (count(*) OVER (PARTITION BY slice, ad) + 1.0) / 2.0 AS midrank
      FROM diffs
    ),
    ties AS (
      SELECT slice, sum(t * t * t - t) AS tie_cubes
      FROM (
        SELECT slice, ad, CAST(count(*) AS DOUBLE) AS t
        FROM diffs GROUP BY slice, ad
      ) g GROUP BY slice
    ),
    stat AS (
      SELECT
        r.slice,
        CAST(count(*) AS DOUBLE) AS n,
        sum(CASE WHEN r.diff > 0 THEN r.midrank ELSE 0.0 END) AS w_plus,
        max(t.tie_cubes) AS tie_cubes
      FROM ranked r JOIN ties t ON t.slice = r.slice
      GROUP BY r.slice
    )
    SELECT
      slice,
      {cnt("n", "n_pairs")},
      {dbl("w_plus", "w_plus")},
      {dbl("n * (n + 1.0) / 4.0", "expected_w")},
      {dbl(
          "CASE WHEN n * (n + 1.0) * (2.0 * n + 1.0) / 24.0"
          " - tie_cubes / 48.0 > 1e-12"
          " THEN (w_plus - n * (n + 1.0) / 4.0)"
          " / sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 - tie_cubes / 48.0)"
          " END",
          "z_stat",
      )},
      (abs(CASE WHEN n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                     - tie_cubes / 48.0 > 1e-12
                THEN round((w_plus - n * (n + 1.0) / 4.0)
                     / sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                            - tie_cubes / 48.0) + {NUDGE}, 4)
                ELSE 0.0 END) > 1.96) AS weekend_effect
    FROM stat
    ORDER BY slice
    """


def _arch_lm_sql(d: str) -> str:
    # D61 — Engle's ARCH LM test per slice (Engle 1982, lag-1 form):
    # regress the squared mean residual on its own lag; LM = n·R²
    # against χ²₁ (3.84 at 5%).  Volatility CLUSTERING is invisible to
    # every level diagnostic in this file — D45 whitens the MEAN, this
    # whitens the VARIANCE — and it is exactly what breaks the constant-
    # variance assumption under B18's CUSUM and C30's z thresholds.
    # Shares D57's residual convention VERBATIM (_resid_ctes) and C44's
    # guarded closed-form R² (stats_assoc._OLS_R2 over the same sums
    # naming).
    #
    # Scale: one events scan → hourly frame → one lag window per slice
    # on the tiny series; the regression is a |slices|-row reduce.
    from fiveg_spark.operators.stats_assoc import _OLS_R2, _OLS_SLOPE

    return f"""
    {_hourly_cte(d)},
    {_resid_ctes(d)},
    sq AS (
      SELECT slice, h, r * r AS r2 FROM resid
    ),
    lagged AS (
      SELECT slice,
        r2 AS y,
        lag(r2) OVER (PARTITION BY slice ORDER BY h) AS x
      FROM sq
    ),
    sums AS (
      SELECT
        slice,
        CAST(count(*) AS DOUBLE) AS n,
        sum(x) AS sx, sum(y) AS sy,
        sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM lagged
      WHERE x IS NOT NULL
      GROUP BY slice
      HAVING count(*) >= 3
    )
    SELECT
      slice,
      {cnt("n", "n_obs")},
      {dbl(_OLS_SLOPE, "arch_slope")},
      {dbl(_OLS_R2, "r2")},
      {dbl(f"n * ({_OLS_R2})", "lm_stat")},
      (round(n * ({_OLS_R2}) + {NUDGE}, 4) > 3.84) AS arch_present
    FROM sums
    ORDER BY slice
    """


def _seasonal_mk_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D62 — SEASONAL Mann-Kendall per slice (Hirsch & Slack 1984, the
    # independence form): D52's S and tie-corrected variance computed
    # WITHIN each hour-of-day season and summed — the trend test that
    # stays valid under the strong diurnal cycle D42 measures, where
    # plain MK reads the cycle itself as pair mass.  Per slice:
    # S_total = Σ_g S_g, Var_total = Σ_g Var_g, continuity-corrected
    # z, verdict at 1.96 with direction tags.
    #
    # Scale: the seasonal pair set is O(Σ n_g²) on the tiny hourly
    # rollup (24 blocks of ~30 points/month) — far SMALLER than D52's
    # full pair set; materialized (the D52 rule: three references).
    series_sql = f"""
    {_hourly_cte(d)}
    SELECT slice, hour(h) AS season, {epoch("h", d)} AS th,
           throughput_bps AS v
    FROM hourly
    """
    tail = f"""
    WITH s_stat AS (
      SELECT
        a.slice,
        sum(CASE WHEN b.v > a.v THEN 1
                 WHEN b.v < a.v THEN -1 ELSE 0 END) AS s,
        count(*) AS n_pairs
      FROM _mz_smk_series a
      JOIN _mz_smk_series b
        ON b.slice = a.slice AND b.season = a.season AND b.th > a.th
      GROUP BY a.slice
    ),
    per_season AS (
      SELECT slice, season, CAST(count(*) AS DOUBLE) AS n_g
      FROM _mz_smk_series GROUP BY slice, season
    ),
    tie_terms AS (
      SELECT slice, season,
             sum(t * (t - 1.0) * (2.0 * t + 5.0)) AS tie_term
      FROM (
        SELECT slice, season, v, CAST(count(*) AS DOUBLE) AS t
        FROM _mz_smk_series GROUP BY slice, season, v
      ) g
      WHERE t > 1
      GROUP BY slice, season
    ),
    var_stat AS (
      SELECT
        p.slice,
        sum((p.n_g * (p.n_g - 1.0) * (2.0 * p.n_g + 5.0)
             - coalesce(t.tie_term, 0.0)) / 18.0) AS var_s,
        sum(p.n_g) AS n
      FROM per_season p
      LEFT JOIN tie_terms t ON t.slice = p.slice AND t.season = p.season
      GROUP BY p.slice
    ),
    scored AS (
      SELECT
        v.slice, v.n, v.var_s, s.s, s.n_pairs,
        CASE WHEN v.var_s > 1e-12 THEN
          CASE WHEN s.s > 0 THEN (s.s - 1.0) / sqrt(v.var_s)
               WHEN s.s < 0 THEN (s.s + 1.0) / sqrt(v.var_s)
               ELSE 0.0 END
        ELSE 0.0 END AS z
      FROM var_stat v JOIN s_stat s ON s.slice = v.slice
    )
    SELECT
      slice,
      {cnt("n", "n_hours")},
      {cnt("n_pairs", "n_seasonal_pairs")},
      {cnt("s", "s_stat")},
      {dbl("var_s", "var_s")},
      {dbl("z", "z_stat")},
      CASE WHEN abs(round(z + {NUDGE}, 4)) <= 1.96 THEN 'none'
           WHEN s > 0 THEN 'increasing' ELSE 'decreasing' END AS trend
    FROM scored
    ORDER BY slice
    """
    return [("_mz_smk_series", series_sql)], tail


def _pacf_sql(d: str) -> str:
    # D63 — partial autocorrelation at lags 1-3 per slice via the
    # Durbin-Levinson recursion UNROLLED (Box & Jenkins ch. 3): the
    # order-selection evidence D13's raw ACF can't give — ACF at lag 3
    # can be large purely through lag-1 propagation; PACF(3) is the
    # lag-3 effect with lags 1-2 partialled out, and the AR(p) cutoff
    # read directly supports train.py's p=3 choice next to D49's
    # information criteria.  ρ_k is D45's CLASSICAL autocorrelation
    # (shared centered-SS denominator); each ρ rounds to 6 dp before
    # the recursion so both engines run identical rationals through
    #   φ₁₁=ρ₁;  φ₂₂=(ρ₂−ρ₁²)/(1−ρ₁²);  φ₂₁=ρ₁(1−φ₂₂);
    #   φ₃₃=(ρ₃−φ₂₁ρ₂−φ₂₂ρ₁)/(1−φ₂₁ρ₁−φ₂₂ρ₂)
    # with zero-denominator degenerates guarded to 0.  Significance
    # bands at ±1.96/√n.
    #
    # Scale: one scan → hourly → lag windows on the tiny series.
    lags = ", ".join(
        f"lag(h.throughput_bps, {k}) OVER (PARTITION BY h.slice ORDER BY h.h)"
        f" AS v{k}"
        for k in (1, 2, 3)
    )
    rho_terms = ", ".join(
        f"round(sum(CASE WHEN v{k} IS NOT NULL THEN (v - vbar) * (v{k} - vbar)"
        f" ELSE 0.0 END) / nullif(sum((v - vbar) * (v - vbar)), 0.0)"
        f" + {NUDGE}, 6) AS rho{k}"
        for k in (1, 2, 3)
    )
    phi22 = "(CASE WHEN abs(1.0 - rho1 * rho1) > 1e-9 THEN (rho2 - rho1 * rho1) / (1.0 - rho1 * rho1) ELSE 0.0 END)"
    phi21 = f"(rho1 * (1.0 - {phi22}))"
    phi33_num = f"(rho3 - {phi21} * rho2 - {phi22} * rho1)"
    phi33_den = f"(1.0 - {phi21} * rho1 - {phi22} * rho2)"
    phi33 = (
        f"(CASE WHEN abs({phi33_den}) > 1e-9 THEN {phi33_num} / {phi33_den}"
        f" ELSE 0.0 END)"
    )
    return f"""
    {_hourly_cte(d)},
    mu AS (
      SELECT slice, round(avg(throughput_bps) + {NUDGE}, 4) AS vbar
      FROM hourly GROUP BY slice
    ),
    lagged AS (
      SELECT h.slice, h.throughput_bps AS v, mu.vbar, {lags}
      FROM hourly h JOIN mu ON mu.slice = h.slice
    ),
    rhos AS (
      SELECT slice, CAST(count(*) AS DOUBLE) AS n, {rho_terms}
      FROM lagged
      GROUP BY slice
      HAVING count(*) >= 5
    )
    SELECT
      slice,
      {cnt("n", "n_hours")},
      {dbl("rho1", "pacf_lag1")},
      {dbl(phi22, "pacf_lag2")},
      {dbl(phi33, "pacf_lag3")},
      {dbl("1.96 / sqrt(n)", "sig_band")},
      (abs(round(rho1 + {NUDGE}, 4)) > 1.96 / sqrt(n)) AS lag1_sig,
      (abs(round({phi22} + {NUDGE}, 4)) > 1.96 / sqrt(n)) AS lag2_sig,
      (abs(round({phi33} + {NUDGE}, 4)) > 1.96 / sqrt(n)) AS lag3_sig
    FROM rhos
    ORDER BY slice
    """


def _quantile_drift_sql(d: str) -> str:
    # D64 — weekly VALUE-quantile drift per event type: p50/p90/p99 of
    # value per (type, Monday-start week) against the type's all-time
    # quantiles, with band-shift ratios and a drift flag when the
    # weekly p90 leaves ±25% of the reference — the numeric-quantile
    # drift monitor between D59's categorical KL and D27's binned PSI
    # (tail quantiles move FIRST under load-pattern change; means and
    # bins lag).  Weekly and reference quantiles both interpolate
    # identically (pct()), ratios nullif-guarded.
    #
    # Scale: one scan → (type, week) percentile agg (partial-agg
    # friendly at contract scale; the 100 TB path feeds C64's t-digest
    # rollup instead — this is the exact form it approximates), then a
    # broadcast join against the |types|-row reference frame.
    week = f"CAST(floor((floor({epoch('ts', d)} / 86400.0) + 3) / 7.0) AS BIGINT)"
    return f"""
    WITH weekly AS (
      SELECT
        event_type,
        {week} AS week_idx,
        count(*) AS n_events,
        {pct("value", 0.5, d)} AS p50,
        {pct("value", 0.9, d)} AS p90,
        {pct("value", 0.99, d)} AS p99
      FROM events
      GROUP BY event_type, {week}
    ),
    ref AS (
      SELECT
        event_type,
        {pct("value", 0.5, d)} AS r50,
        {pct("value", 0.9, d)} AS r90,
        {pct("value", 0.99, d)} AS r99
      FROM events
      GROUP BY event_type
    )
    SELECT
      w.event_type,
      {cnt("w.week_idx", "week_idx")},
      {cnt("w.n_events", "n_events")},
      {dbl("w.p50", "p50")},
      {dbl("w.p90", "p90")},
      {dbl("w.p99", "p99")},
      {dbl("w.p50 / nullif(r.r50, 0.0)", "p50_ratio")},
      {dbl("w.p90 / nullif(r.r90, 0.0)", "p90_ratio")},
      {dbl("w.p99 / nullif(r.r99, 0.0)", "p99_ratio")},
      (abs(round(w.p90 / nullif(r.r90, 0.0) + {NUDGE}, 4) - 1.0) > 0.25)
        AS p90_drifted
    FROM weekly w
    JOIN ref r ON r.event_type = w.event_type
    ORDER BY w.event_type, w.week_idx
    """


def _error_pchart_sql(d: str) -> str:
    # D67 — p-chart on the daily error-event share (Shewhart attribute
    # control chart, the SPC classic): daily p̂ against the pooled
    # baseline p̄ with 3σ binomial limits p̄ ± 3·√(p̄(1−p̄)/nᵢ) — the
    # error-budget monitor between B19's SLO burn rate (threshold
    # semantics) and D39's Page-Hinkley (sequential semantics); a
    # p-chart catches single-day excursions with per-day sample-size-
    # aware limits.  One daily agg; the baseline is a 1-row aggregate
    # cross-joined back (broadcast).
    ep = epoch("ts", d)
    err = "CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS DOUBLE)"
    sig = "sqrt(b.pbar * (1.0 - b.pbar) / dd.n)"
    return f"""
    WITH daily AS (
      SELECT
        CAST(floor({ep} / 86400.0) AS BIGINT) AS day,
        CAST(count(*) AS DOUBLE) AS n,
        sum({err}) AS n_err
      FROM events
      GROUP BY CAST(floor({ep} / 86400.0) AS BIGINT)
    ),
    base AS (
      SELECT sum(n_err) / sum(n) AS pbar FROM daily
    )
    SELECT
      dd.day,
      {cnt("dd.n", "n_events")},
      {cnt("dd.n_err", "n_errors")},
      {dbl("dd.n_err / dd.n", "p_hat")},
      {dbl("b.pbar", "p_baseline")},
      {dbl(f"b.pbar + 3.0 * {sig}", "ucl")},
      {dbl(f"greatest(b.pbar - 3.0 * {sig}, 0.0)", "lcl")},
      (round(dd.n_err / dd.n + {NUDGE}, 4)
         > round(b.pbar + 3.0 * {sig} + {NUDGE}, 4)) AS above_ucl,
      (round(dd.n_err / dd.n + {NUDGE}, 4)
         < round(greatest(b.pbar - 3.0 * {sig}, 0.0) + {NUDGE}, 4))
        AS below_lcl
    FROM daily dd
    CROSS JOIN base b
    ORDER BY dd.day
    """


QUERIES = [
    sql_backed("error_rate_pchart", _error_pchart_sql, ("events",)),
    sql_backed("acf_throughput", _acf_sql, ("events",)),
    sql_backed("theils_u_eval", _theils_u_sql, ("events",)),
    sql_backed("arch_lm_test", _arch_lm_sql, ("events",)),
    materialized_backed(
        "seasonal_mann_kendall", _seasonal_mk_parts, ("events",),
    ),
    sql_backed("pacf_lags", _pacf_sql, ("events",)),
    sql_backed("quantile_band_drift", _quantile_drift_sql, ("events",)),
    sql_backed("wilcoxon_signed_rank", _wilcoxon_sql, ("events",)),
    sql_backed("poisson_dispersion", _poisson_dispersion_sql, ("events",)),
    sql_backed("jarque_bera", _jarque_bera_sql, ("events",)),
    sql_backed("runs_test", _runs_test_sql, ("events",)),
    sql_backed("kl_weekly_mix", _kl_weekly_mix_sql, ("events",)),
    sql_backed("ljung_box", _ljung_box_sql, ("events",)),
    sql_backed("welch_weekend_contrast", _welch_sql, ("events",)),
    sql_backed("cusum_drift", _cusum_sql, ("events",)),
    sql_backed("seasonal_naive_eval", _seasonal_naive_sql, ("events",)),
    sql_backed("seasonal_profile", _seasonal_profile_sql, ("events",)),
    sql_backed("rolling_median_throughput", _rolling_median_sql, ("events",)),
    sql_backed("best_changepoint", _changepoint_sql, ("events",)),
    materialized_backed(
        "iat_exponential_fit", _iat_exponential_fit_parts, ("events",),
    ),
    materialized_backed(
        "feature_drift_psi", _psi_parts, ("events",),
    ),
    sql_backed("conformal_intervals", _conformal_sql, ("events",)),
    materialized_backed("ks_two_sample", _ks_parts, ("events",)),
    materialized_backed("mann_whitney_shift", _mw_parts, ("events",)),
    materialized_backed("theilsen_trend", _theilsen_parts, ("events",)),
    sql_backed("conformal_alpha_sweep", _conformal_sweep_sql, ("events",)),
    sql_backed("iat_burstiness", _iat_burstiness_sql, ("events",)),
    sql_backed("page_hinkley_drift", _page_hinkley_sql, ("events",)),
    materialized_backed("cramer_von_mises", _cvm_parts, ("events",)),
    sql_backed(
        "calendar_outlier_days", _calendar_outlier_sql, ("events",),

    ),
    materialized_backed(
        "model_router", _model_router_parts, ("events",),
    ),
    sql_backed(
        "diebold_mariano", _diebold_mariano_sql, ("events",),
    ),
    materialized_backed(
        "mann_kendall_trend", _mann_kendall_parts, ("events",),
    ),
]


def _ljung_box_decisions_sql(d: str) -> str:
    # D87 — Ljung-Box decisions with EXACT p-values + BH screening
    # (r11: the chi-square half of the p-value unlock, beside D86's
    # normal half).  D45 compares Q against one fixed 5% point; this
    # turns each slice's Q into an exact chi2(6) survival p (even-dof
    # Erlang tail, functions/stats.py::chi2_sf_sql — one SQL text both
    # engines) and runs the Benjamini-Hochberg step-up across the
    # slices, so the whiteness verdicts carry multiplicity control.
    #
    # p computes from the ROUNDED Q (engine-identical input, the D45
    # verdict discipline) and decisions compare rounded p to rounded
    # critical; all windows ride the <= |slices| rollup.
    from fiveg_spark.functions.stats import chi2_sf_sql

    q_rounded = f"round(q_stat + {NUDGE}, 4)"
    return f"""
    WITH lb AS (
      SELECT slice, n_hours, q_stat FROM (
        {_ljung_box_sql(d)}
      ) s0
    ),
    pvals AS (
      SELECT slice, n_hours, q_stat,
        round({chi2_sf_sql(q_rounded, 6)} + {NUDGE}, 6) AS p6
      FROM lb
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (ORDER BY p6, slice) AS rk,
        CAST(count(*) OVER () AS DOUBLE) AS m
      FROM pvals
    ),
    crit AS (
      SELECT *, round(rk * 0.05 / m + {NUDGE}, 6) AS bh_crit6 FROM ranked
    ),
    stepped AS (
      SELECT *,
        max(CASE WHEN p6 <= bh_crit6 THEN rk ELSE 0 END) OVER () AS k_max
      FROM crit
    )
    SELECT
      slice,
      {cnt("n_hours", "n_hours")},
      {dbl("q_stat", "q_stat")},
      CAST(p6 + 0.0 AS DOUBLE) AS p_chi2_6,
      {cnt("rk", "p_rank")},
      CAST(bh_crit6 + 0.0 AS DOUBLE) AS bh_critical,
      CAST(rk <= k_max AS BOOLEAN) AS autocorrelated_discovery
    FROM stepped
    ORDER BY slice
    """


QUERIES.append(
    sql_backed("ljung_box_decisions", _ljung_box_decisions_sql, ("events",))
)
