"""Extended analytics shapes: multi-grouping, set ops, TS smoothing/anomaly.

SURVEY §2 C26-C31 + E16.  All shared-text SQL except the array-HOF query
(Spark `aggregate` lambda ↔ DuckDB `list_*`).

Scale notes: GROUPING SETS / CUBE expand per grouping set BEFORE the
shuffle (Spark's Expand operator) — one pass over the fact table, k×
map-side rows, still a single shuffle keyed by the padded group key.
INTERSECT/EXCEPT lower to distinct + semi/anti hash joins on the
already-distinct year cohorts (small relative to orders).  EWMA and
z-score run over the day-level aggregate (one shuffle over events, then
window/join plans on ~#days × #types rows).
"""

from __future__ import annotations

from fiveg_spark.operators.kpi import flows_cte
from fiveg_spark.plans.registry import NUDGE, Query, cnt, dbl, epoch, materialized_backed, pct, sql_backed

# Day-level value series per event_type; measure rounded so every
# downstream window sees identical inputs in both engines.
_DAILY = f"""
    daily AS (
      SELECT
        event_type,
        CAST(date_trunc('day', ts) AS DATE) AS day,
        CAST(round(sum(value) + {NUDGE}, 4) AS DOUBLE) AS v
      FROM events
      GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
    )"""


def _grouping_sets_sql(d: str) -> str:
    # C26: explicit GROUPING SETS lattice with grouping() disambiguation
    # flags (NULL group key vs NULL-from-padding).
    return f"""
    SELECT
      l_returnflag, l_linestatus,
      {cnt("grouping(l_returnflag)", "g_rf")},
      {cnt("grouping(l_linestatus)", "g_ls")},
      {cnt("count(*)", "n_items")},
      {dbl("sum(l_extendedprice * (1 - l_discount))", "revenue")}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                            (l_linestatus), ())
    """


def _cube_sql(d: str) -> str:
    # C27: full CUBE over (event_type, month) — all 4 grouping sets.
    return f"""
    WITH monthly AS (
      SELECT event_type, CAST(date_trunc('month', ts) AS DATE) AS month, value
      FROM events
    )
    SELECT
      event_type,
      coalesce(CAST(month AS STRING), 'ALL') AS month,
      {cnt("grouping(event_type)", "g_type")},
      {cnt("grouping(month)", "g_month")},
      {cnt("count(*)", "n_events")},
      {dbl("sum(value)", "total_value")}
    FROM monthly
    GROUP BY CUBE (event_type, month)
    """


def _set_ops_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C28: INTERSECT / EXCEPT cohort arithmetic on year-active customers
    # (lowers to distinct + semi/anti hash joins).  The two year sets are
    # each referenced by three set-op branches — materialized_backed so
    # Spark scans orders twice total, not six times.
    def year_sql(y: int) -> str:
        return f"""
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '{y}-01-01'
        AND o_orderdate < TIMESTAMP '{y + 1}-01-01'
    """

    tail = f"""
    SELECT 'retained' AS cohort, {cnt("count(*)", "n_customers")}
    FROM (SELECT o_custkey FROM _mz_so_y97 INTERSECT SELECT o_custkey FROM _mz_so_y98) t
    UNION ALL
    SELECT 'churned' AS cohort, {cnt("count(*)", "n_customers")}
    FROM (SELECT o_custkey FROM _mz_so_y97 EXCEPT SELECT o_custkey FROM _mz_so_y98) t
    UNION ALL
    SELECT 'new' AS cohort, {cnt("count(*)", "n_customers")}
    FROM (SELECT o_custkey FROM _mz_so_y98 EXCEPT SELECT o_custkey FROM _mz_so_y97) t
    """
    return [("_mz_so_y97", year_sql(1997)), ("_mz_so_y98", year_sql(1998))], tail


def _ewma_sql(d: str) -> str:
    # C29: EWMA (pandas adjust=True semantics) as ONE window pass via the
    # scaled-cumsum identity:  Σ v_i·r^(t-i) = r^t · Σ v_i·r^(-i).
    # pow(r,-rn) grows as r^-days — safe for day-granularity series
    # (r=0.8, 365 days → 4e35 ≪ double max; do NOT reuse at second
    # granularity without re-deriving the range).  Terms the scaling
    # drowns (beyond ~150 days back) are exactly the terms EWMA itself
    # has already damped below double precision.
    r = "0.8"
    return f"""
    WITH {_DAILY},
    numbered AS (
      SELECT *,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS INT) AS rn
      FROM daily
    ),
    scaled AS (
      SELECT *,
        sum(v * power({r}, -rn)) OVER (
          PARTITION BY event_type ORDER BY rn
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM numbered
    )
    SELECT
      event_type, day, v AS daily_value,
      {dbl(f"power({r}, rn) * s * (1 - {r}) / (1 - power({r}, rn + 1))", "ewma")}
    FROM scaled
    """


def _zscore_sql(d: str) -> str:
    # C30: z-score anomalies vs the per-type distribution.  Sample std
    # from Σx, Σx² (explicit formula — engine-identical, see §4 rules);
    # the |z|>2 filter runs on the ROUNDED z so both engines apply an
    # identical predicate to an identical value.
    #
    # r14 two-pass A/B (10x events, noop sink, interleaved 5 reps,
    # local[32]): this scan-twice shape 0.618 s vs a window-over-daily
    # variant 0.640 s (results proven frame-equal) — flat, because the
    # daily reduce is cheap next to the scan; the shape is kept as the
    # certified text (the window variant's one saved reduce pass is
    # real at 100 TB but unresolvable above this box's noise floor).
    # n = 1 guard: (n - 1) = 0 divides by zero under ANSI; a single
    # observation has z = 0 by definition (v = mean), so the CASE keeps
    # the expression total without changing any multi-row result
    z = (
        "round((v - s1 / n) /"
        " sqrt(greatest(CASE WHEN n <= 1 THEN 0.0"
        " ELSE (s2 - s1 * s1 / n) / (n - 1) END, 1e-12))"
        f" + {NUDGE}, 4)"
    )
    return f"""
    WITH {_DAILY},
    stats AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             sum(v) AS s1,
             sum(v * v) AS s2
      FROM daily GROUP BY event_type
    ),
    scored AS (
      SELECT d.event_type, d.day, d.v, CAST({z} AS DOUBLE) AS z
      FROM daily d JOIN stats s ON d.event_type = s.event_type
    )
    SELECT event_type, day,
           CAST(v AS DOUBLE) AS daily_value,
           CAST(z AS DOUBLE) AS zscore
    FROM scored
    WHERE abs(z) > 2.0
    """


def _mode_sql(d: str) -> str:
    # C31: modal event_type per day (count-rank with deterministic
    # tiebreak — never engine-native mode(), whose ties are unspecified).
    return f"""
    WITH c AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n
      FROM events
      GROUP BY CAST(date_trunc('day', ts) AS DATE), event_type
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rnk
      FROM c
    )
    SELECT day, event_type AS modal_type, {cnt("n", "n_events")}
    FROM ranked WHERE rnk = 1
    """


def _emb_norm_sql(d: str) -> str:
    # E16: array higher-order functions stay engine-side in BOTH engines
    # (Spark lambda `aggregate` in codegen, DuckDB list_* kernels) — the
    # pattern every embedding-column metric builds on.  float32 elements
    # are cast to double BEFORE squaring so both engines square the same
    # value.
    if d == "spark":
        norm = (
            "sqrt(aggregate(CAST(embedding AS ARRAY<DOUBLE>), 0D,"
            " (acc, x) -> acc + x * x))"
        )
        first = "CAST(element_at(embedding, 1) AS DOUBLE)"
        dim = "size(embedding)"
    else:
        norm = (
            "sqrt(list_sum(list_transform(embedding,"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )
        first = "CAST(embedding[1] AS DOUBLE)"
        dim = "len(embedding)"
    return f"""
    SELECT
      label,
      {cnt("count(*)", "n_vecs")},
      {cnt(f"max({dim})", "dim")},
      {dbl(f"avg({norm})", "avg_norm")},
      {dbl(f"min({norm})", "min_norm")},
      {dbl(f"max({norm})", "max_norm")},
      {dbl(f"avg({first})", "avg_first_dim")}
    FROM embeddings
    GROUP BY label
    """


def _winsorized_stats_sql(d: str) -> str:
    # C35 — winsorized mean/std per event_type: clip at the exact
    # p05/p95 (interpolated, identical in both engines per B4), then
    # aggregate the clipped values — the robust-stats companion to the
    # trimmed z-score pass.  Percentiles are rounded before clipping so
    # both engines clip identical doubles.
    #
    # r14 two-pass A/B (10x events, noop sink, interleaved 5 reps,
    # local[32]): scan-twice 1.219 s vs a percentile-window variant
    # 0.843 s (frame-equal results).  The window variant measured
    # FASTER here and was still REJECTED: it shuffles the whole fact
    # table into |event_type| (~5) window partitions — at 100 TB that
    # serializes the corpus through a handful of tasks (guide §2.5
    # skew), exactly the local[32]-only win the round rules exclude.
    # The two-scan shape keeps the fact table un-shuffled: pass 1
    # reduces to a |types|-row bounds frame, pass 2 re-scans with the
    # bounds broadcast (§2.3 — shuffle bytes, not scans, are the
    # scarce resource).
    p05 = pct("value", 0.05, d)
    p95 = pct("value", 0.95, d)
    return f"""
    WITH bounds AS (
      SELECT
        event_type,
        round({p05} + 1e-9, 4) + 0.0 AS lo,
        round({p95} + 1e-9, 4) + 0.0 AS hi
      FROM events
      GROUP BY event_type
    ),
    clipped AS (
      SELECT
        e.event_type,
        least(greatest(e.value, b.lo), b.hi) AS v,
        CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END AS was_clipped
      FROM events e JOIN bounds b ON e.event_type = b.event_type
    )
    SELECT
      event_type,
      {cnt("count(*)", "n")},
      {cnt("sum(was_clipped)", "n_clipped")},
      {dbl("avg(v)", "winsorized_mean")},
      {dbl("sqrt(avg(v * v) - avg(v) * avg(v))", "winsorized_std")}
    FROM clipped
    GROUP BY event_type
    """


def _mad_outliers_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C36 — median absolute deviation (MAD) robust outlier counts per
    # event_type: |x - median| > 3 * 1.4826 * MAD.  Double exact-median
    # pass (value median, then deviation median) — the holistic-agg
    # stress test; thresholds rounded before comparison (parity rule).
    # The deviation frame feeds BOTH the MAD aggregation and the outlier
    # count — materialized_backed so Spark computes it once instead of
    # re-running the events scan + median join per reference.
    med_v = pct("value", 0.5, d)
    med_dev = pct("abs_dev", 0.5, d)
    # the per-type value median rides INSIDE the deviation job (r13
    # fold: it has exactly one consumer, so an eager materialization
    # paid a job + checkpoint for nothing)
    devs_sql = f"""
      WITH med AS (
        SELECT event_type, round({med_v} + 1e-9, 4) + 0.0 AS m
        FROM events GROUP BY event_type
      )
      SELECT
        e.event_type,
        e.value,
        m.m,
        abs(e.value - m.m) AS abs_dev
      FROM events e JOIN med m ON e.event_type = m.event_type
    """
    tail = f"""
    WITH mad AS (
      SELECT event_type, round({med_dev} + 1e-9, 4) + 0.0 AS mad_val
      FROM _mz_mad_devs GROUP BY event_type
    )
    SELECT
      d.event_type,
      {dbl("min(d.m)", "median_value")},
      {dbl("min(md.mad_val)", "mad")},
      {cnt("count(*)", "n")},
      {cnt("sum(CASE WHEN d.abs_dev > round(3 * 1.4826 * md.mad_val + 1e-9, 4) + 0.0 THEN 1 ELSE 0 END)", "n_outliers")}
    FROM _mz_mad_devs d JOIN mad md ON d.event_type = md.event_type
    GROUP BY d.event_type
    """
    return [("_mz_mad_devs", devs_sql)], tail


def _percent_of_total_sql(d: str) -> str:
    # Ratio-to-report: each nation's revenue as a share of its region
    # and of the world — two window sums over the aggregated frame.
    # Scale: facts reduce ONCE via hash-agg (one shuffle); the window
    # runs on |nations| rows.  The denominators are unrounded; only the
    # emitted ratios round.
    return f"""
    WITH rev AS (
      SELECT
        r.r_name AS region,
        n.n_name AS nation,
        sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT
      region,
      nation,
      {dbl("revenue", "revenue")},
      {dbl("revenue / sum(revenue) OVER (PARTITION BY region)", "share_of_region")},
      {dbl("revenue / sum(revenue) OVER ()", "share_of_world")},
      {cnt("rank() OVER (PARTITION BY region ORDER BY revenue DESC, nation)", "rank_in_region")}
    FROM rev
    ORDER BY region, rank_in_region
    """


def _unpivot_sql(d: str) -> str:
    # Wide→long melt of the per-slice packet summary.  Spark: stack()
    # (the engine's native UNPIVOT lowering); oracle: UNION ALL
    # reconstruction — cross-algorithm agreement on the melted frame.
    if d == "spark":
        melt = """
      SELECT slice, stack(3,
        'n_packets', CAST(n_packets AS DOUBLE),
        'total_bytes', total_bytes,
        'avg_pkt_len', avg_pkt_len) AS (metric, value)
      FROM wide"""
    else:
        melt = """
      SELECT slice, 'n_packets' AS metric, CAST(n_packets AS DOUBLE) AS value FROM wide
      UNION ALL SELECT slice, 'total_bytes', total_bytes FROM wide
      UNION ALL SELECT slice, 'avg_pkt_len', avg_pkt_len FROM wide"""
    return f"""
    {flows_cte(d)},
    wide AS (
      SELECT
        slice,
        CAST(count(*) AS BIGINT) AS n_packets,
        round(sum(pkt_len) + 1e-9, 4) + 0.0 AS total_bytes,
        round(avg(pkt_len) + 1e-9, 4) + 0.0 AS avg_pkt_len
      FROM flows
      GROUP BY slice
    ),
    melted AS ({melt})
    SELECT slice, metric, CAST(value AS DOUBLE) AS value
    FROM melted
    ORDER BY slice, metric
    """


def _skew_profile_sql(d: str) -> str:
    # C57 — shuffle-key skew diagnostic: the distribution of per-key row
    # counts for the keys the heavy operators shuffle on.  This is the
    # measurement that tells when C62's salting (salted_agg_throughput)
    # pays — run it BEFORE choosing salting/AQE-skew thresholds.  Top-key share and the
    # max/median ratio are the two numbers that decide whether a 100 TB
    # shuffle on this key stalls its biggest task.  One hash-agg per key
    # column + tiny summary aggs over the per-key frames.
    def one(key: str) -> str:
        p50 = pct("c", 0.5, d)
        p99 = pct("c", 0.99, d)
        return f"""
      SELECT
        '{key}' AS key_col,
        {cnt("count(*)", "n_keys")},
        {cnt("sum(c)", "n_rows")},
        {cnt("max(c)", "max_key_rows")},
        {dbl("CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)", "top_key_share")},
        {dbl(p50, "p50_key_rows")},
        {dbl(p99, "p99_key_rows")},
        {dbl(f"CAST(max(c) AS DOUBLE) / {p50}", "max_over_median")}
      FROM (
        SELECT CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY {key}
      ) t_{key}"""

    return f"""
    SELECT * FROM (
      {one("user_id")}
      UNION ALL
      {one("event_type")}
    ) u
    ORDER BY key_col
    """


def _load_imbalance_sql(d: str) -> str:
    # C106 — hourly LOAD-IMBALANCE profile: C57's skew diagnostic has
    # no time axis; this tracks the per-hour distribution of per-user
    # row counts (the hot-key pressure a streaming shuffle actually
    # sees hour by hour): coefficient of variation, top-user share,
    # and a p99/median ratio — the three numbers that decide WHEN a
    # partition-key choice melts, not just whether.
    #
    # Scale: one scan → (hour, user) hash-agg → per-hour rollup on the
    # tiny key-count frame.
    hr = f"CAST(floor({epoch('ts', d)} / 3600.0) AS BIGINT)"
    p50 = pct("CAST(c AS DOUBLE)", 0.5, d)
    p99 = pct("CAST(c AS DOUBLE)", 0.99, d)
    return f"""
    WITH per_key AS (
      SELECT {hr} AS hour_idx, user_id, count(*) AS c
      FROM events
      GROUP BY {hr}, user_id
    )
    SELECT
      hour_idx,
      {cnt("count(*)", "n_active_users")},
      {cnt("sum(c)", "n_events")},
      {cnt("max(c)", "max_user_rows")},
      {dbl("CAST(max(c) AS DOUBLE) / sum(c)", "top_user_share")},
      {dbl(
          "coalesce(stddev_samp(CAST(c AS DOUBLE)), 0.0)"
          " / nullif(avg(CAST(c AS DOUBLE)), 0.0)",
          "load_cv",
      )},
      {dbl(f"{p99} / nullif({p50}, 0.0)", "p99_over_median")}
    FROM per_key
    GROUP BY hour_idx
    ORDER BY hour_idx
    """


QUERIES = [
    sql_backed("skew_profile", _skew_profile_sql, ("events",)),
    sql_backed("hourly_load_imbalance", _load_imbalance_sql, ("events",)),
    sql_backed("grouping_sets_mix", _grouping_sets_sql, ("lineitem",)),
    sql_backed(
        "percent_of_total",
        _percent_of_total_sql,
        ("customer", "nation", "region", "orders", "lineitem"),
    ),
    sql_backed("unpivot_slice_stats", _unpivot_sql, ("events",)),
    sql_backed("winsorized_stats", _winsorized_stats_sql, ("events",)),
    materialized_backed("mad_outliers", _mad_outliers_parts, ("events",)),
    sql_backed("cube_event_volume", _cube_sql, ("events",)),
    materialized_backed("set_ops_cohorts", _set_ops_parts, ("orders",)),
    sql_backed("ewma_throughput", _ewma_sql, ("events",)),
    sql_backed("zscore_anomalies", _zscore_sql, ("events",)),
    sql_backed("daily_modal_type", _mode_sql, ("events",)),
    sql_backed("embedding_norm_stats", _emb_norm_sql, ("embeddings",)),
]
