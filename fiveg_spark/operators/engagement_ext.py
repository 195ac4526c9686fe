"""Engagement & corpus analytics extensions (SURVEY §2 C151-C155,
D72, E116-E118): session-gap sensitivity, value-weighted watermark drop
cost, peak/off-peak value contrast, acquisition-type LTV, within-user
phase shift, daily new-vs-returning mix, source×lang dependence, and
embedding smoothness via array higher-order functions.

Shared-text two-dialect SQL except where the engines' array dialects
genuinely split (Spark lambda ``aggregate``/``zip_with`` vs DuckDB
``list_*`` — the E16 precedent).  Every query is one scan plus bounded
rollups; the only windows ride per-user partitions (bounded by a
user's history) or tiny post-agg frames.

Reference scope: beyond-reference analytics breadth.
"""

from __future__ import annotations

from fiveg_spark.plans.registry import (
    cnt,
    dbl,
    epoch,
    materialized_backed,
    pct,
    sql_backed,
)

# session thresholds (seconds) the C6 sessionizer could be run at
GAP_LADDER = (900, 1800, 3600)


def _session_gap_sensitivity_sql(d: str) -> str:
    # C151 — how sensitive is the session count to the gap threshold?
    # C6 sessionizes at ONE threshold; the deployment question is the
    # CURVE: sessions, mean events/session and mean session span at
    # 15/30/60-minute gaps — one per-user lag window, three conditional
    # sums (no re-scan per rung).
    es = epoch("ts", d)
    rungs = " UNION ALL ".join(
        f"SELECT {w} AS gap_s" for w in GAP_LADDER
    )
    return f"""
    WITH stepped AS (
      SELECT
        user_id,
        {es} AS es,
        lag({es}) OVER (PARTITION BY user_id
                        ORDER BY {es}, event_id) AS prev_es
      FROM events
    ),
    scored AS (
      SELECT
        g.gap_s,
        s.user_id,
        s.es,
        CASE WHEN s.prev_es IS NULL
                  OR s.es - s.prev_es > CAST(g.gap_s AS DOUBLE)
             THEN 1 ELSE 0 END AS is_start
      FROM stepped s
      CROSS JOIN ({rungs}) g
    )
    SELECT
      CAST(gap_s AS BIGINT) AS gap_s,
      {cnt("sum(is_start)", "n_sessions")},
      {cnt("count(*)", "n_events")},
      {dbl("CAST(count(*) AS DOUBLE)"
           " / CAST(nullif(sum(is_start), 0) AS DOUBLE)",
           "mean_events_per_session")}
    FROM scored
    GROUP BY gap_s
    ORDER BY gap_s
    """


def _drop_value_cost_sql(d: str) -> str:
    # C152 — the VALUE cost of a watermark choice: B25 profiles how
    # many ROWS each candidate delay would drop; capacity planning asks
    # what share of the value MASS those rows carry (stragglers are not
    # value-neutral when reconnecting users batch-upload purchases).
    # Same synthesized-disorder arrival process and minute-grain
    # frontier as B25, one global rollup row per ladder rung.
    from fiveg_spark.operators.lateness import (
        WATERMARK_LADDER,
        delay_expr,
    )

    es = epoch("ts", d)
    rungs = " UNION ALL ".join(
        f"SELECT {w} AS watermark_s" for w in WATERMARK_LADDER
    )
    late = "(w.wm_es IS NOT NULL AND a.es < w.wm_es - CAST(r.watermark_s AS DOUBLE))"
    return f"""
    WITH arr AS (
      SELECT
        {es} AS es,
        value,
        CAST(floor(({es} + ({delay_expr()})) / 60.0) AS BIGINT) AS arr_min
      FROM events
    ),
    minute_max AS (
      SELECT arr_min, max(es) AS max_es
      FROM arr GROUP BY arr_min
    ),
    wm AS (
      SELECT
        arr_min,
        max(max_es) OVER (
          ORDER BY arr_min
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS wm_es
      FROM minute_max
    )
    SELECT
      CAST(r.watermark_s AS BIGINT) AS watermark_s,
      {cnt("count(*)", "n_events")},
      {dbl(f"avg(CAST(CASE WHEN {late} THEN 1 ELSE 0 END AS DOUBLE))",
           "dropped_row_share")},
      {dbl(f"sum(CASE WHEN {late} THEN a.value ELSE 0.0 END)"
           " / nullif(sum(a.value), 0.0)", "dropped_value_share")},
      {dbl(f"sum(CASE WHEN {late} THEN a.value ELSE 0.0 END)",
           "dropped_value_mass")}
    FROM arr a
    LEFT JOIN wm w ON w.arr_min = a.arr_min
    CROSS JOIN ({rungs}) r
    GROUP BY r.watermark_s
    ORDER BY watermark_s
    """


def _offpeak_contrast_sql(d: str) -> str:
    # C153 — peak (08-20 UTC) vs off-peak value levels per event type:
    # the load-shifting question (is off-peak traffic genuinely
    # different, or just thinner?).  Hour from the shared integer-epoch
    # arithmetic; one scan, conditional aggregates, NULL-guarded ratio.
    es = epoch("ts", d)
    hour = f"(CAST(floor({es} / 3600.0) AS BIGINT) % 24)"
    peak = f"({hour} >= 8 AND {hour} < 20)"
    return f"""
    SELECT
      event_type,
      {cnt(f"sum(CASE WHEN {peak} THEN 1 ELSE 0 END)", "n_peak")},
      {cnt(f"sum(CASE WHEN NOT {peak} THEN 1 ELSE 0 END)", "n_offpeak")},
      {dbl(f"avg(CASE WHEN {peak} THEN value END)", "mean_peak_value")},
      {dbl(f"avg(CASE WHEN NOT {peak} THEN value END)",
           "mean_offpeak_value")},
      {dbl(f"avg(CASE WHEN NOT {peak} THEN value END)"
           f" / nullif(avg(CASE WHEN {peak} THEN value END), 0.0)",
           "offpeak_to_peak_ratio")}
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


def _ltv_by_acquisition_sql(d: str) -> str:
    # C154 — lifetime value by ACQUISITION event type (the user's very
    # first event, min-(es, event_id) deterministic): do users who
    # arrive via signup out-earn users who arrive via view?  The
    # attribution question C123's second-session latency doesn't
    # answer.  Two bounded rollups over one scan.
    es = epoch("ts", d)
    return f"""
    WITH firsts AS (
      SELECT
        user_id,
        event_type AS acq_type,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY {es}, event_id) AS rk
      FROM events
    ),
    totals AS (
      SELECT
        user_id,
        count(*) AS n_events,
        sum(value) AS total_value,
        count(DISTINCT CAST(floor({es} / 86400.0) AS BIGINT))
          AS active_days
      FROM events
      GROUP BY user_id
    )
    SELECT
      f.acq_type,
      {cnt("count(*)", "n_users")},
      {dbl("avg(CAST(t.n_events AS DOUBLE))", "mean_events")},
      {dbl("avg(t.total_value)", "mean_total_value")},
      {dbl("avg(CAST(t.active_days AS DOUBLE))", "mean_active_days")},
      {dbl("avg(t.total_value / CAST(t.n_events AS DOUBLE))",
           "mean_value_per_event")}
    FROM firsts f
    JOIN totals t ON t.user_id = f.user_id
    WHERE f.rk = 1
    GROUP BY f.acq_type
    ORDER BY f.acq_type
    """


def _phase_shift_sql(d: str) -> str:
    # C155 — within-user phase contrast: split each user's history at
    # the midpoint of their OWN [first, last] span and contrast early
    # vs late mean value per event type — a population-level drift
    # (C126) can hide perfectly stationary USERS whose mix changes, and
    # vice versa.  Span-zero users land in the early phase (es <= mid).
    es = epoch("ts", d)
    return f"""
    WITH spans AS (
      SELECT
        user_id,
        min({es}) AS lo,
        max({es}) AS hi
      FROM events
      GROUP BY user_id
    ),
    phased AS (
      SELECT
        e.event_type,
        CASE WHEN {es.replace("ts", "e.ts")}
                  <= (s.lo + s.hi) / 2.0
             THEN 1 ELSE 0 END AS early
        , e.value
      FROM events e
      JOIN spans s ON s.user_id = e.user_id
    )
    SELECT
      event_type,
      {cnt("sum(early)", "n_early")},
      {cnt("sum(1 - early)", "n_late")},
      {dbl("avg(CASE WHEN early = 1 THEN value END)", "mean_early_value")},
      {dbl("avg(CASE WHEN early = 0 THEN value END)", "mean_late_value")},
      {dbl("(avg(CASE WHEN early = 0 THEN value END)"
           " - avg(CASE WHEN early = 1 THEN value END))"
           " / nullif(avg(CASE WHEN early = 1 THEN value END), 0.0)",
           "late_vs_early_shift")}
    FROM phased
    GROUP BY event_type
    ORDER BY event_type
    """


def _new_vs_returning_sql(d: str) -> str:
    # D72 — daily new-vs-returning mix: per day, the share of events
    # from users whose FIRST-ever activity is that day — the daily
    # acquisition pulse C90's weekly growth accounting smooths over.
    es = epoch("ts", d)
    day = f"CAST(floor({es} / 86400.0) AS BIGINT)"
    return f"""
    WITH firsts AS (
      SELECT user_id, min({day}) AS first_day
      FROM events
      GROUP BY user_id
    )
    SELECT
      {day.replace("ts", "e.ts")} AS day,
      {cnt("count(*)", "n_events")},
      {cnt("count(DISTINCT CASE WHEN " + day.replace("ts", "e.ts")
           + " = f.first_day THEN e.user_id END)", "n_new_users")},
      {dbl("avg(CAST(CASE WHEN " + day.replace("ts", "e.ts")
           + " = f.first_day THEN 1 ELSE 0 END AS DOUBLE))",
           "new_user_event_share")}
    FROM events e
    JOIN firsts f ON f.user_id = e.user_id
    GROUP BY {day.replace("ts", "e.ts")}
    ORDER BY day
    """


def _source_lang_mix_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E116 — source × lang dependence over the documents corpus: the
    # DENSE contingency (cross-join spine keeps vanished-cell mass —
    # the r8 sparse-grid lesson) with per-cell share, lift vs
    # independence, and the chi-square contribution.
    # r13 opt: the (source, lang) cell frame is MATERIALIZED and the
    # spine derives from IT (every source/lang value present in the
    # corpus appears in the grouped cells, so the distinct sets are
    # identical) — the old inline shape re-scanned documents three
    # times: cells + both DISTINCT spine arms (ledger: 3 file scans).
    cells_sql = """
      SELECT source, lang, count(*) AS n
      FROM documents
      GROUP BY source, lang
    """
    tail = f"""
    WITH cells AS (
      SELECT * FROM _mz_slm_cells
    ),
    spine AS (
      SELECT s.source, l.lang
      FROM (SELECT DISTINCT source FROM cells) s
      CROSS JOIN (SELECT DISTINCT lang FROM cells) l
    ),
    dense AS (
      SELECT
        sp.source,
        sp.lang,
        CAST(coalesce(c.n, 0) AS DOUBLE) AS n
      FROM spine sp
      LEFT JOIN cells c ON c.source = sp.source AND c.lang = sp.lang
    ),
    margined AS (
      SELECT
        source,
        lang,
        n,
        sum(n) OVER (PARTITION BY source) AS src_n,
        sum(n) OVER (PARTITION BY lang) AS lang_n,
        sum(n) OVER () AS tot
      FROM dense
    )
    SELECT
      source,
      lang,
      {cnt("n", "n_docs")},
      {dbl("n / nullif(src_n, 0.0)", "share_within_source")},
      {dbl("n * tot / nullif(src_n * lang_n, 0.0)", "lift")},
      {dbl("(n - src_n * lang_n / tot) * (n - src_n * lang_n / tot)"
           " / nullif(src_n * lang_n / tot, 0.0)", "chi2_contrib")}
    FROM margined
    ORDER BY source, lang
    """
    return [("_mz_slm_cells", cells_sql)], tail


def _emb_smoothness_sql(d: str) -> str:
    # E117 — embedding component smoothness per label: consecutive-
    # dimension total variation (mean and max |v[i+1]−v[i]|) — E100
    # profiles per-dimension variance ACROSS vectors; this profiles the
    # shape WITHIN each vector, a cheap screen for truncated/shuffled
    # embedding columns.  Array HOFs stay engine-side in both dialects
    # (the E16 precedent): Spark zip_with/aggregate lambdas, DuckDB
    # list_* kernels over an index range.
    if d == "spark":
        diffs = (
            "zip_with(slice(embedding, 1, size(embedding) - 1),"
            " slice(embedding, 2, size(embedding) - 1),"
            " (a, b) -> abs(CAST(b AS DOUBLE) - CAST(a AS DOUBLE)))"
        )
        mean_step = (
            f"aggregate({diffs}, 0D, (acc, x) -> acc + x)"
            " / CAST(size(embedding) - 1 AS DOUBLE)"
        )
        max_step = f"aggregate({diffs}, 0D, (acc, x) -> greatest(acc, x))"
    else:
        diffs = (
            "list_transform(range(2, len(embedding) + 1),"
            " i -> abs(CAST(embedding[i] AS DOUBLE)"
            " - CAST(embedding[i - 1] AS DOUBLE)))"
        )
        mean_step = (
            f"list_sum({diffs}) / CAST(len(embedding) - 1 AS DOUBLE)"
        )
        max_step = f"list_max({diffs})"
    return f"""
    SELECT
      label,
      {cnt("count(*)", "n_vecs")},
      {dbl(f"avg({mean_step})", "mean_step")},
      {dbl(f"avg({max_step})", "mean_max_step")},
      {dbl(f"max({max_step})", "max_step")}
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """


def _partner_turnover_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E118/C-graph — trade-partner turnover per supplier nation: the
    # year-over-year Jaccard of its customer-nation partner SET.  C98
    # compares nations to each other within one period; this tracks
    # each nation against its own past (the churn-of-relationships
    # trend).  The distinct edge frame is |nations|²·|years| at most —
    # bounded by the dimension tables — and it MATERIALIZES once
    # (materialized_backed): the tail references it three times
    # (sizes twice via the self-pair, intersections once), and Spark
    # inlining would re-run the 5-table join per reference — the
    # advisor sweep caught exactly that shape on the first draft.
    edges_sql = """
      SELECT DISTINCT
        sn.n_name AS supp_nation,
        cn.n_name AS cust_nation,
        CAST(year(o.o_orderdate) AS BIGINT) AS yr
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    """
    tail = f"""
    WITH sizes AS (
      SELECT supp_nation, yr, count(*) AS n_partners
      FROM _mz_trade_edges GROUP BY supp_nation, yr
    ),
    inter AS (
      SELECT
        a.supp_nation,
        a.yr,
        count(*) AS n_common
      FROM _mz_trade_edges a
      JOIN _mz_trade_edges b
        ON b.supp_nation = a.supp_nation
       AND b.cust_nation = a.cust_nation
       AND b.yr = a.yr + 1
      GROUP BY a.supp_nation, a.yr
    )
    SELECT
      s0.supp_nation,
      s0.yr AS year_from,
      s0.yr + 1 AS year_to,
      {cnt("s0.n_partners", "n_partners_from")},
      {cnt("s1.n_partners", "n_partners_to")},
      {cnt("coalesce(i.n_common, 0)", "n_retained")},
      {dbl("CAST(coalesce(i.n_common, 0) AS DOUBLE)"
           " / CAST(s0.n_partners + s1.n_partners"
           " - coalesce(i.n_common, 0) AS DOUBLE)", "partner_jaccard")}
    FROM sizes s0
    JOIN sizes s1
      ON s1.supp_nation = s0.supp_nation AND s1.yr = s0.yr + 1
    LEFT JOIN inter i
      ON i.supp_nation = s0.supp_nation AND i.yr = s0.yr
    ORDER BY s0.supp_nation, year_from
    """
    return [("_mz_trade_edges", edges_sql)], tail


QUERIES = [
    sql_backed("session_gap_sensitivity", _session_gap_sensitivity_sql,
               ("events",)),
    sql_backed("watermark_drop_value_cost", _drop_value_cost_sql,
               ("events",)),
    sql_backed("offpeak_value_contrast", _offpeak_contrast_sql,
               ("events",)),
    sql_backed("ltv_by_acquisition_type", _ltv_by_acquisition_sql,
               ("events",)),
    sql_backed("user_phase_value_shift", _phase_shift_sql, ("events",)),
    sql_backed("daily_new_vs_returning", _new_vs_returning_sql,
               ("events",)),
    materialized_backed("source_lang_mix", _source_lang_mix_parts, ("documents",)),
    sql_backed("embedding_smoothness", _emb_smoothness_sql,
               ("embeddings",)),
    materialized_backed(
        "trade_partner_turnover", _partner_turnover_parts,
        ("lineitem", "orders", "customer", "supplier", "nation")),
]


def _hour_entropy_by_band_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C159 — diurnal concentration by activity band: per-user Shannon
    # entropy (nats) of the hour-of-day profile, averaged within
    # activity quartiles.  Banding uses exact percentile BOUNDS of the
    # per-user event count (broadcast scalar frame) rather than a
    # global ntile window — |users| is unbounded at 100 TB and a
    # single-partition rank would be the bottleneck; the C144 recipe.
    # C136 asks this question about TYPE mix; this asks it about the
    # CLOCK (a heavy band with near-uniform hour entropy is automation,
    # a low-entropy heavy band is a human prime-time audience).
    es = epoch("ts", d)
    hour = f"(CAST(floor({es} / 3600.0) AS BIGINT) % 24)"
    bounds = ", ".join(
        f"{pct('CAST(n AS DOUBLE)', p, d)} AS b{i}"
        for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
    )
    band = (
        "CASE WHEN CAST(u.n AS DOUBLE) <= b.b1 THEN 1"
        " WHEN CAST(u.n AS DOUBLE) <= b.b2 THEN 2"
        " WHEN CAST(u.n AS DOUBLE) <= b.b3 THEN 3 ELSE 4 END"
    )
    # r13 opt: the (user, hour) cell frame is MATERIALIZED — the tail
    # reaches it through per_user_tot (2×: entropy join + the quartile
    # bounds) and per_user, and Spark inlines CTEs, so the fact scan ran
    # 3× (ledger: 3 file scans for a 1-table query).
    cells_sql = f"""
      SELECT user_id, {hour} AS hr, count(*) AS c
      FROM events
      GROUP BY user_id, {hour}
    """
    tail = f"""
    WITH per_cell AS (
      SELECT * FROM _mz_uhe_cells
    ),
    per_user_tot AS (
      SELECT user_id, sum(c) AS n FROM per_cell GROUP BY user_id
    ),
    per_user AS (
      SELECT
        t.user_id,
        t.n,
        sum(-1.0 * (CAST(pc.c AS DOUBLE) / CAST(t.n AS DOUBLE))
            * ln(CAST(pc.c AS DOUBLE) / CAST(t.n AS DOUBLE)))
          AS hour_entropy,
        count(*) AS n_active_hours
      FROM per_cell pc
      JOIN per_user_tot t ON t.user_id = pc.user_id
      GROUP BY t.user_id, t.n
    ),
    b AS (SELECT {bounds} FROM per_user_tot)
    SELECT
      CAST({band} AS BIGINT) AS activity_band,
      {cnt("count(*)", "n_users")},
      {dbl("avg(CAST(u.n AS DOUBLE))", "mean_events")},
      {dbl("avg(u.hour_entropy)", "mean_hour_entropy")},
      {dbl("avg(CAST(u.n_active_hours AS DOUBLE))",
           "mean_active_hours")}
    FROM per_user u CROSS JOIN b
    GROUP BY {band}
    ORDER BY activity_band
    """
    return [("_mz_uhe_cells", cells_sql)], tail


def _transition_asymmetry_sql(d: str) -> str:
    # C160 — directed flow imbalance between event types: from C54's
    # per-user consecutive-pair counts, the NET flow a→b minus b→a per
    # unordered pair — a symmetric transition matrix hides whether
    # "view→purchase" actually dominates "purchase→view".  One lag
    # window per user, one pair rollup, pairs emitted once (a < b).
    es = epoch("ts", d)
    return f"""
    WITH stepped AS (
      SELECT
        user_id,
        event_type AS cur,
        lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY {es}, event_id) AS prev
      FROM events
    ),
    pairs AS (
      SELECT
        least(prev, cur) AS a,
        greatest(prev, cur) AS b,
        sum(CASE WHEN prev < cur THEN 1 ELSE 0 END) AS n_ab,
        sum(CASE WHEN prev > cur THEN 1 ELSE 0 END) AS n_ba
      FROM stepped
      WHERE prev IS NOT NULL AND prev <> cur
      GROUP BY least(prev, cur), greatest(prev, cur)
    )
    SELECT
      a AS type_a,
      b AS type_b,
      {cnt("n_ab", "n_ab")},
      {cnt("n_ba", "n_ba")},
      {cnt("n_ab - n_ba", "net_flow")},
      {dbl("abs(CAST(n_ab - n_ba AS DOUBLE))"
           " / CAST(nullif(n_ab + n_ba, 0) AS DOUBLE)", "asymmetry")}
    FROM pairs
    ORDER BY type_a, type_b
    """


def _token_case_profile_sql(d: str) -> str:
    # E120 — token-casing profile per source: lower/UPPER/Title/mixed
    # shares of WORD tokens — shouty or randomly-cased corpora survive
    # E103's char-class screen (letters are letters) but break cased
    # tokenizers; alphabetic-only tokens keyed by exact class match.
    toks = (
        "split(text, ' +')" if d == "spark"
        else "string_split_regex(text, ' +')"
    )
    unnest = (
        f"LATERAL VIEW explode({toks}) t AS token" if d == "spark"
        else f", unnest({toks}) AS t(token)"
    )
    alpha = "regexp_full_match(token, '[A-Za-z]+')" if d == "duckdb" else (
        "token RLIKE '^[A-Za-z]+$'"
    )
    lower_share = "avg(CAST(CASE WHEN token = lower(token) THEN 1 ELSE 0 END AS DOUBLE))"
    upper_share = "avg(CAST(CASE WHEN token = upper(token) THEN 1 ELSE 0 END AS DOUBLE))"
    title = (
        "avg(CAST(CASE WHEN token <> lower(token) AND token <> upper(token)"
        " AND substring(token, 1, 1) = upper(substring(token, 1, 1))"
        " AND substring(token, 2) = lower(substring(token, 2))"
        " THEN 1 ELSE 0 END AS DOUBLE))"
    )
    return f"""
    WITH tok AS (
      SELECT source, token
      FROM documents {unnest}
      WHERE {alpha}
    )
    SELECT
      source,
      {cnt("count(*)", "n_alpha_tokens")},
      {dbl(lower_share, "lower_share")},
      {dbl(upper_share, "upper_share")},
      {dbl(title, "title_share")}
    FROM tok
    GROUP BY source
    ORDER BY source
    """


QUERIES.extend([
    materialized_backed("user_hour_entropy_by_band", _hour_entropy_by_band_parts,
               ("events",)),
    sql_backed("type_transition_asymmetry", _transition_asymmetry_sql,
               ("events",)),
    sql_backed("doc_token_case_profile", _token_case_profile_sql,
               ("documents",)),
])
