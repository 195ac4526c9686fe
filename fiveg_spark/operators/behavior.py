"""Behavioral/history operators: run-length (gaps-and-islands) state
history and market-basket co-occurrence.

Both reduce the raw event stream ONCE (per-user ordered window, or a
distinct-reduce to baskets) before any join — the expensive part is a
single shuffle on a high-cardinality key (user), never a fact×fact
join on raw rows.
"""

from __future__ import annotations

from fiveg_spark.plans.registry import cnt, dbl, epoch, materialized_backed, pct, sql_backed


def _scd2_runs_sql(d: str) -> str:
    # C47 — SCD-Type-2 style state history: collapse each user's
    # consecutive same-event_type runs into [valid_from, valid_to)
    # intervals.  Islands come from the lag-change-flag + running-sum
    # form, NOT the double-row_number trick: both window functions here
    # partition by the SAME key (user), so Catalyst plans them over one
    # exchange — row_number over (user) + row_number over (user, type)
    # would pay a second shuffle for the second partitioning.
    # Output capped to a deterministic user sample to keep the contract
    # frame small; production writes the full history.
    return f"""
    WITH flagged AS (
      SELECT
        user_id,
        event_type,
        ts,
        event_id,
        CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS changed
      FROM events
      WHERE user_id % 199 = 0
    ),
    ordered AS (
      SELECT
        user_id,
        event_type,
        ts,
        event_id,
        sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    runs AS (
      SELECT
        user_id,
        event_type,
        island,
        min(ts) AS valid_from,
        max(ts) AS valid_to,
        CAST(count(*) AS BIGINT) AS n_events
      FROM ordered
      GROUP BY user_id, event_type, island
    )
    SELECT
      user_id,
      event_type,
      CAST(row_number() OVER (PARTITION BY user_id ORDER BY valid_from, event_type) AS BIGINT)
        AS run_seq,
      {dbl(epoch("valid_from", d), "valid_from_s")},
      {dbl(epoch("valid_to", d), "valid_to_s")},
      n_events
    FROM runs
    ORDER BY user_id, run_seq
    """


def _cooccurrence_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C48 — market-basket lift between event types: a basket is one
    # (user, day); types co-occur when both appear in a basket.
    # distinct-reduce to (user, day, type) FIRST (≤ |types| rows per
    # basket), self-join a<b within basket, then lift =
    # P(ab)/(P(a)·P(b)) over N baskets.  The self-join fanout per
    # basket is bounded by |types|² (~tens), independent of event
    # volume — the reduce is where 100 TB becomes GBs.
    # materialized_backed: the reduced frame feeds FIVE references
    # (n_baskets, type_counts, both self-join sides); inlined CTEs
    # would re-run the events distinct per reference, forfeiting
    # exactly the reduce the design is built on.
    items_sql = """
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type
      FROM events
    """
    tail = f"""
    WITH n_baskets AS (
      SELECT CAST(count(DISTINCT CAST(user_id AS STRING) || '#' || CAST(day AS STRING)) AS DOUBLE) AS nb
      FROM _mz_bl_items
    ),
    type_counts AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS c
      FROM _mz_bl_items
      GROUP BY event_type
    ),
    pair_counts AS (
      SELECT
        a.event_type AS type_a,
        b.event_type AS type_b,
        CAST(count(*) AS DOUBLE) AS c_ab
      FROM _mz_bl_items a
      JOIN _mz_bl_items b
        ON a.user_id = b.user_id AND a.day = b.day AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT
      p.type_a,
      p.type_b,
      {cnt("p.c_ab", "n_cobaskets")},
      {dbl("p.c_ab / nb.nb", "support")},
      {dbl("p.c_ab / ca.c", "confidence_a_to_b")},
      {dbl("p.c_ab * nb.nb / (ca.c * cb.c)", "lift")}
    FROM pair_counts p
    JOIN type_counts ca ON p.type_a = ca.event_type
    JOIN type_counts cb ON p.type_b = cb.event_type
    CROSS JOIN n_baskets nb
    ORDER BY type_a, type_b
    """
    return [("_mz_bl_items", items_sql)], tail


def _kaplan_meier_sql(d: str) -> str:
    # C51 — Kaplan-Meier product-limit survival of user lifetime (days
    # from first to last event).  Users whose last event falls in the
    # final 7 days of the corpus are CENSORED (still alive) — exactly
    # the right-censoring KM exists to handle; dropping them would bias
    # lifetimes short.  The survival product Π(1 − dᵢ/nᵢ) is computed
    # as exp(Σ ln(·)) — a running-sum window, portable where cumulative
    # PRODUCT aggregates are not.  One heavy reduce (per-user min/max),
    # then windows over ≤ max-lifetime-days rows.
    return f"""
    WITH spans AS (
      SELECT
        user_id,
        CAST(floor(({epoch("max(ts)", d)} - {epoch("min(ts)", d)}) / 86400.0) AS BIGINT)
          AS dur_days,
        max(ts) AS last_seen
      FROM events
      GROUP BY user_id
    ),
    horizon AS (
      SELECT max(last_seen) AS h FROM spans
    ),
    flagged AS (
      SELECT
        dur_days,
        CASE WHEN {epoch("last_seen", d)} < {epoch("h", d)} - 7.0 * 86400.0
             THEN 1 ELSE 0 END AS churned
      FROM spans CROSS JOIN horizon
    ),
    by_t AS (
      SELECT
        dur_days AS t,
        CAST(count(*) AS DOUBLE) AS n_here,
        CAST(sum(churned) AS DOUBLE) AS d_here
      FROM flagged
      GROUP BY dur_days
    ),
    risk AS (
      SELECT
        t,
        n_here,
        d_here,
        sum(n_here) OVER (ORDER BY t DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      FROM by_t
    )
    SELECT
      CAST(t AS BIGINT) AS t_days,
      {cnt("CAST(n_risk AS BIGINT)", "n_risk")},
      {cnt("CAST(d_here AS BIGINT)", "n_churned")},
      {dbl(
        "exp(sum(CASE WHEN d_here < n_risk THEN ln(1.0 - d_here / n_risk) ELSE -23.0 END) "
        "OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))",
        "survival",
      )}
    FROM risk
    ORDER BY t_days
    """


def _transition_matrix_sql(d: str) -> str:
    # C54 — first-order Markov transition matrix over per-user event
    # sequences: lag(event_type) within (user ORDER BY ts, event_id),
    # then one hash-agg on (prev, next).  The ONLY shuffle is the
    # per-user window partitioning (high-cardinality key, even spread);
    # the output frame is |types|² rows — driver-sized at any scale.
    return f"""
    WITH ordered AS (
      SELECT
        event_type,
        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
      FROM ordered
      WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT
      prev_type,
      next_type,
      n AS n_transitions,
      {dbl(
        "CAST(n AS DOUBLE) / sum(CAST(n AS DOUBLE)) OVER (PARTITION BY prev_type)",
        "p_transition",
      )}
    FROM trans
    ORDER BY prev_type, next_type
    """


def _entropy_rate_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C74 — Markov entropy rate of the event-type process (Cover &
    # Thomas ch. 4): per prev_type the conditional entropy
    # H(next|prev) = −Σ p(next|prev)·ln p(next|prev), plus the chain's
    # entropy RATE Σ π(prev)·H(next|prev) (π = empirical transition
    # mass) and the zeroth-order marginal entropy for contrast — the
    # gap between them is exactly how much behavioral predictability
    # the C54 transition model captures (0 gap = memoryless stream).
    # Every 'ALL' row rides in the same frame via a UNION of two tiny
    # aggregates over the |types|² transition counts.
    #
    # Determinism: probabilities are integer-count ratios (exact
    # engine-identical doubles); ln applies to those and sums over
    # ≤|types| terms — the edge rounding absorbs summation-order ulps.
    #
    # Scale: identical single-shuffle shape as C54 (per-user window →
    # one hash-agg) — the TRANSITION frame materializes once (the tail
    # reads it for probs, totals and the marginal; inlined, the advisor
    # sweep measured 5 events rescans), and everything after is
    # |types|²-row arithmetic.
    trans_sql = f"""
      WITH ordered AS (
        SELECT
          event_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
      )
      SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
      FROM ordered
      WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    """
    tail = f"""
    WITH probs AS (
      SELECT
        prev_type,
        n,
        CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS p
      FROM _mz_entropy_trans
    ),
    cond AS (
      SELECT prev_type, sum(n) AS n_from, -sum(p * ln(p)) AS h
      FROM probs
      GROUP BY prev_type
    ),
    total AS (SELECT sum(n) AS nt FROM _mz_entropy_trans),
    marg AS (
      SELECT -sum((CAST(m.n AS DOUBLE) / t.nt) * ln(CAST(m.n AS DOUBLE) / t.nt)) AS h0
      FROM (SELECT next_type, sum(n) AS n
            FROM _mz_entropy_trans GROUP BY next_type) m
      CROSS JOIN total t
    )
    SELECT
      prev_type,
      {cnt("n_from", "n_transitions")},
      {dbl("h", "h_cond_nats")},
      {dbl("0.0", "h_marginal_nats")}
    FROM cond
    UNION ALL
    SELECT
      'ALL' AS prev_type,
      {cnt("t.nt", "n_transitions")},
      {dbl(
          "(SELECT sum(c.n_from * c.h) FROM cond c) / t.nt",
          "h_cond_nats",
      )},
      {dbl("m.h0", "h_marginal_nats")}
    FROM total t CROSS JOIN marg m
    ORDER BY prev_type
    """
    return [("_mz_entropy_trans", trans_sql)], tail


def _rfm_segments_sql(d: str) -> str:
    # C55 — RFM segmentation: per-user recency/frequency/monetary, each
    # ntile(5)-banded (deterministic tiebreak on user_id; ntile gives
    # identical equal-fill bucketing in both engines), then rolled up
    # to segment counts.  One reduce to |users| rows, three window
    # passes over that reduced frame (ntile needs a global order —
    # fine: the frame is |users|, not |events|; at 1e9 users switch to
    # percent_rank over a range-partitioned sort), final agg is
    # ≤125 rows.  Score convention: band 1 = most recent / most
    # frequent / highest spend.
    return f"""
    WITH per_user AS (
      SELECT
        user_id,
        {epoch("max(ts)", d)} AS last_seen_s,
        CAST(count(*) AS BIGINT) AS freq,
        sum(value) AS monetary
      FROM events
      GROUP BY user_id
    ),
    scored AS (
      SELECT
        ntile(5) OVER (ORDER BY last_seen_s DESC, user_id) AS r_band,
        ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_band,
        ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m_band,
        monetary
      FROM per_user
    )
    SELECT
      CAST(r_band AS INT) AS r_band,
      CAST(f_band AS INT) AS f_band,
      CAST(m_band AS INT) AS m_band,
      {cnt("count(*)", "n_users")},
      {dbl("avg(monetary)", "avg_monetary")}
    FROM scored
    GROUP BY r_band, f_band, m_band
    ORDER BY r_band, f_band, m_band
    """


def _attribution_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C66 — multi-touch conversion attribution: credit each 'purchase'
    # back to the view/click/signup touches since the user's previous
    # purchase, under the three standard models (first-touch,
    # last-touch, linear).  The marketing-analytics workhorse every
    # event warehouse ends up implementing; reported per channel
    # (= touch event_type) so the models' disagreement is visible in
    # one frame.
    #
    # Shape: ONE ordered window pass per user assigns every touch its
    # conversion group (running purchase count: a touch with p
    # purchases at-or-before it converts at purchase p+1); an equi-join
    # on (user, group) against the purchase rows attaches conversion
    # existence; two more windows over the tiny touch frame rank
    # first/last per conversion.  Every window and the join share the
    # user_id-rooted key — one shuffle family, high-cardinality, no
    # fact x fact explosion (touch rows join their OWN user's next
    # purchase only).  Credits are exact rationals rounded at 4
    # decimals; ties inside a conversion break by (ts, event_id).
    #
    # materialized_backed: the windowed frame feeds BOTH the touch and
    # the conversion side — inlined, Spark re-ran the events scan and
    # the running-count window per reference (plan-asserted n_scans==1
    # with the checkpoint).
    ep = epoch("ts", d)
    ordered = f"""
      SELECT
        user_id,
        event_id,
        event_type,
        {ep} AS ts_s,
        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_cnt
      FROM events
    """
    tail = f"""
    WITH touches AS (
      SELECT user_id, event_id, event_type, ts_s, p_cnt AS grp
      FROM _mz_attr_ordered
      WHERE event_type IN ('view', 'click', 'signup')
    ),
    conversions AS (
      SELECT user_id, p_cnt AS grp
      FROM _mz_attr_ordered WHERE event_type = 'purchase'
    ),
    credited AS (
      SELECT
        t.event_type AS channel,
        row_number() OVER (PARTITION BY t.user_id, t.grp
                           ORDER BY t.ts_s, t.event_id) AS rk_first,
        row_number() OVER (PARTITION BY t.user_id, t.grp
                           ORDER BY t.ts_s DESC, t.event_id DESC) AS rk_last,
        count(*) OVER (PARTITION BY t.user_id, t.grp) AS n_in_conv
      FROM touches t
      JOIN conversions c ON c.user_id = t.user_id AND c.grp = t.grp + 1
    )
    SELECT
      channel,
      {cnt("count(*)", "n_credited_touches")},
      {dbl("sum(CASE WHEN rk_first = 1 THEN 1.0 ELSE 0.0 END)",
           "first_touch_credit")},
      {dbl("sum(CASE WHEN rk_last = 1 THEN 1.0 ELSE 0.0 END)",
           "last_touch_credit")},
      {dbl("sum(1.0 / n_in_conv)", "linear_credit")}
    FROM credited
    GROUP BY channel
    ORDER BY channel
    """
    return [("_mz_attr_ordered", ordered)], tail


def _session_ctes(d: str) -> str:
    # Shared per-user 30-min-gap sessionization (the C6 cumsum
    # construction on user_id) — C84's trigram mining and C88's
    # inter-session statistics read the SAME construction, so a
    # sessionization change moves both certified rows together.
    # The gap flag and the cumsum ride one user_id-partitioned sort.
    return f"""flagged AS (
      SELECT
        user_id,
        ts,
        event_id,
        event_type,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               OR {epoch("ts", d)}
                  - {epoch("lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)", d)}
                  > 1800.0
             THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT *,
        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM flagged
    )"""


def _session_paths_sql(d: str) -> str:
    # C84 — top within-session event-type trigram paths (the journey-
    # mining rung above C54's memoryless pairs: "view>view>purchase"
    # vs "view>purchase>view" are different funnels even though their
    # transition matrices match).  Sessionize per user on a 30-min gap
    # (shared _session_ctes), then two leads INSIDE the session emit
    # each trigram, one hash-agg counts OCCURRENCES (a 10-event
    # session contributes 8 trigram rows — the column is
    # n_occurrences, NOT a session count), and the top 15 paths ship
    # with their share of all trigrams.
    #
    # Scale: one events scan; the gap flag, cumsum, and both leads all
    # ride ONE user_id-partitioned sort (Catalyst collapses the window
    # chain — same key, same order), the trigram agg is the only other
    # shuffle, and the output is ≤|types|³ rows.  Deterministic: ties
    # inside a session break on event_id; the top-15 cut orders by
    # (n DESC, path).
    return f"""
    WITH {_session_ctes(d)},
    steps AS (
      SELECT
        event_type AS e1,
        lead(event_type, 1) OVER (PARTITION BY user_id, session_idx
                                  ORDER BY ts, event_id) AS e2,
        lead(event_type, 2) OVER (PARTITION BY user_id, session_idx
                                  ORDER BY ts, event_id) AS e3
      FROM sess
    ),
    paths AS (
      SELECT concat(e1, '>', e2, '>', e3) AS path, count(*) AS n
      FROM steps
      WHERE e3 IS NOT NULL
      GROUP BY concat(e1, '>', e2, '>', e3)
    ),
    ranked AS (
      SELECT
        path,
        n,
        sum(n) OVER () AS total,
        row_number() OVER (ORDER BY n DESC, path) AS rk
      FROM paths
    )
    SELECT
      CAST(rk AS INT) AS rank,
      path,
      {cnt("n", "n_occurrences")},
      {dbl("n / CAST(total AS DOUBLE)", "share")}
    FROM ranked
    WHERE rk <= 15
    ORDER BY rank
    """



def _session_stats_sql(d: str) -> str:
    # C88 — per-user inter-session statistics (the engagement-rhythm
    # rollup next to C84's journey mining: how often users return and
    # how long they stay — the retention mechanism C23/C81 only see
    # the weekly shadow of).  Shares _session_ctes VERBATIM, so a
    # sessionization change moves both certified rows together.
    # Per session: event count + exact integer-epoch start/end; per
    # user: session count, mean events/session, mean duration, mean
    # gap between consecutive sessions (NULL for single-session users
    # — both engines' avg skips them); globally: the user-distribution
    # ladder (means + medians) and the single-session share (the
    # bounce-rate analogue; indicator CAST to DOUBLE — the C82
    # DECIMAL-literal landmine).
    #
    # Scale: one events scan; sessionize + per-session agg + the gap
    # lag all key on user_id (one shuffle family), per_user is
    # ≤|users| rows and the final global agg is one row.
    e = epoch("ts", d)
    return f"""
    WITH {_session_ctes(d)},
    per_session AS (
      SELECT
        user_id,
        session_idx,
        count(*) AS n_events,
        min({e}) AS s_start,
        max({e}) AS s_end
      FROM sess
      GROUP BY user_id, session_idx
    ),
    gapped AS (
      SELECT *,
        lag(s_end) OVER (PARTITION BY user_id
                         ORDER BY s_start, session_idx) AS prev_end
      FROM per_session
    ),
    per_user AS (
      SELECT
        user_id,
        count(*) AS n_sessions,
        avg(CAST(n_events AS DOUBLE)) AS avg_events,
        avg(s_end - s_start) AS avg_duration_s,
        avg(s_start - prev_end) AS avg_gap_s
      FROM gapped
      GROUP BY user_id
    )
    SELECT
      {cnt("count(*)", "n_users")},
      {cnt("sum(n_sessions)", "n_sessions")},
      {dbl("avg(CAST(n_sessions AS DOUBLE))", "avg_sessions_per_user")},
      {dbl(pct("CAST(n_sessions AS DOUBLE)", 0.5, d), "p50_sessions_per_user")},
      {dbl("avg(avg_events)", "mean_events_per_session")},
      {dbl("avg(avg_duration_s)", "mean_session_duration_s")},
      {dbl(pct("avg_duration_s", 0.5, d), "p50_user_duration_s")},
      {dbl("avg(avg_gap_s)", "mean_intersession_gap_s")},
      {dbl("avg(CASE WHEN n_sessions = 1 THEN CAST(1.0 AS DOUBLE) "
           "ELSE CAST(0.0 AS DOUBLE) END)", "share_single_session")}
    FROM per_user
    """



def _growth_accounting_sql(d: str) -> str:
    # C90 -- weekly growth accounting (the new/retained/resurrected/
    # churned ledger -- the standard decomposition every growth team
    # reads before quoting an "active users" move; C23's cohort grid
    # shows WHERE retention decays, this shows WHAT composed each
    # week's total).  Calendar weeks via the shared integer-epoch
    # arithmetic (epoch day 0 = Thursday, +3 => Monday-start weeks --
    # the D47 landmine).  Per (user, active week):
    #   new          first active week
    #   retained     also active the immediately previous week
    #   resurrected  seen before, but skipped >= 1 week
    # churned_w = active_{w-1} - retained_w (users who did not carry
    # over).  The ledger runs over a COMPLETE calendar-week spine
    # (min..max active week): a week with zero activity still emits a
    # row, because that is exactly the week the whole previous cohort
    # churned -- a rollup over active weeks only would report the
    # worst churn event in NO row (caught by the r7 self-review).
    # The ledger identity active = new + retained + resurrected is
    # exact BY CONSTRUCTION and ships as a certified boolean; the
    # quick ratio (new+resurrected)/churned reports 0 on churn-free
    # weeks (the dbl convention).
    #
    # Scale: one events scan -> distinct (user, week) -> one user-
    # partitioned lag -> <=|weeks| rollup + one week-ordered lag.
    week = f"CAST(floor((floor({epoch('ts', d)} / 86400.0) + 3) / 7.0) AS BIGINT)"
    if d == "spark":
        spine = ("SELECT explode(sequence(w0, w1)) AS week_idx "
                 "FROM (SELECT min(week_idx) AS w0, max(week_idx) AS w1 "
                 "FROM weekly) b")
    else:
        spine = ("SELECT unnest(generate_series(w0, w1)) AS week_idx "
                 "FROM (SELECT min(week_idx) AS w0, max(week_idx) AS w1 "
                 "FROM weekly) b")
    return f"""
    WITH uw AS (
      SELECT DISTINCT user_id, {week} AS week_idx
      FROM events
    ),
    classed AS (
      SELECT
        user_id,
        week_idx,
        min(week_idx) OVER (PARTITION BY user_id) AS first_week,
        lag(week_idx) OVER (PARTITION BY user_id ORDER BY week_idx)
          AS prev_active
      FROM uw
    ),
    weekly AS (
      SELECT
        week_idx,
        count(*) AS active,
        sum(CASE WHEN week_idx = first_week THEN 1 ELSE 0 END) AS new_users,
        sum(CASE WHEN week_idx > first_week
                  AND prev_active = week_idx - 1 THEN 1 ELSE 0 END)
          AS retained,
        sum(CASE WHEN week_idx > first_week
                  AND prev_active < week_idx - 1 THEN 1 ELSE 0 END)
          AS resurrected
      FROM classed
      GROUP BY week_idx
    ),
    spine AS ({spine}),
    full_weeks AS (
      SELECT
        s.week_idx,
        coalesce(w.active, 0) AS active,
        coalesce(w.new_users, 0) AS new_users,
        coalesce(w.retained, 0) AS retained,
        coalesce(w.resurrected, 0) AS resurrected
      FROM spine s
      LEFT JOIN weekly w ON w.week_idx = s.week_idx
    ),
    ledger AS (
      SELECT
        week_idx,
        active,
        new_users,
        retained,
        resurrected,
        coalesce(
          lag(active) OVER (ORDER BY week_idx) - retained, 0
        ) AS churned
      FROM full_weeks
    )
    SELECT
      {cnt("week_idx", "week_idx")},
      {cnt("active", "active_users")},
      {cnt("new_users", "new_users")},
      {cnt("retained", "retained")},
      {cnt("resurrected", "resurrected")},
      {cnt("churned", "churned")},
      active = new_users + retained + resurrected AS ledger_ok,
      {dbl(
          "CASE WHEN churned > 0"
          " THEN (new_users + resurrected) / CAST(churned AS DOUBLE) END",
          "quick_ratio",
      )}
    FROM ledger
    ORDER BY week_idx
    """


def _migration_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C95 — RFM-tier MIGRATION matrix: C55's segmentation run
    # independently on the stream's first and second half (split at
    # the median event instant, C92's era convention), tiers from the
    # summed R+F+M quintile score (champion ≤ 5 … hibernating = 15,
    # the standard collapse of the 125-cell cube), then the user-level
    # transition matrix INCLUDING 'absent' rows — who leveled up, who
    # decayed, who vanished.  C55 is a snapshot; retention work reads
    # the FLOW between snapshots.  Banding is per-era ntile with the
    # C55 tiebreaks, so each era's quintiles are deterministic.
    #
    # materialized_backed (r8 advisor catch): the tier frame feeds
    # BOTH sides of the FULL OUTER matrix — inlined, Spark re-ran the
    # whole events chain per side (8 scans measured); materialized it
    # scans events twice total (median + tagging, inherent) and the
    # matrix joins |users|-row views.  The era CASE is computed in a
    # tagging pre-projection so the median scalar subquery is
    # referenced ONCE, not once per textual copy.
    #
    # Scale: one events scan → per-(era, user) rollup; ntile windows
    # run per era over |users| rows (the C55 note: percent_rank over a
    # range-partitioned sort at 1e9 users); the matrix is ≤ 36 cells.
    e = epoch("ts", d)
    tier = (
        "CASE WHEN score <= 5 THEN 'a_champion'"
        " WHEN score <= 8 THEN 'b_loyal'"
        " WHEN score <= 11 THEN 'c_regular'"
        " WHEN score <= 14 THEN 'd_at_risk'"
        " ELSE 'e_hibernating' END"
    )
    tiers_sql = f"""
    WITH cut AS (
      SELECT {pct(e, 0.5, d)} AS t_med FROM events
    ),
    tagged AS (
      SELECT
        user_id,
        CASE WHEN {e} <= (SELECT t_med FROM cut) THEN 'h1' ELSE 'h2' END AS era,
        {e} AS es,
        value
      FROM events
    ),
    per_user_era AS (
      SELECT
        user_id,
        era,
        max(es) AS last_seen_s,
        count(*) AS freq,
        sum(value) AS monetary
      FROM tagged
      GROUP BY user_id, era
    ),
    scored AS (
      SELECT
        user_id, era,
        ntile(5) OVER (PARTITION BY era ORDER BY last_seen_s DESC, user_id)
          + ntile(5) OVER (PARTITION BY era ORDER BY freq DESC, user_id)
          + ntile(5) OVER (PARTITION BY era ORDER BY monetary DESC, user_id)
          AS score
      FROM per_user_era
    )
    SELECT user_id, era, {tier} AS tier FROM scored
    """
    tail = f"""
    WITH matrix AS (
      SELECT
        coalesce(a.tier, 'x_absent') AS tier_h1,
        coalesce(b.tier, 'x_absent') AS tier_h2
      FROM (SELECT user_id, tier FROM _mz_cm_tiers WHERE era = 'h1') a
      FULL OUTER JOIN (SELECT user_id, tier FROM _mz_cm_tiers WHERE era = 'h2') b
        ON b.user_id = a.user_id
    )
    SELECT
      tier_h1,
      tier_h2,
      {cnt("count(*)", "n_users")},
      {dbl("count(*) / CAST(sum(count(*)) OVER (PARTITION BY tier_h1) AS DOUBLE)",
           "row_share")}
    FROM matrix
    GROUP BY tier_h1, tier_h2
    ORDER BY tier_h1, tier_h2
    """
    return [("_mz_cm_tiers", tiers_sql)], tail


def _stickiness_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C91 — DAU/WAU/MAU stickiness per day: exact trailing-window
    # active-user counts (WAU = 7 d, MAU = 28 d) and the stickiness
    # ratios every growth dashboard quotes (DAU/MAU ≈ "days used per
    # month").  C90's ledger decomposes week-over-week flows; this is
    # the level series those flows move.  EXACT at contract scale: each
    # (user, active day) marker fans out to the trailing windows it
    # keeps alive (map-only explode ×7/×28), then one distinct count
    # per day — the bounded-fanout trick that turns a sliding distinct
    # into a hash-agg.  At 100 TB the 28× marker fanout is real but
    # map-side and shuffle-compacted by the distinct's partial agg;
    # C67's sliding-HLL is the sketch path when even that is too much.
    # Days ride a calendar spine of the observed span, so a zero-DAU
    # day still reports its WAU/MAU (the r7 ledger lesson).
    # materialized_backed (r8 advisor catch): the distinct (user, day)
    # frame feeds DAU, WAU, MAU and the bounds — inlined, Spark ran
    # the events distinct four times; materialized it scans once.
    day = f"CAST(floor({epoch('ts', d)} / 86400.0) AS BIGINT)"
    if d == "spark":
        off7, off28 = "explode(sequence(0, 6))", "explode(sequence(0, 27))"
        spine = "SELECT explode(sequence(d0, d1)) AS day_idx FROM bounds"
    else:
        off7, off28 = ("unnest(generate_series(0, 6))",
                       "unnest(generate_series(0, 27))")
        spine = "SELECT unnest(generate_series(d0, d1)) AS day_idx FROM bounds"
    ud_sql = f"""
      SELECT DISTINCT user_id, {day} AS day_idx FROM events
    """
    tail = f"""
    WITH bounds AS (
      SELECT min(day_idx) AS d0, max(day_idx) AS d1 FROM _mz_st_ud
    ),
    spine AS ({spine}),
    dau AS (
      SELECT day_idx, count(*) AS n FROM _mz_st_ud GROUP BY day_idx
    ),
    wau AS (
      SELECT day_idx, count(DISTINCT user_id) AS n FROM (
        SELECT user_id, day_idx + o AS day_idx
        FROM (SELECT user_id, day_idx, {off7} AS o FROM _mz_st_ud) f
      ) m GROUP BY day_idx
    ),
    mau AS (
      SELECT day_idx, count(DISTINCT user_id) AS n FROM (
        SELECT user_id, day_idx + o AS day_idx
        FROM (SELECT user_id, day_idx, {off28} AS o FROM _mz_st_ud) f
      ) m GROUP BY day_idx
    )
    SELECT
      {cnt("s.day_idx", "day_idx")},
      {cnt("coalesce(dau.n, 0)", "dau")},
      {cnt("coalesce(wau.n, 0)", "wau")},
      {cnt("coalesce(mau.n, 0)", "mau")},
      {dbl("coalesce(dau.n, 0) / CAST(nullif(wau.n, 0) AS DOUBLE)", "dau_wau")},
      {dbl("coalesce(dau.n, 0) / CAST(nullif(mau.n, 0) AS DOUBLE)", "dau_mau")},
      {dbl("coalesce(wau.n, 0) / CAST(nullif(mau.n, 0) AS DOUBLE)", "wau_mau")}
    FROM spine s
    LEFT JOIN dau ON dau.day_idx = s.day_idx
    LEFT JOIN wau ON wau.day_idx = s.day_idx
    LEFT JOIN mau ON mau.day_idx = s.day_idx
    ORDER BY s.day_idx
    """
    return [("_mz_st_ud", ud_sql)], tail


def _markov_stationarity_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C92 — transition-matrix STATIONARITY test: C54's first-order
    # chain fitted on the first and second half of the stream (split at
    # the global median event instant) and compared cell-by-cell with
    # the two-sample chi-square on pooled expectations.  A chain that
    # fails here has a drifting behavior process — C54's single matrix
    # (and C74's entropy rate) average two different regimes and
    # predict neither.  Transitions keep C54's (user ORDER BY ts,
    # event_id) window VERBATIM and take their era from the FROM
    # event; the era cut uses the interpolated median epoch compared
    # on exact integer-derived seconds.  The cell grid is DENSE over
    # (observed pair) × {h1, h2} (r8 review catch): a transition that
    # VANISHES in one era — the strongest non-stationarity signal — is
    # an O=0 cell whose (0−E)²/E = E mass a sparse grid silently
    # drops; empty-era rows guard to contribution 0.
    #
    # Scale: one events scan; the era cut is a broadcast scalar, the
    # per-user lag window is the only fact shuffle, and every chi-
    # square stage runs on 2·|types|² cells.
    e = epoch("ts", d)
    cells_sql = f"""
    WITH cut AS (
      SELECT {pct(e, 0.5, d)} AS t_med FROM events
    ),
    ordered AS (
      SELECT
        event_type,
        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS prev_type,
        CASE WHEN lag({e}) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  <= (SELECT t_med FROM cut)
             THEN 'h1' ELSE 'h2' END AS era
      FROM events
    )
    SELECT prev_type, event_type AS next_type, era, count(*) AS c
    FROM ordered
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type, era
    """
    tail = f"""
    WITH pool AS (
      SELECT prev_type, next_type, sum(c) AS cell_pool
      FROM _mz_ms_cells GROUP BY prev_type, next_type
    ),
    dense AS (
      SELECT p.prev_type, p.next_type, e.era,
             coalesce(c.c, 0) AS c, p.cell_pool
      FROM pool p
      CROSS JOIN (SELECT 'h1' AS era UNION ALL SELECT 'h2') e
      LEFT JOIN _mz_ms_cells c
        ON c.prev_type = p.prev_type AND c.next_type = p.next_type
       AND c.era = e.era
    ),
    marg AS (
      SELECT
        prev_type, next_type, era, c, cell_pool,
        sum(c) OVER (PARTITION BY prev_type, era) AS row_total,
        sum(c) OVER (PARTITION BY prev_type) AS row_pool
      FROM dense
    )
    SELECT
      prev_type,
      next_type,
      era,
      {cnt("c", "n_transitions")},
      {dbl("c / CAST(nullif(row_total, 0) AS DOUBLE)", "p_era")},
      {dbl("cell_pool / CAST(row_pool AS DOUBLE)", "p_pooled")},
      {dbl(
          "CASE WHEN row_total > 0 THEN"
          " (c - row_total * (cell_pool / CAST(row_pool AS DOUBLE)))"
          " * (c - row_total * (cell_pool / CAST(row_pool AS DOUBLE)))"
          " / (row_total * (cell_pool / CAST(row_pool AS DOUBLE)))"
          " ELSE 0.0 END",
          "chi2_contribution",
      )}
    FROM marg
    ORDER BY prev_type, next_type, era
    """
    return [("_mz_ms_cells", cells_sql)], tail


def _affinity_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C109 — activity-decile × event-type AFFINITY matrix: lift =
    # P(type | decile) / P(type) over C93's deterministic population
    # deciles — do heavy users DO different things, or just more of
    # the same?  (Lift ≈ 1 everywhere means volume-only segmentation;
    # a purchase-lift gradient across deciles is the "whales behave
    # differently" finding every engagement team checks first.)
    # Deciles use C93's (count, user_id) rank rule — never ntile ties.
    #
    # materialized_backed: the (user, type) count frame feeds the
    # per-user totals, the decile rank, and the cell rollup — inlined,
    # Spark would rescan events per reference; materialized it scans
    # once and every later stage works |users|·|types| rows.
    ut_sql = """
      SELECT user_id, event_type, count(*) AS c
      FROM events
      GROUP BY user_id, event_type
    """
    tail = f"""
    WITH totals AS (
      SELECT user_id, sum(c) AS n_events
      FROM _mz_ua_ut GROUP BY user_id
    ),
    ranked AS (
      SELECT user_id,
        CAST(ceil(CAST(row_number() OVER (ORDER BY n_events, user_id)
                       AS DOUBLE) * 10.0
                  / count(*) OVER ()) AS BIGINT) AS decile
      FROM totals
    ),
    cells AS (
      SELECT r.decile, u.event_type, sum(u.c) AS c
      FROM _mz_ua_ut u JOIN ranked r ON r.user_id = u.user_id
      GROUP BY r.decile, u.event_type
    ),
    marg AS (
      SELECT
        decile, event_type, c,
        sum(c) OVER (PARTITION BY decile) AS d_total,
        sum(c) OVER (PARTITION BY event_type) AS t_total,
        sum(c) OVER () AS n
      FROM cells
    )
    SELECT
      decile,
      event_type,
      {cnt("c", "n_events")},
      {dbl("c / CAST(d_total AS DOUBLE)", "share_in_decile")},
      {dbl("t_total / CAST(n AS DOUBLE)", "overall_share")},
      {dbl(
          "(c / CAST(d_total AS DOUBLE)) / (t_total / CAST(n AS DOUBLE))",
          "lift",
      )}
    FROM marg
    ORDER BY decile, event_type
    """
    return [("_mz_ua_ut", ut_sql)], tail


def _lorenz_sql(d: str) -> str:
    # C93 — Lorenz curve + Gini of per-user activity: users ranked by
    # event count ascending, bucketed into population deciles, with
    # each decile's share and the cumulative share (the Lorenz points
    # behind every "top 10% of users generate X%" claim) and the exact
    # rank-formula Gini (C45's formula, population = users instead of
    # docs) repeated per row for the certified single-number readout.
    # Deciles come from the deterministic (count, user_id) rank — NOT
    # ntile ties — so both engines bucket identically.
    #
    # Scale: one events scan → per-user counts (one shuffle); ranking
    # windows run on |users| rows.
    return f"""
    WITH per_user AS (
      SELECT user_id, count(*) AS n_events
      FROM events
      GROUP BY user_id
    ),
    ranked AS (
      SELECT
        user_id,
        CAST(n_events AS DOUBLE) AS x,
        CAST(row_number() OVER (ORDER BY n_events, user_id) AS DOUBLE) AS i,
        CAST(count(*) OVER () AS DOUBLE) AS n
      FROM per_user
    ),
    deciled AS (
      SELECT *,
        CAST(ceil(i * 10.0 / n) AS BIGINT) AS decile
      FROM ranked
    )
    SELECT
      decile,
      {cnt("count(*)", "n_users")},
      {dbl("sum(x) / sum(sum(x)) OVER ()", "events_share")},
      {dbl("sum(sum(x)) OVER (ORDER BY decile"
           " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
           " / sum(sum(x)) OVER ()", "cum_events_share")},
      {dbl("2.0 * max(si_x) / (max(n) * max(sx)) - (max(n) + 1.0) / max(n)",
           "gini")}
    FROM (
      SELECT *,
        sum(i * x) OVER () AS si_x,
        sum(x) OVER () AS sx
      FROM deciled
    ) g
    GROUP BY decile
    ORDER BY decile
    """


def _semi_markov_sql(d: str) -> str:
    # C119 — semi-Markov HOLDING times per transition: C54's matrix
    # answers "where does the process go"; this answers "how long does
    # it sit first" — mean/median/p90 gap seconds per (prev_type →
    # next_type) pair, with the share of transitions landing inside
    # the 30-min session horizon (the _session_ctes gap).  One lag
    # window on the user_id partition (the C54 shuffle), one
    # ≤|types|²-row rollup.
    ep = epoch("ts", d)
    return f"""
    WITH steps AS (
      SELECT
        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS prev_type,
        event_type AS next_type,
        {ep} - lag({ep}) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS gap_s
      FROM events
    )
    SELECT
      prev_type,
      next_type,
      {cnt("count(*)", "n_transitions")},
      {dbl("avg(gap_s)", "mean_gap_s")},
      {dbl(pct("gap_s", 0.5, d), "p50_gap_s")},
      {dbl(pct("gap_s", 0.9, d), "p90_gap_s")},
      {dbl(
          "avg(CAST(CASE WHEN gap_s <= 1800.0 THEN 1 ELSE 0 END AS DOUBLE))",
          "within_session_share",
      )}
    FROM steps
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
    """


def _dau_overlap_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C120 — day-over-day active-user overlap: the Jaccard/retention/
    # newcomer decomposition of consecutive DAU sets (C91's stickiness
    # gives the RATIO of actives; this names the churn mechanics —
    # same count can be the same users or a full replacement).  The
    # distinct (user, day) frame materializes once; the overlap is a
    # user+day-shifted self-equi-join of that reduced frame (posting
    # style, never events×events); dailies are a tiny agg joined back.
    ep = epoch("ts", d)
    dau_sql = f"""
      SELECT DISTINCT user_id, CAST(floor({ep} / 86400.0) AS BIGINT) AS day
      FROM events
    """
    tail = f"""
    WITH daily AS (
      SELECT day, count(*) AS n FROM _mz_dau GROUP BY day
    ),
    inter AS (
      SELECT a.day AS day, count(*) AS n_both
      FROM _mz_dau a
      JOIN _mz_dau b ON b.user_id = a.user_id AND b.day = a.day + 1
      GROUP BY a.day
    )
    SELECT
      da.day AS day,
      {cnt("da.n", "n_active")},
      {cnt("db.n", "n_active_next")},
      {cnt("coalesce(i.n_both, 0)", "n_retained")},
      {dbl(
          "coalesce(i.n_both, 0)"
          " / CAST(da.n + db.n - coalesce(i.n_both, 0) AS DOUBLE)",
          "jaccard",
      )},
      {dbl("coalesce(i.n_both, 0) / CAST(da.n AS DOUBLE)", "retention")},
      {dbl(
          "(db.n - coalesce(i.n_both, 0)) / CAST(db.n AS DOUBLE)",
          "newcomer_share",
      )}
    FROM daily da
    JOIN daily db ON db.day = da.day + 1
    LEFT JOIN inter i ON i.day = da.day
    ORDER BY day
    """
    return [("_mz_dau", dau_sql)], tail


def _activity_by_tenure_sql(d: str) -> str:
    # C121 — activity INTENSITY by tenure week: C23's cohort retention
    # counts who comes back; this measures how hard they use it once
    # back (events per active user per tenure week — the engagement
    # decay curve).  Per-user first day is an agg + join back (the
    # line-dedup skew recipe: a groupBy-join, not a user window, so
    # AQE can split a hot user's probe side), then one bounded rollup.
    ep = epoch("ts", d)
    return f"""
    WITH first_day AS (
      SELECT user_id, min(CAST(floor({ep} / 86400.0) AS BIGINT)) AS day0
      FROM events
      GROUP BY user_id
    )
    SELECT
      CAST(floor((CAST(floor({ep} / 86400.0) AS BIGINT) - f.day0) / 7.0)
           AS BIGINT) AS tenure_week,
      {cnt("count(DISTINCT e.user_id)", "n_active_users")},
      {cnt("count(*)", "n_events")},
      {dbl("count(*) / CAST(count(DISTINCT e.user_id) AS DOUBLE)",
           "events_per_active_user")},
      {dbl("avg(e.value)", "mean_value")}
    FROM events e
    JOIN first_day f ON f.user_id = e.user_id
    GROUP BY CAST(floor((CAST(floor({ep} / 86400.0) AS BIGINT) - f.day0) / 7.0)
                  AS BIGINT)
    ORDER BY tenure_week
    """


def _session_conversion_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C122 — session conversion profile: conversion rate and in-session
    # time-to-purchase per (entry event type × session-length band) —
    # the session-GRAIN readout above C84's path mining and beside
    # C66's touch attribution (C66 credits channels; this asks which
    # session SHAPES convert).  The sessionized frame reduces to one
    # row per session in the same pass (min/max/purchase aggregates
    # over the shared _session_ctes construction), so the profile is a
    # bounded rollup over ≤|types|·|bands| cells.
    ep = epoch("ts", d)
    sess_sql = f"""
      WITH {_session_ctes(d)},
      seq AS (
        SELECT *,
          row_number() OVER (PARTITION BY user_id, session_idx
                             ORDER BY ts, event_id) AS rn
        FROM sess
      )
      SELECT
        user_id,
        session_idx,
        max(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
        count(*) AS n_events,
        min({ep}) AS t_start,
        min(CASE WHEN event_type = 'purchase' THEN {ep} END) AS t_purchase
      FROM seq
      GROUP BY user_id, session_idx
    """
    # the per-session frame has exactly one consumer (this rollup) so
    # it rides lazily in the tail (r13 fold — no eager job for it)
    tail = f"""
    WITH sess_conv AS (
      {sess_sql}
    )
    SELECT
      entry_type,
      CASE WHEN n_events = 1 THEN 'a_1'
           WHEN n_events <= 3 THEN 'b_2_3'
           WHEN n_events <= 10 THEN 'c_4_10'
           ELSE 'd_over_10' END AS length_band,
      {cnt("count(*)", "n_sessions")},
      {dbl("avg(CAST(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END AS DOUBLE))",
           "conversion_rate")},
      {dbl("avg(t_purchase - t_start)", "mean_s_to_purchase")},
      {dbl("avg(n_events)", "mean_session_events")}
    FROM sess_conv
    GROUP BY entry_type,
      CASE WHEN n_events = 1 THEN 'a_1'
           WHEN n_events <= 3 THEN 'b_2_3'
           WHEN n_events <= 10 THEN 'c_4_10'
           ELSE 'd_over_10' END
    ORDER BY entry_type, length_band
    """
    return [], tail


def _second_session_latency_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C123 — second-session RETURN latency by acquisition type: the
    # onboarding metric between C81's pooled retention curve and C88's
    # steady-state gaps — how fast does a NEW user come back for
    # session 2, split by what their first event was.  The per-session
    # start frame reduces from the shared sessionization in one pass;
    # everything downstream is per-user rows.
    ep = epoch("ts", d)
    starts_sql = f"""
      WITH {_session_ctes(d)},
      seq AS (
        SELECT *,
          row_number() OVER (PARTITION BY user_id, session_idx
                             ORDER BY ts, event_id) AS rn
        FROM sess
      )
      SELECT
        user_id,
        session_idx,
        min({ep}) AS t_start,
        max(CASE WHEN rn = 1 AND session_idx = 1 THEN event_type END)
          AS first_type
      FROM seq
      WHERE session_idx <= 2
      GROUP BY user_id, session_idx
    """
    lat = "(s2.t_start - s1.t_start) / 3600.0"
    tail = f"""
    WITH users AS (
      SELECT
        s1.user_id,
        s1.first_type,
        {lat} AS latency_h
      FROM _mz_sess_starts s1
      LEFT JOIN _mz_sess_starts s2
        ON s2.user_id = s1.user_id AND s2.session_idx = 2
      WHERE s1.session_idx = 1
    )
    SELECT
      first_type,
      {cnt("count(*)", "n_users")},
      {cnt("count(latency_h)", "n_returned")},
      {dbl("count(latency_h) / CAST(count(*) AS DOUBLE)", "return_rate")},
      {dbl(pct("latency_h", 0.5, d), "p50_latency_h")},
      {dbl(pct("latency_h", 0.9, d), "p90_latency_h")},
      {dbl("avg(CAST(CASE WHEN latency_h <= 24.0 THEN 1 ELSE 0 END AS DOUBLE))",
           "within_1d_share")}
    FROM users
    GROUP BY first_type
    ORDER BY first_type
    """
    return [("_mz_sess_starts", starts_sql)], tail


def _user_transfer_entropy_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D65 — per-user transfer entropy INTO the aggregate load process
    # (D54's pairwise slice TE re-grained to the behavioral table, the
    # r8 verdict backlog item): does knowing THIS user's hourly
    # activity improve the one-hour-ahead prediction of global load
    # beyond the load's own history?  TE(U→L) = Σ p(l⁺,l,u)·
    # log₂[p(l⁺|l,u)/p(l⁺|l)] (Schreiber 2000) with L binarized at the
    # median hourly count and U = active-this-hour.
    #
    # The scale design is the SPARSE-CELL identity (the r8 chi-square
    # lesson, applied proactively): a dense user×hour spine is
    # |users|·|hours| rows — a 100 TB killer.  Instead only ACTIVE
    # (user, hour) rows materialize (that's the data itself); the
    # inactive-cell counts come in closed form from the global pair
    # frame: c₀(l,l⁺) = N(l,l⁺) − c₁(l,l⁺), where N is the
    # ≤4-row aggregate pattern census every user shares.  All counts
    # are exact integers; each user sums ≤8 log terms.
    #
    # Scale (r13 optimization, guide §2.3/§2.4): ONE events scan — the
    # per-(user, hour) grouped frame is the only fact-sized reduction,
    # and BOTH original scans (hour census = sum of its counts, distinct
    # user-hours = its key set) derive from it.  The pair/census frames
    # are |hours|-bounded; the census totals (n_l, n) ride along as
    # window sums over the 4-row census instead of join-back CTEs, and
    # the per-(user, b, l) margin c_bl is a window over the dense grid
    # instead of a groupBy + 3-way re-join (the r13 plan audit measured
    # the old tail at 24 Exchanges / 6 SortMergeJoins; this shape runs
    # 2 materialize jobs instead of 5 — the dense grid itself is a pure
    # chain consumed once, so it rides lazily in the tail).
    ep = epoch("ts", d)
    base_sql = f"""
      SELECT user_id, CAST(floor({ep} / 3600.0) AS BIGINT) AS hr,
             count(*) AS n_uh
      FROM events
      GROUP BY user_id, CAST(floor({ep} / 3600.0) AS BIGINT)
    """
    pairs_sql = f"""
      WITH hours AS (
        SELECT hr, sum(n_uh) AS n_ev FROM _mz_ute_base GROUP BY hr
      ),
      med AS (
        SELECT {pct("n_ev", 0.5, d)} AS m FROM hours
      ),
      lab AS (
        SELECT hr,
          CASE WHEN n_ev > (SELECT m FROM med) THEN 1 ELSE 0 END AS l
        FROM hours
      )
      SELECT a.hr AS hr, a.l AS l, b.l AS lp
      FROM lab a
      JOIN lab b ON b.hr = a.hr + 1
    """
    # the per-user dense cell grid (b=1 from observed counts, b=0 in
    # closed form) rides IN the tail: every CTE below expands exactly
    # once (users × census × c1 → grid → dense → terms is a pure
    # chain), so an eager materialization of the 8·|users|-row frame
    # bought one extra job + checkpoint for nothing (r13 fold; the
    # OLD shape needed it because the term/margin consumers re-read
    # it — the margin is a window sum now).  The b dimension comes
    # from ONE 2-row cross join (the old UNION ALL duplicated the c1
    # LEFT JOIN), and the census totals + per-(user, b, l) margin are
    # window sums computed once.
    tail = f"""
    WITH ce_g AS (
      SELECT l, lp, count(*) AS big_n FROM _mz_ute_pairs GROUP BY l, lp
    ),
    cew_g AS (
      SELECT l, lp, big_n,
        sum(big_n) OVER (PARTITION BY l) AS n_l,
        sum(big_n) OVER () AS n
      FROM ce_g
    ),
    c1 AS (
      SELECT u.user_id, p.l, p.lp, count(*) AS c
      FROM _mz_ute_base u
      JOIN _mz_ute_pairs p ON p.hr = u.hr
      GROUP BY u.user_id, p.l, p.lp
    ),
    users AS (
      SELECT DISTINCT user_id FROM _mz_ute_base
    ),
    grid AS (
      SELECT
        us.user_id, ce.l, ce.lp, bb.b,
        CASE WHEN bb.b = 1 THEN coalesce(c1.c, 0)
             ELSE ce.big_n - coalesce(c1.c, 0) END AS c,
        ce.big_n, ce.n_l, ce.n
      FROM users us
      CROSS JOIN cew_g ce
      CROSS JOIN (SELECT 1 AS b UNION ALL SELECT 0 AS b) bb
      LEFT JOIN c1 ON c1.user_id = us.user_id
                  AND c1.l = ce.l AND c1.lp = ce.lp
    ),
    dense AS (
      SELECT user_id, l, lp, b, c, big_n, n_l, n,
        sum(c) OVER (PARTITION BY user_id, b, l) AS c_bl
      FROM grid
    ),
    terms AS (
      SELECT
        user_id,
        n,
        CASE WHEN c > 0 AND c_bl > 0 THEN
          (c / CAST(n AS DOUBLE)) * log2(
            (c / CAST(c_bl AS DOUBLE))
            / (big_n / CAST(n_l AS DOUBLE))
          )
        ELSE 0.0 END AS term
      FROM dense
    ),
    te AS (
      SELECT user_id, max(n) AS n, sum(term) AS te_bits
      FROM terms GROUP BY user_id
    ),
    ce AS (
      SELECT l, lp, count(*) AS big_n FROM _mz_ute_pairs GROUP BY l, lp
    ),
    cew AS (
      SELECT big_n,
        sum(big_n) OVER (PARTITION BY l) AS n_l,
        sum(big_n) OVER () AS n
      FROM ce
    ),
    hcond AS (
      SELECT
        -sum((big_n / CAST(n AS DOUBLE))
             * log2(big_n / CAST(n_l AS DOUBLE))) AS h_bits
      FROM cew
    )
    SELECT
      t.user_id,
      {cnt("t.n", "n_hour_pairs")},
      {dbl("t.te_bits", "te_bits")},
      {dbl("h.h_bits", "cond_entropy_bits")},
      {dbl(
          "CASE WHEN h.h_bits > 1e-12 THEN t.te_bits / h.h_bits"
          " ELSE 0.0 END",
          "te_share",
      )}
    FROM te t
    CROSS JOIN hcond h
    ORDER BY t.user_id
    """
    return [
        ("_mz_ute_base", base_sql),
        ("_mz_ute_pairs", pairs_sql),
    ], tail




def _user_specialization_sql(d: str) -> str:
    # C136 — user SPECIALIZATION profile by activity band: the entropy
    # of each user's event-type mix (0 bits = single-type specialist,
    # log2|types| = uniform generalist), rolled up per activity band —
    # the segmentation between C109's decile×type lift grid and C74's
    # process-level entropy rate (C74 is the corpus's sequence entropy;
    # this is each USER's repertoire breadth, and whether power users
    # diversify).  (user, type) agg → per-user entropy with the E75
    # round-before-log2 discipline → bounded band rollup.
    p = "round(c / CAST(n_u AS DOUBLE) + 1e-12, 6)"
    return f"""
    WITH ut AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events
      GROUP BY user_id, event_type
    ),
    per_user AS (
      SELECT
        user_id,
        sum(c) AS n_u
      FROM ut
      GROUP BY user_id
    ),
    h AS (
      SELECT
        u.user_id,
        p.n_u,
        -sum({p} * ln({p}) / ln(2.0)) AS h_bits
      FROM ut u
      JOIN per_user p ON p.user_id = u.user_id
      GROUP BY u.user_id, p.n_u
    )
    SELECT
      CASE WHEN n_u <= 10 THEN 'a_light'
           WHEN n_u <= 100 THEN 'b_regular'
           ELSE 'c_heavy' END AS activity_band,
      {cnt("count(*)", "n_users")},
      {dbl("avg(h_bits)", "mean_entropy_bits")},
      {dbl(pct("h_bits", 0.5, d), "p50_entropy_bits")},
      {dbl("avg(CAST(CASE WHEN h_bits < 0.5 THEN 1 ELSE 0 END AS DOUBLE))",
           "specialist_share")},
      {dbl("avg(CAST(CASE WHEN h_bits > 1.5 THEN 1 ELSE 0 END AS DOUBLE))",
           "generalist_share")}
    FROM h
    GROUP BY CASE WHEN n_u <= 10 THEN 'a_light'
                  WHEN n_u <= 100 THEN 'b_regular'
                  ELSE 'c_heavy' END
    ORDER BY activity_band
    """




def _order_cadence_sql(d: str) -> str:
    # C138 — order-cadence REGULARITY per market segment: each repeat
    # customer's coefficient of variation over inter-order gaps
    # (CV ≈ 0 = subscription-like clockwork, CV ≈ 1 = Poisson-random,
    # CV > 1 = bursty), rolled up per segment — C102 reports the
    # segment's gap SIZES; whether the rhythm is steady is what a
    # replenishment forecast actually needs.  One orders scan, a
    # customer-partitioned lag window, per-customer Σ/Σ² reduce, a
    # bounded segment rollup (≥3 orders so CV has ≥2 gaps).
    ep = epoch("o.o_orderdate", d)
    return f"""
    WITH gaps AS (
      SELECT
        c.c_mktsegment AS segment,
        o.o_custkey,
        ({ep} - lag({ep}) OVER (PARTITION BY o.o_custkey
                                ORDER BY o.o_orderdate, o.o_orderkey))
          / 86400.0 AS gap_d
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    per_cust AS (
      SELECT
        segment,
        o_custkey,
        count(gap_d) AS n_gaps,
        avg(gap_d) AS mu,
        stddev_samp(gap_d) AS sd
      FROM gaps
      GROUP BY segment, o_custkey
      HAVING count(gap_d) >= 2
    )
    SELECT
      segment,
      {cnt("count(*)", "n_repeat_customers")},
      {dbl("avg(mu)", "mean_gap_days")},
      {dbl("avg(sd / nullif(mu, 0.0))", "mean_cadence_cv")},
      {dbl(pct("sd / nullif(mu, 0.0)", 0.5, d), "p50_cadence_cv")},
      {dbl(
          "avg(CAST(CASE WHEN round(sd / nullif(mu, 0.0) + 1e-9, 4) < 0.5"
          " THEN 1 ELSE 0 END AS DOUBLE))",
          "clockwork_share",
      )}
    FROM per_cust
    GROUP BY segment
    ORDER BY segment
    """


QUERIES = [
    sql_backed("scd2_user_history", _scd2_runs_sql, ("events",)),
    materialized_backed("stickiness_ratio", _stickiness_parts, ("events",)),
    materialized_backed("markov_stationarity", _markov_stationarity_parts, ("events",)),
    sql_backed("lorenz_curve_users", _lorenz_sql, ("events",)),
    materialized_backed("customer_migration_matrix", _migration_parts, ("events",)),
    materialized_backed("user_type_affinity", _affinity_parts, ("events",)),
    materialized_backed("event_cooccurrence_lift", _cooccurrence_parts, ("events",)),
    sql_backed("kaplan_meier_lifetime", _kaplan_meier_sql, ("events",)),
    sql_backed("transition_matrix", _transition_matrix_sql, ("events",)),
    sql_backed("rfm_segments", _rfm_segments_sql, ("events",)),
    materialized_backed(
        "attribution_credit", _attribution_parts, ("events",),
    ),
    materialized_backed("sequence_entropy_rate", _entropy_rate_parts, ("events",)),
    sql_backed("session_paths", _session_paths_sql, ("events",)),
    sql_backed("session_stats", _session_stats_sql, ("events",)),
    sql_backed(
        "growth_accounting", _growth_accounting_sql, ("events",),
    ),
    sql_backed("semi_markov_holding_times", _semi_markov_sql, ("events",)),
    materialized_backed("dau_overlap_jaccard", _dau_overlap_parts, ("events",)),
    sql_backed("activity_by_tenure", _activity_by_tenure_sql, ("events",)),
    materialized_backed("session_conversion_profile",
                        _session_conversion_parts, ("events",)),
    materialized_backed("second_session_latency",
                        _second_session_latency_parts, ("events",)),
    materialized_backed("user_transfer_entropy",
                        _user_transfer_entropy_parts, ("events",)),
    sql_backed("user_specialization", _user_specialization_sql, ("events",)),
    sql_backed("order_cadence_regularity", _order_cadence_sql,
               ("orders", "customer")),
]


DORMANCY_DAYS = 7.0


def _dormancy_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C167 — dormancy-spell census: per-user gaps longer than
    # DORMANCY_DAYS are SPELLS — the quantity between C23's weekly
    # retention grid (did the user come back at all) and C90's growth
    # accounting (new/retained/resurrected per week): how LONG do
    # users go dark before resurrecting, and what share ever do.
    # C129's cadence CV sees dispersion; this isolates the heavy-gap
    # mass with its own distribution.
    #
    # Scale: one per-user lag window (bounded by user history), one
    # global rollup; spell stats ride exact percentiles over the
    # materialized <=|gaps| spell frame (referenced by both the
    # distribution agg and the per-user census — inlined, Spark would
    # re-run the lag window per reference).
    es = epoch("ts", d)
    spells_sql = f"""
      WITH seq AS (
        SELECT user_id,
          ({es} - lag({es}) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
          )) / 86400.0 AS gap_days
        FROM events
      )
      SELECT user_id, gap_days FROM seq
      WHERE gap_days > {DORMANCY_DAYS!r}
    """
    tail = f"""
    WITH users AS (
      SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users
      FROM events
    ),
    spell_users AS (
      SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_su
      FROM _mz_dorm_spells
    ),
    dist AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n_spells,
        avg(gap_days) AS mean_spell,
        {pct("gap_days", 0.5, d)} AS p50_spell,
        {pct("gap_days", 0.9, d)} AS p90_spell,
        max(gap_days) AS max_spell
      FROM _mz_dorm_spells
    )
    SELECT
      {cnt("u.n_users", "n_users")},
      {cnt("su.n_su", "n_users_with_spell")},
      {cnt("di.n_spells", "n_spells")},
      {dbl("di.mean_spell", "mean_spell_days")},
      {dbl("di.p50_spell", "p50_spell_days")},
      {dbl("di.p90_spell", "p90_spell_days")},
      {dbl("di.max_spell", "max_spell_days")},
      {dbl("CASE WHEN u.n_users > 0.0 THEN su.n_su / u.n_users "
           "ELSE 0.0 END", "resurrection_user_share")}
    FROM dist di CROSS JOIN users u CROSS JOIN spell_users su
    """
    return [("_mz_dorm_spells", spells_sql)], tail


QUERIES.extend([
    materialized_backed("dormancy_spell_profile", _dormancy_parts,
                        ("events",)),
])


HAZARD_RUNGS = 7


def _return_hazard_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C168 — discrete return-hazard ladder (the survival twin of
    # C167's dormancy census): h(k) = P(user returns on day k | hasn't
    # returned in the first k−1 days), for k = 1..7, over all
    # consecutive-event gaps.  Retention work reads this curve to
    # place the winback touchpoint — C23's cohort grid shows THAT
    # users decay, the hazard shows WHEN the marginal return
    # probability collapses.
    #
    # One per-user lag window → ONE materialized 1-row sum frame (2
    # sums per rung); the rung table unpivots from that tiny frame.
    es = epoch("ts", d)
    sums = ",\n        ".join(
        f"sum(CASE WHEN gap_days >= {k - 1}.0 THEN 1.0 ELSE 0.0 END) "
        f"AS at_risk_{k},\n        "
        f"sum(CASE WHEN gap_days >= {k - 1}.0 AND gap_days < {k}.0 "
        f"THEN 1.0 ELSE 0.0 END) AS ret_{k}"
        for k in range(1, HAZARD_RUNGS + 1)
    )
    gaps_sql = f"""
      WITH seq AS (
        SELECT
          ({es} - lag({es}) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
          )) / 86400.0 AS gap_days
        FROM events
      )
      SELECT
        CAST(count(gap_days) AS DOUBLE) AS n_gaps,
        {sums}
      FROM seq
    """
    branches = "\n      UNION ALL ".join(
        f"SELECT {k} AS day_k, n_gaps, at_risk_{k} AS at_risk, "
        f"ret_{k} AS returned FROM _mz_hz_sums"
        for k in range(1, HAZARD_RUNGS + 1)
    )
    tail = f"""
    WITH rungs AS (
      {branches}
    )
    SELECT
      CAST(day_k AS BIGINT) AS day_k,
      {cnt("n_gaps", "n_gaps")},
      {cnt("at_risk", "n_at_risk")},
      {cnt("returned", "n_returned")},
      {dbl("CASE WHEN at_risk > 0.0 THEN returned / at_risk "
           "ELSE 0.0 END", "hazard")},
      {dbl("CASE WHEN n_gaps > 0.0 THEN at_risk / n_gaps "
           "ELSE 0.0 END", "survival_share")}
    FROM rungs
    ORDER BY day_k
    """
    return [("_mz_hz_sums", gaps_sql)], tail


SESSION_GAP_S = 1800.0  # the C6 sessionizer's 30-minute threshold
DEPTH_CAP = 10


def _session_depth_sql(d: str) -> str:
    # C169 — value by position-in-session (the engagement fatigue
    # curve): is the 5th event of a session worth as much as the 1st?
    # C6 sessionizes and stops at session grain; this re-opens the
    # session and indexes its events.  Depths past DEPTH_CAP pool into
    # one tail bucket so the output stays bounded.
    #
    # Scale: two per-user windows (session start flags → running
    # session id → row_number within session) — all bounded by a
    # user's history, the C6 discipline; one ≤DEPTH_CAP+1 rollup.
    es = epoch("ts", d)
    return f"""
    WITH stepped AS (
      SELECT user_id, value, ts, event_id,
        CASE WHEN lag({es}) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) IS NULL
             OR {es} - lag({es}) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) > {SESSION_GAP_S!r}
             THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sessions AS (
      SELECT user_id, value, ts, event_id,
        sum(is_start) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS sess_id
      FROM stepped
    ),
    depths AS (
      SELECT value,
        least(CAST(row_number() OVER (
          PARTITION BY user_id, sess_id ORDER BY ts, event_id
        ) AS BIGINT), {DEPTH_CAP + 1}) AS depth
      FROM sessions
    )
    SELECT
      depth,
      {cnt("count(*)", "n_events")},
      {dbl("avg(value)", "mean_value")},
      {dbl("sum(value)", "total_value")}
    FROM depths
    GROUP BY depth
    ORDER BY depth
    """


QUERIES.extend([
    materialized_backed("return_hazard_ladder", _return_hazard_parts,
                        ("events",)),
    sql_backed("session_depth_value_curve", _session_depth_sql,
               ("events",)),
])
