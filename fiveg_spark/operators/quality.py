"""Data-quality / validation operators (pipeline hygiene at 100 TB).

Constraint checking as aggregation: null ratios, domain ranges,
referential integrity, duplicate keys — each check is a cheap aggregate
over one scan (or one broadcast-joined scan), so validating a 100 TB
drop costs one pass, not one pass per rule.

Also: window-function breadth (`window_functions_suite`) and the
non-equi interval join (`interval_join_stats`) — the remaining classic
analytics shapes.  All shared-text SQL, oracle-checked.
"""

from __future__ import annotations

from fiveg_spark.plans.registry import (
    cnt,
    dbl,
    epoch,
    json_int,
    materialized_backed,
    pct,
    sql_backed,
)


def _dq_checks_sql(d: str) -> str:
    # Rules sharing a table compute in ONE scan of it.  Spark unpivots
    # the per-table aggregate row with stack() (a UNION of per-rule
    # SELECTs would re-inline the aggregate and re-scan per rule — the
    # r6 plan audit measured 2 scans per table on that shape); DuckDB
    # keeps the straightforward UNION (it materializes CTEs, so the
    # oracle-side shape is cost-irrelevant).  The lineitem orphan join
    # preserves cardinality (o_orderkey unique), so the negative-qty
    # rule rides the same joined scan with an identical n_rows.
    if d == "spark":
        return """
        WITH ev AS (
          SELECT
            sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS v_null,
            sum(CASE WHEN value < 0 OR value > 1e6 THEN 1 ELSE 0 END) AS v_range,
            count(*) AS n
          FROM events
        ),
        li AS (
          SELECT
            sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS v_orphan,
            sum(CASE WHEN l.l_quantity <= 0 THEN 1 ELSE 0 END) AS v_neg,
            count(*) AS n
          FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        oc AS (
          SELECT
            sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS v,
            count(*) AS n
          FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        cu AS (
          SELECT count(*) - count(DISTINCT c_custkey) AS v, count(*) AS n
          FROM customer
        )
        SELECT rule, CAST(violations AS BIGINT) AS violations,
               CAST(n_rows AS BIGINT) AS n_rows
        FROM (
          SELECT stack(2,
            'events_null_props', v_null,
            'events_value_range', v_range) AS (rule, violations),
            n AS n_rows
          FROM ev
          UNION ALL
          SELECT stack(2,
            'lineitem_orphan_order', v_orphan,
            'lineitem_negative_qty', v_neg) AS (rule, violations),
            n AS n_rows
          FROM li
          UNION ALL
          SELECT 'orders_orphan_customer' AS rule, v AS violations, n AS n_rows
          FROM oc
          UNION ALL
          SELECT 'customer_dup_key' AS rule, v AS violations, n AS n_rows
          FROM cu
        ) unpivoted
        """
    return f"""
    SELECT 'events_null_props' AS rule,
      {cnt("sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)", "violations")},
      {cnt("count(*)", "n_rows")}
    FROM events
    UNION ALL
    SELECT 'events_value_range' AS rule,
      {cnt("sum(CASE WHEN value < 0 OR value > 1e6 THEN 1 ELSE 0 END)", "violations")},
      {cnt("count(*)", "n_rows")}
    FROM events
    UNION ALL
    SELECT 'orders_orphan_customer' AS rule,
      {cnt("sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)", "violations")},
      {cnt("count(*)", "n_rows")}
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem_orphan_order' AS rule,
      {cnt("sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)", "violations")},
      {cnt("count(*)", "n_rows")}
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'customer_dup_key' AS rule,
      {cnt("count(*) - count(DISTINCT c_custkey)", "violations")},
      {cnt("count(*)", "n_rows")}
    FROM customer
    UNION ALL
    SELECT 'lineitem_negative_qty' AS rule,
      {cnt("sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)", "violations")},
      {cnt("count(*)", "n_rows")}
    FROM lineitem
    """


def _window_suite_sql(d: str) -> str:
    # the remaining window-function family over the daily order series:
    # percent_rank / cume_dist / nth value via min-over-frame / range frame
    #
    # Scale note: the OVER () clauses are unpartitioned BY DESIGN — the
    # semantics are global ranks across days.  That is safe here because
    # they run on the `daily` AGGREGATE (one row per day: bounded at
    # ~365×years rows however big the fact table gets); the distributed
    # heavy lifting is the orders scan + groupBy(day) shuffle before it.
    # Spark's "No Partition Defined for Window" warning refers to this
    # intentionally tiny single-partition frame.
    return f"""
    WITH daily AS (
      SELECT
        CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
        sum(o_totalprice) AS revenue,
        count(*) AS n_orders
      FROM orders
      GROUP BY date_trunc('day', o_orderdate)
    )
    SELECT
      day,
      {dbl("revenue", "revenue")},
      {dbl("percent_rank() OVER (ORDER BY round(revenue, 4), day)", "pr")},
      {dbl("cume_dist() OVER (ORDER BY round(revenue, 4), day)", "cd")},
      {dbl("first_value(revenue) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)", "week_ago")},
      {dbl("sum(revenue) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)", "trailing_7d")},
      {cnt("count(*) OVER (ORDER BY day RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND CURRENT ROW)", "days_in_range")}
    FROM daily
    """


def _interval_join_sql(d: str) -> str:
    # non-equi (range) interval join: events matched into promo windows
    # derived from the highest-revenue days.  Spark: broadcast the tiny
    # interval table → BroadcastNestedLoopJoin on the range predicate;
    # DuckDB: IEJoin.  Same answer, different physical strategy.
    return f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             sum(o_totalprice) AS revenue
      FROM orders
      GROUP BY date_trunc('day', o_orderdate)
    ),
    promo AS (
      SELECT day AS promo_start,
             CAST(day + INTERVAL 2 DAY AS DATE) AS promo_end
      FROM daily
      ORDER BY round(revenue, 4) DESC, day
      LIMIT 5
    )
    SELECT
      p.promo_start,
      {cnt("count(e.event_id)", "n_events")},
      {dbl("sum(e.value)", "total_value")}
    FROM promo p
    LEFT JOIN events e
      ON CAST(e.ts AS DATE) >= p.promo_start
     AND CAST(e.ts AS DATE) < p.promo_end
    GROUP BY p.promo_start
    """


def _interval_join_binned_sql(d: str) -> str:
    # The SCALE path for the same interval join: explode each interval
    # into its covered day-bins and equi-join on the bin.  The range
    # predicate becomes a hash-joinable key, so the plan is a plain
    # (broadcastable) hash join instead of BroadcastNestedLoopJoin —
    # O(|events|) probe work instead of O(|events|·|intervals|) predicate
    # evaluations.  The standard binning trick for range joins when
    # interval lengths are bounded (bins per interval = length/bin_size);
    # identical answer to `interval_join_stats`, asserted in tests.
    if d == "spark":
        bins = "explode(sequence(promo_start, date_add(promo_start, 1), interval 1 day))"
    else:
        bins = (
            "unnest(CAST(generate_series(CAST(promo_start AS TIMESTAMP), "
            "CAST(promo_start AS TIMESTAMP) + INTERVAL 1 DAY, INTERVAL 1 DAY) "
            "AS DATE[]))"
        )
    return f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             sum(o_totalprice) AS revenue
      FROM orders
      GROUP BY date_trunc('day', o_orderdate)
    ),
    promo AS (
      SELECT day AS promo_start
      FROM daily
      ORDER BY round(revenue, 4) DESC, day
      LIMIT 5
    ),
    bins AS (
      SELECT promo_start, {bins} AS day_bin FROM promo
    )
    SELECT
      b.promo_start,
      {cnt("count(e.event_id)", "n_events")},
      {dbl("sum(e.value)", "total_value")}
    FROM bins b
    LEFT JOIN events e ON CAST(e.ts AS DATE) = b.day_bin
    GROUP BY b.promo_start
    """


def _table_profile_sql(d: str) -> str:
    # C42 — one-scan column profiler over events (the ANALYZE-style
    # statistics a pipeline collects before planning a 100 TB job):
    # rows / nulls / exact NDV / numeric min-max-mean per column, one
    # output row per column.  The profile aggregates in a SINGLE pass —
    # count(DISTINCT a), count(DISTINCT b), ... in one SELECT expands to
    # one expand-aggregate in Spark, still one scan of the fact table.
    # Timestamps profile via exact epoch micros; categoricals leave
    # numeric stats NULL.
    ep = (
        "CAST(unix_micros(ts) AS DOUBLE) / 1000000.0"
        if d == "spark"
        else "CAST(epoch_us(ts) AS DOUBLE) / 1000000.0"
    )
    cols = [
        ("value", "value", "CAST(value AS DOUBLE)"),
        ("user_id", "user_id", "CAST(user_id AS DOUBLE)"),
        ("ts", "ts", ep),
        ("event_type", "event_type", None),
    ]
    aggs, melts, stack_rows = [], [], []
    for name, src, num in cols:
        aggs.append(f"CAST(sum(CASE WHEN {src} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {name}_nulls")
        aggs.append(f"CAST(count(DISTINCT {src}) AS BIGINT) AS {name}_ndv")
        if num is not None:
            aggs.append(f"CAST(round(min({num}) + 1e-9, 4) + 0.0 AS DOUBLE) AS {name}_min")
            aggs.append(f"CAST(round(max({num}) + 1e-9, 4) + 0.0 AS DOUBLE) AS {name}_max")
            aggs.append(f"CAST(round(avg({num}) + 1e-9, 4) + 0.0 AS DOUBLE) AS {name}_mean")
            stats = (f"{name}_min", f"{name}_max", f"{name}_mean")
        else:
            stats = ("CAST(NULL AS DOUBLE)",) * 3
        stack_rows.append(
            f"'{name}', nr, {name}_nulls, {name}_ndv, {stats[0]}, {stats[1]}, {stats[2]}"
        )
        melts.append(
            f"SELECT '{name}' AS column_name, nr AS n_rows, {name}_nulls AS n_nulls, "
            f"{name}_ndv AS ndv, {stats[0]} AS min_v, {stats[1]} AS max_v, {stats[2]} AS mean_v FROM wide"
        )
    agg_list = ",\n        ".join(aggs)
    wide = f"""wide AS (
      SELECT
        CAST(count(*) AS BIGINT) AS nr,
        {agg_list}
      FROM events
    )"""
    if d == "spark":
        # stack() melts the ONE aggregated row — Spark inlines WITH-CTEs
        # into every reference, so a UNION-ALL melt would rescan events
        # once per column; stack keeps it to a single scan.
        rows = ",\n        ".join(stack_rows)
        return f"""
    WITH {wide}
    SELECT column_name, n_rows, n_nulls, ndv, min_v, max_v, mean_v FROM (
      SELECT stack({len(cols)},
        {rows}) AS (column_name, n_rows, n_nulls, ndv, min_v, max_v, mean_v)
      FROM wide
    )
    ORDER BY column_name
    """
    melted = "\n      UNION ALL ".join(melts)
    return f"""
    WITH {wide}
    {melted}
    ORDER BY column_name
    """


def _benford_digits_sql(d: str) -> str:
    # C63 — Benford first-digit screen over order totals: fabricated or
    # truncated numeric columns drift from the log10(1 + 1/d) first-
    # digit law, so per-digit observed-vs-expected deviation (and the
    # summed chi-square statistic, repeated on every row) is a standard
    # forensic data-quality check next to the rule-based dq_checks.
    # First digit = x / 10^floor(log10(x)) — pure arithmetic, portable.
    #
    # Scale: one scan, one 9-group hash-agg; the chi2 window runs over
    # the fixed 9-row spine.  Float edges: for x just under a power of
    # 10, log10 can round UP to the next decade (ratio floors to 0) and
    # for x at a power of 10 the ratio can floor to 10 — clamp BOTH
    # sides into 1..9.  The output always carries all nine digits (LEFT
    # JOIN against a literal spine): a digit that never occurs is the
    # strongest Benford violation and MUST contribute its full
    # (0 - N·p)²/(N·p) term to the count-based Pearson statistic.
    # Empty-input guards live INSIDE the window sum for chi2: the
    # per-row term is evaluated for the frame regardless of any outer
    # CASE branch, and total = 0 would divide by zero under ANSI mode.
    spine = " UNION ALL ".join(f"SELECT {i} AS digit" for i in range(1, 10))
    return f"""
    WITH ratio_digits AS (
      SELECT
        CAST(floor(o_totalprice / power(10.0, floor(log10(o_totalprice)))) AS INT) AS d0
      FROM orders
      WHERE o_totalprice > 0
    ),
    raw_digits AS (
      -- d0 < 1 only happens when log10 rounded UP at x just under a
      -- power of 10 — such a value's true first digit is always 9
      SELECT CASE WHEN d0 < 1 THEN 9 ELSE LEAST(d0, 9) END AS digit
      FROM ratio_digits
    ),
    counted AS (
      SELECT digit, count(*) AS n FROM raw_digits GROUP BY digit
    ),
    spine AS ({spine}),
    scored AS (
      SELECT
        s.digit,
        coalesce(c.n, 0) AS n,
        sum(coalesce(c.n, 0)) OVER () AS total,
        log10(1.0 + 1.0 / s.digit) AS expected
      FROM spine s LEFT JOIN counted c ON s.digit = c.digit
    )
    SELECT
      CAST(digit AS INT) AS digit,
      {cnt("n", "n_orders")},
      {dbl("CASE WHEN total = 0 THEN 0.0 ELSE n / CAST(total AS DOUBLE) END", "observed_frac")},
      {dbl("expected", "expected_frac")},
      {dbl("CASE WHEN total = 0 THEN 0.0 ELSE abs(n / CAST(total AS DOUBLE) - expected) END", "abs_dev")},
      {dbl(
        "sum(CASE WHEN total = 0 THEN 0.0 "
        "ELSE power(n - total * expected, 2) / (total * expected) END) OVER ()",
        "chi2_stat",
      )}
    FROM scored
    ORDER BY digit
    """


def _partition_completeness_sql(d: str) -> str:
    # C76 — partition completeness / freshness monitor per (event_type,
    # day): the data-ops check a 100 TB ingestion runs on every landed
    # partition BEFORE downstream jobs consume it — how many hour
    # buckets actually arrived vs the day's observed span, and the
    # longest silent gap inside the span.  A completeness below 1.0
    # with a large max_gap means a backfill hole, not a late start
    # (late start/early stop shrink the span instead).  Complements
    # C42's table_profile (column-level) with the PARTITION-level
    # wholeness question, and C22's backfill operator consumes exactly
    # this frame to decide which (type, day) cells to re-run.
    #
    # Parity: hour buckets and gaps are exact integer-derived epoch
    # arithmetic — identical doubles both engines; no float aggregation
    # beyond integer ratios.
    #
    # Scale: one scan pre-aggregated to (type, day, hour) — the gap
    # window and the day rollup both run on that tiny frame, keyed by
    # the same (type, day) so the shuffle is reused.
    return f"""
    WITH hourly AS (
      SELECT
        event_type,
        date_trunc('day', ts) AS day_ts,
        date_trunc('hour', ts) AS h,
        count(*) AS n
      FROM events
      GROUP BY event_type, date_trunc('day', ts), date_trunc('hour', ts)
    ),
    gapped AS (
      SELECT
        event_type,
        day_ts,
        h,
        n,
        ({epoch("h", d)}
         - {epoch("lag(h) OVER (PARTITION BY event_type, day_ts ORDER BY h)", d)}
        ) / 3600.0 AS gap_h
      FROM hourly
    )
    SELECT
      event_type,
      CAST(day_ts AS DATE) AS day,
      {cnt("sum(n)", "n_events")},
      {cnt("count(*)", "hours_active")},
      {cnt(
          f"({epoch('max(h)', d)} - {epoch('min(h)', d)}) / 3600.0 + 1",
          "span_hours",
      )},
      {dbl(
          f"count(*) / (({epoch('max(h)', d)} - {epoch('min(h)', d)}) / 3600.0 + 1)",
          "completeness",
      )},
      {dbl("coalesce(max(gap_h), 1.0)", "max_gap_hours")},
      CAST(count(*)
           < ({epoch("max(h)", d)} - {epoch("min(h)", d)}) / 3600.0 + 1
           AS BOOLEAN) AS has_holes
    FROM gapped
    GROUP BY event_type, day_ts
    ORDER BY event_type, day
    """


def _dq_trend_sql(d: str) -> str:
    # C100 — data-quality TREND per ingest day: C20's constraint pass
    # has one global scorecard; this is its time axis — the per-day
    # null/invalid/duplicate/coverage ledger an on-call reads to see
    # WHEN quality broke, on a calendar-day spine so a fully-silent day
    # reports a row of zeros (the r7 ledger lesson — the worst ingest
    # failure is the one that emits nothing).  Checks: NULL values,
    # non-positive values, duplicate event_ids (count − distinct),
    # hour-of-day coverage, and props-JSON parse success (the A4
    # extraction, registry.json_int — THE shared parser).
    #
    # Scale: one events scan → per-day hash-agg (count-distincts key on
    # (day, id)/(day, hour) — bounded per day); spine join is |days|.
    day = f"CAST(floor({epoch('ts', d)} / 86400.0) AS BIGINT)"
    if d == "spark":
        spine = "SELECT explode(sequence(d0, d1)) AS day_idx FROM bounds"
    else:
        spine = "SELECT unnest(generate_series(d0, d1)) AS day_idx FROM bounds"
    return f"""
    WITH daily AS (
      SELECT
        {day} AS day_idx,
        count(*) AS n_events,
        sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS n_null_value,
        sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS n_nonpositive_value,
        count(*) - count(DISTINCT event_id) AS n_dup_event_ids,
        count(DISTINCT CAST(floor({epoch('ts', d)} / 3600.0) AS BIGINT))
          AS hours_covered,
        sum(CASE WHEN {json_int("props", "k", d)} IS NULL THEN 1 ELSE 0 END)
          AS n_props_parse_fail
      FROM events
      GROUP BY {day}
    ),
    bounds AS (
      SELECT min(day_idx) AS d0, max(day_idx) AS d1 FROM daily
    ),
    spine AS ({spine})
    SELECT
      {cnt("s.day_idx", "day_idx")},
      {cnt("coalesce(dd.n_events, 0)", "n_events")},
      {cnt("coalesce(dd.n_null_value, 0)", "n_null_value")},
      {cnt("coalesce(dd.n_nonpositive_value, 0)", "n_nonpositive_value")},
      {cnt("coalesce(dd.n_dup_event_ids, 0)", "n_dup_event_ids")},
      {cnt("coalesce(dd.hours_covered, 0)", "hours_covered")},
      {dbl("coalesce(dd.hours_covered, 0) / 24.0", "hour_coverage_ratio")},
      {dbl(
          "1.0 - coalesce(dd.n_props_parse_fail, 0)"
          " / CAST(nullif(coalesce(dd.n_events, 0), 0) AS DOUBLE)",
          "props_parse_ok_ratio",
      )}
    FROM spine s
    LEFT JOIN daily dd ON dd.day_idx = s.day_idx
    ORDER BY s.day_idx
    """


def _fk_orphan_audit_sql(d: str) -> str:
    # C124 — one consolidated referential-integrity audit over EVERY
    # foreign-key edge of the star schema (C20's dq_checks asserts
    # per-table rules; this is the cross-table contract): orphan count
    # + rate per edge, one row each, so a single dashboard cell answers
    # "can I trust the joins today".  Each edge is a LEFT JOIN + null
    # count against the DE-DUPLICATED parent key set — joining the raw
    # parent would fan matched children out under duplicate parent
    # keys (exactly the doubled-partition scenario this audit family
    # exists to catch) and understate the orphan rate on the one run
    # where it matters.  UNION ALL of six bounded 1-row aggregates.
    def edge(name: str, child: str, ck: str, parent: str, pk: str) -> str:
        return f"""
    SELECT
      '{name}' AS fk_edge,
      {cnt("count(*)", "n_child_rows")},
      {cnt(f"sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)", "n_orphans")},
      {dbl(
          f"sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)"
          " / CAST(count(*) AS DOUBLE)",
          "orphan_rate",
      )}
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p ON p.{pk} = c.{ck}"""

    edges = "\n    UNION ALL\n".join([
        edge("lineitem->orders", "lineitem", "l_orderkey",
             "orders", "o_orderkey"),
        edge("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        edge("lineitem->supplier", "lineitem", "l_suppkey",
             "supplier", "s_suppkey"),
        edge("orders->customer", "orders", "o_custkey",
             "customer", "c_custkey"),
        edge("customer->nation", "customer", "c_nationkey",
             "nation", "n_nationkey"),
        edge("supplier->nation", "supplier", "s_nationkey",
             "nation", "n_nationkey"),
    ])
    return f"""
    SELECT * FROM (
    {edges}
    ) audit
    ORDER BY fk_edge
    """


def _pk_uniqueness_audit_sql(d: str) -> str:
    # C125 — primary-key uniqueness audit across every table in one
    # frame: n_rows vs n_distinct keys and the duplicate surplus — the
    # first thing a pipeline asserts after ingest (a silently-doubled
    # partition shows up here before it poisons every downstream agg).
    # Per table: one count-distinct agg (Spark plans partial distinct
    # map-side); UNION ALL of 1-row frames.
    def tbl(name: str, key: str) -> str:
        return f"""
    SELECT
      '{name}' AS table_name,
      {cnt("count(*)", "n_rows")},
      {cnt(f"count(DISTINCT {key})", "n_keys")},
      {cnt(f"count(*) - count(DISTINCT {key})", "n_duplicate_rows")},
      (count(*) = count(DISTINCT {key})) AS unique_ok
    FROM {name}"""

    parts = "\n    UNION ALL\n".join([
        tbl("region", "r_regionkey"),
        tbl("nation", "n_nationkey"),
        tbl("customer", "c_custkey"),
        tbl("supplier", "s_suppkey"),
        tbl("part", "p_partkey"),
        tbl("orders", "o_orderkey"),
        tbl("lineitem",
            "CAST(l_orderkey AS STRING) || '#' || CAST(l_linenumber AS STRING)"
            if d == "spark" else
            "CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)"),
        tbl("events", "event_id"),
        tbl("documents", "doc_id"),
        tbl("embeddings", "vec_id"),
    ])
    return f"""
    SELECT * FROM (
    {parts}
    ) audit
    ORDER BY table_name
    """


def _column_stat_drift_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C126 — column-statistic drift between the first and second half
    # of the events table (split at the median timestamp): null rate,
    # mean, p50, and distinct-rate per column, with the relative shift
    # — the COLUMN-grain drift monitor between C100's row-grain rule
    # trend and D27's distribution-grain PSI (a schema-level change
    # like "value went all-null after the deploy" hits here first).
    # The era-tagged frame materializes ONCE — inlined, the three
    # per-column UNION branches re-ran the scan+median chain per
    # reference (the advisor sweep measured 6 FileScans; this is
    # exactly the CTE-inlining disease the sweep exists to catch).
    ep = epoch("ts", d)

    def half(col: str, agg: str, flip: str) -> str:
        return f"{agg}(CASE WHEN era = '{flip}' THEN {col} END)"

    def stat_rows(col: str, num: bool) -> str:
        nullr = lambda h: (
            f"sum(CASE WHEN era = '{h}' AND {col} IS NULL THEN 1.0 ELSE 0.0 END)"
            f" / nullif(sum(CASE WHEN era = '{h}' THEN 1.0 ELSE 0.0 END), 0.0)"
        )
        meane = (lambda h: half(col, "avg", h)) if num else (
            lambda h: f"CAST(count(DISTINCT CASE WHEN era = '{h}' THEN {col} END) AS DOUBLE)"
        )
        return f"""
    SELECT
      '{col}' AS column_name,
      {dbl(nullr('h1'), "null_rate_h1")},
      {dbl(nullr('h2'), "null_rate_h2")},
      {dbl(meane('h1'), "stat_h1")},
      {dbl(meane('h2'), "stat_h2")},
      {dbl(
          f"({meane('h2')} - {meane('h1')})"
          f" / nullif(abs({meane('h1')}), 0.0)",
          "rel_shift",
      )}
    FROM _mz_csd_tagged"""

    rows = "\n    UNION ALL\n".join([
        stat_rows("value", True),
        stat_rows("user_id", True),
        stat_rows("event_type", False),
    ])
    tagged_sql = f"""
      WITH med AS (
        SELECT {pct(ep, 0.5, d)} AS t_med FROM events
      )
      SELECT
        value, user_id, event_type,
        CASE WHEN {ep} <= (SELECT t_med FROM med) THEN 'h1' ELSE 'h2' END
          AS era
      FROM events
    """
    tail = f"""
    SELECT * FROM (
    {rows}
    ) drift
    ORDER BY column_name
    """
    return [("_mz_csd_tagged", tagged_sql)], tail


QUERIES = [
    sql_backed("table_profile", _table_profile_sql, ("events",)),
    sql_backed("dq_trend_daily", _dq_trend_sql, ("events",)),
    sql_backed("partition_completeness", _partition_completeness_sql, ("events",)),
    sql_backed("dq_checks", _dq_checks_sql, ("events", "orders", "customer", "lineitem")),
    sql_backed("window_functions_suite", _window_suite_sql, ("orders",)),
    sql_backed("interval_join_stats", _interval_join_sql, ("orders", "events")),
    sql_backed("interval_join_binned", _interval_join_binned_sql, ("orders", "events")),
    sql_backed("benford_digits", _benford_digits_sql, ("orders",)),
    sql_backed("fk_orphan_audit", _fk_orphan_audit_sql,
               ("lineitem", "orders", "part", "supplier", "customer",
                "nation")),
    sql_backed("pk_uniqueness_audit", _pk_uniqueness_audit_sql,
               ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "documents", "embeddings")),
    materialized_backed("column_stat_drift", _column_stat_drift_parts,
                        ("events",)),
]


def _fk_fanout_sql(d: str) -> str:
    # C174 — FK fan-out profile per join edge: children-per-parent
    # distribution for every fact→dim edge (lineitem→orders/part/
    # supplier, orders→customer).  THE join-planning statistic C124's
    # orphan audit doesn't give: a p99/mean fan-out ratio ≫ 1 is key
    # skew — the single number that predicts which join explodes at
    # 100 TB and needs the C51 salting treatment.
    #
    # Scale: the three lineitem edges share ONE scan via GROUPING SETS
    # on the three keys (the C163 lattice trick); orders→customer is
    # its own single scan; the distribution stats ride the ≤|parents|
    # rollups.
    li = """
      SELECT
        CASE WHEN grouping(l_orderkey) = 0 THEN 'lineitem->orders'
             WHEN grouping(l_partkey) = 0 THEN 'lineitem->part'
             ELSE 'lineitem->supplier' END AS edge,
        count(*) AS fanout
      FROM lineitem
      GROUP BY GROUPING SETS ((l_orderkey), (l_partkey), (l_suppkey))
    """
    oc = """
      SELECT 'orders->customer' AS edge, count(*) AS fanout
      FROM orders GROUP BY o_custkey
    """
    return f"""
    WITH parents AS (
      {li}
      UNION ALL
      {oc}
    ),
    prof AS (
      SELECT edge,
        CAST(count(*) AS BIGINT) AS n_parents,
        CAST(sum(fanout) AS DOUBLE) AS n_children,
        avg(CAST(fanout AS DOUBLE)) AS mean_fanout,
        {pct("CAST(fanout AS DOUBLE)", 0.5, d)} AS p50,
        {pct("CAST(fanout AS DOUBLE)", 0.99, d)} AS p99,
        CAST(max(fanout) AS DOUBLE) AS mx
      FROM parents GROUP BY edge
    )
    SELECT
      edge,
      {cnt("n_parents", "n_parents")},
      {cnt("n_children", "n_children")},
      {dbl("mean_fanout", "mean_fanout")},
      {dbl("p50", "p50_fanout")},
      {dbl("p99", "p99_fanout")},
      {dbl("mx", "max_fanout")},
      {dbl("mx / nullif(mean_fanout, 0.0)", "skew_ratio")}
    FROM prof
    ORDER BY edge
    """


QUERIES.extend([
    sql_backed("fk_fanout_profile", _fk_fanout_sql,
               ("lineitem", "orders")),
])
