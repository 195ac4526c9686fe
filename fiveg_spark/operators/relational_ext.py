"""Extended relational breadth (SURVEY §2 C-block widening).

Join-shape and aggregation-shape coverage beyond the core star queries:
outer-join aggregation, anti/semi joins, ROLLUP hierarchies, CASE-based
pivots, per-group top-k, ntile banding.  Everything is shared-text SQL
(both engines run the same statement), so oracle parity is structural.

Scale notes: the anti/semi joins build on the orders/customer keys that
also drive the core joins — broadcast when small, shuffle+AQE when not;
ROLLUP expands per grouping set BEFORE the shuffle (Spark's Expand),
which is the map-side-combine-friendly layout; the per-group top-k uses
a rank window partitioned by the group key (never a global sort).
"""

from __future__ import annotations

from fiveg_spark.plans.registry import NUDGE, cnt, dbl, epoch, materialized_backed, pct, sql_backed


def _q13_order_counts_sql(d: str) -> str:
    # C9: customer order-count distribution (TPC-H Q13 shape: LEFT OUTER
    # JOIN + two-level aggregation; NULL-group handling differs from an
    # inner join and is exactly what this checks).
    return f"""
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT
      {cnt("n_orders", "n_orders")},
      {cnt("count(*)", "n_customers")}
    FROM per_cust
    GROUP BY n_orders
    """


def _customers_without_orders_sql(d: str) -> str:
    # C10: anti join (NOT EXISTS) — distributes as a left-anti hash join.
    # The correlated predicate keeps the selected set non-empty on the
    # synthetic data (every customer has SOME order).
    return f"""
    SELECT
      c.c_nationkey,
      {cnt("count(*)", "n_inactive")},
      {dbl("avg(c.c_acctbal)", "avg_balance")}
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
    )
    GROUP BY c.c_nationkey
    """


def _active_high_value_sql(d: str) -> str:
    # C11: semi join (EXISTS) with a correlated value predicate.
    return f"""
    SELECT
      c.c_mktsegment,
      {cnt("count(*)", "n_active")},
      {dbl("max(c.c_acctbal)", "max_balance")}
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
    GROUP BY c.c_mktsegment
    """


def _rollup_revenue_sql(d: str) -> str:
    # C12: ROLLUP hierarchy region → nation with grouping flags.
    return f"""
    SELECT
      coalesce(r.r_name, 'ALL') AS region,
      coalesce(n.n_name, 'ALL') AS nation,
      {cnt("grouping(r.r_name)", "g_region")},
      {cnt("grouping(n.n_name)", "g_nation")},
      {dbl("sum(o.o_totalprice)", "revenue")},
      {cnt("count(*)", "n_orders")}
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """


def _event_type_pivot_sql(d: str) -> str:
    # C13: pivot via conditional aggregation (portable PIVOT).
    def bucket(et: str) -> str:
        return f"sum(CASE WHEN event_type = '{et}' THEN value ELSE 0 END)"

    return f"""
    SELECT
      CAST(date_trunc('day', ts) AS DATE) AS day,
      {dbl(bucket("click"), "click_value")},
      {dbl(bucket("view"), "view_value")},
      {dbl(bucket("purchase"), "purchase_value")},
      {dbl(bucket("signup"), "signup_value")},
      {dbl(bucket("error"), "error_value")}
    FROM events
    GROUP BY date_trunc('day', ts)
    """


def _top_customers_per_nation_sql(d: str) -> str:
    # C14: per-group top-k — rank window partitioned by the group key.
    return f"""
    WITH spend AS (
      SELECT c.c_nationkey, c.c_custkey, sum(o.o_totalprice) AS total
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey, c.c_custkey
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (
          PARTITION BY c_nationkey
          ORDER BY round(total, 4) DESC, c_custkey
        ) AS rnk
      FROM spend
    )
    SELECT
      c_nationkey,
      {cnt("rnk", "rnk")},
      {cnt("c_custkey", "c_custkey")},
      {dbl("total", "total_spend")}
    FROM ranked
    WHERE rnk <= 3
    """


def _balance_bands_sql(d: str) -> str:
    # C15: ntile banding + per-band stats (equi-depth histogram shape).
    return f"""
    WITH banded AS (
      SELECT
        c_acctbal,
        ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS band
      FROM customer
    )
    SELECT
      {cnt("band", "band")},
      {cnt("count(*)", "n")},
      {dbl("min(c_acctbal)", "lo")},
      {dbl("max(c_acctbal)", "hi")},
      {dbl("avg(c_acctbal)", "avg_bal")}
    FROM banded
    GROUP BY band
    """


def _full_outer_daily_sql(d: str) -> str:
    # C60 — FULL OUTER join of two independently-aggregated daily
    # frames (order revenue vs event volume).  The testdata date ranges
    # barely overlap (TPC-H 1992-98 vs events 2024), so BOTH null sides
    # carry real weight — the align-two-calendars shape reconciliation
    # pipelines use.  Each side is one scan + one agg; the join keys are
    # the tiny aggregated day frames.
    return f"""
    WITH order_days AS (
      SELECT
        CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
        sum(o_totalprice) AS revenue,
        count(*) AS n_orders
      FROM orders
      GROUP BY date_trunc('day', o_orderdate)
    ),
    event_days AS (
      SELECT
        CAST(date_trunc('day', ts) AS DATE) AS day,
        sum(value) AS total_value,
        count(*) AS n_events
      FROM events
      GROUP BY date_trunc('day', ts)
    )
    SELECT
      coalesce(o.day, e.day) AS day,
      {dbl("coalesce(o.revenue, 0.0)", "revenue")},
      {cnt("coalesce(o.n_orders, 0)", "n_orders")},
      {dbl("coalesce(e.total_value, 0.0)", "total_value")},
      {cnt("coalesce(e.n_events, 0)", "n_events")},
      CAST(o.day IS NOT NULL AND e.day IS NOT NULL AS BOOLEAN) AS both_sides
    FROM order_days o
    FULL JOIN event_days e ON o.day = e.day
    """


def _lateral_topk_sql(d: str) -> str:
    # C61 — correlated LATERAL subquery: per-customer top-3 orders by
    # price, expressed as a lateral join (the planner feature) rather
    # than the row_number window of C14 — a genuinely different plan
    # family for the same semantics.  The rounded price is the ranking
    # key (cross-engine determinism, tiebreak o_orderkey).  The customer
    # side is pre-filtered so the pushdown reaches the scan.
    return f"""
    SELECT
      c.c_custkey,
      {cnt("t.o_orderkey", "o_orderkey")},
      {dbl("t.o_totalprice", "o_totalprice")}
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY round(o_totalprice, 4) DESC, o_orderkey
      LIMIT 3
    ) t
    WHERE c.c_custkey <= 200
    """


def _hhi_sql(d: str) -> str:
    # C75 — Herfindahl-Hirschman supply-concentration index per part
    # brand: supplier shares of shipped quantity squared and summed —
    # the standard market-concentration metric (DOJ/FTC horizontal
    # merger guidelines use 0.15/0.25 cutoffs on the 0-1 scale), here
    # answering "which brands depend on few suppliers" from the fact
    # table.  Share arithmetic is ratio-of-sums (engine-identical); the
    # concentration class branches on the ROUNDED hhi (round-before-
    # branch discipline).
    #
    # Scale: one lineitem scan joined to the broadcast part dim, one
    # (brand, supplier) agg, then a |brands|·|suppliers|-row rollup —
    # the shuffles are the same family as q14's.
    return f"""
    WITH shipped AS (
      SELECT p.p_brand, l.l_suppkey, sum(l.l_quantity) AS qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand, l.l_suppkey
    ),
    shares AS (
      SELECT
        p_brand,
        qty / sum(qty) OVER (PARTITION BY p_brand) AS share
      FROM shipped
    ),
    hhi AS (
      SELECT
        p_brand,
        count(*) AS n_suppliers,
        round(sum(share * share) + {NUDGE}, 4) + 0.0 AS h,
        round(max(share) + {NUDGE}, 4) + 0.0 AS top_share
      FROM shares
      GROUP BY p_brand
    )
    SELECT
      p_brand,
      {cnt("n_suppliers", "n_suppliers")},
      CAST(h AS DOUBLE) AS hhi,
      CAST(top_share AS DOUBLE) AS top_share,
      CASE WHEN h > 0.25 THEN 'concentrated'
           WHEN h > 0.15 THEN 'moderate'
           ELSE 'unconcentrated' END AS market_class
    FROM hhi
    ORDER BY p_brand
    """


def _trade_balance_sql(d: str) -> str:
    # C96 — per-nation trade balance over the star: export revenue
    # (lineitems supplied FROM the nation) vs import revenue (lineitems
    # ordered BY the nation's customers), net balance, and each
    # nation's share of world trade.  The macro rollup of the C83/C85
    # edge-level trade graph — same revenue convention
    # (extendedprice·(1−discount)), aggregated to the nation ledger.
    #
    # Scale: two independent fact aggregations (each one shuffle keyed
    # by a nation key after a broadcast dim join), merged on the tiny
    # nation table — never a fact×fact join.
    rev = "l_extendedprice * (1.0 - l_discount)"
    return f"""
    WITH exports AS (
      SELECT s.s_nationkey AS nk, sum({rev}) AS v
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey
    ),
    imports AS (
      SELECT c.c_nationkey AS nk, sum({rev}) AS v
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey
    ),
    ledger AS (
      SELECT
        n.n_name AS nation,
        coalesce(e.v, 0.0) AS exp_v,
        coalesce(i.v, 0.0) AS imp_v
      FROM nation n
      LEFT JOIN exports e ON e.nk = n.n_nationkey
      LEFT JOIN imports i ON i.nk = n.n_nationkey
    )
    SELECT
      nation,
      {dbl("exp_v", "export_revenue")},
      {dbl("imp_v", "import_revenue")},
      {dbl("exp_v - imp_v", "trade_balance")},
      {dbl("(exp_v + imp_v) / nullif(sum(exp_v + imp_v) OVER (), 0.0)",
           "world_trade_share")}
    FROM ledger
    ORDER BY nation
    """


def _abc_classes_sql(d: str) -> str:
    # C94 — ABC/Pareto revenue classification per market segment:
    # customers ranked by lifetime order value inside their segment,
    # class A = the head until 80% cumulative revenue, B until 95%,
    # C the tail.  The inventory-management classic, and the query
    # shape behind every "top customers drive X% of revenue" claim.
    #
    # Engine parity: per-customer revenue is rounded to 4 dp BEFORE
    # ranking/cumulating (hash-agg sum order differs across engines;
    # rounded inputs + a fully deterministic (revenue, custkey) order
    # make the running sum bit-identical — the running sum itself adds
    # in window order on both engines).  Scale: one orders shuffle by
    # custkey, one segment-partitioned rank window (|customers| rows),
    # then a |segments|·3 rollup.
    return f"""
    WITH per_cust AS (
      SELECT
        c.c_mktsegment AS segment,
        c.c_custkey AS ck,
        round(sum(o.o_totalprice) + {NUDGE}, 4) AS rev
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, c.c_custkey
    ),
    cum AS (
      SELECT
        segment, rev,
        sum(rev) OVER (PARTITION BY segment ORDER BY rev DESC, ck
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          / nullif(sum(rev) OVER (PARTITION BY segment), 0.0) AS cum_share
      FROM per_cust
    ),
    classed AS (
      SELECT
        segment, rev,
        CASE WHEN round(cum_share + {NUDGE}, 4) <= 0.80 THEN 'A'
             WHEN round(cum_share + {NUDGE}, 4) <= 0.95 THEN 'B'
             ELSE 'C' END AS abc_class
      FROM cum
    )
    SELECT
      segment,
      abc_class,
      {cnt("count(*)", "n_customers")},
      {dbl("sum(rev)", "class_revenue")},
      {dbl("sum(rev) / nullif(sum(sum(rev)) OVER (PARTITION BY segment), 0.0)",
           "revenue_share")},
      {dbl("count(*) / CAST(sum(count(*)) OVER (PARTITION BY segment) AS DOUBLE)",
           "customer_share")}
    FROM classed
    GROUP BY segment, abc_class
    ORDER BY segment, abc_class
    """


def _revenue_gini_sql(d: str) -> str:
    # C111 — revenue-concentration Gini per market segment (C45's
    # exact rank formula, population = customers): the single-number
    # summary behind C94's ABC classes — ABC says WHERE the 80% line
    # falls, Gini says how unequal the whole distribution is, so the
    # two together detect a concentration SHIFT even when the class
    # boundaries stay put.  Per-customer revenue rounds before ranking
    # (the C94 parity rule); ties contribute identical Σi·x under any
    # tie order, so the (rev, custkey) rank is deterministic AND
    # order-insensitive.
    #
    # Scale: one orders shuffle by custkey, one segment rank window
    # over |customers| rows, 5-row rollup.
    return f"""
    WITH per_cust AS (
      SELECT
        c.c_mktsegment AS segment,
        c.c_custkey AS ck,
        round(sum(o.o_totalprice) + {NUDGE}, 4) AS rev
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, c.c_custkey
    ),
    ranked AS (
      SELECT
        segment, rev,
        CAST(row_number() OVER (PARTITION BY segment ORDER BY rev, ck)
             AS DOUBLE) AS i
      FROM per_cust
    )
    SELECT
      segment,
      {cnt("count(*)", "n_customers")},
      {dbl("sum(rev)", "segment_revenue")},
      {dbl(
          "2.0 * sum(i * rev) / (count(*) * sum(rev))"
          " - (count(*) + 1.0) / count(*)",
          "revenue_gini",
      )},
      {dbl("max(rev) / sum(rev)", "top_customer_share")}
    FROM ranked
    GROUP BY segment
    ORDER BY segment
    """


def _revenue_waterfall_sql(d: str) -> str:
    # C108 — revenue WATERFALL per ship year: the gross → −discount →
    # net → +tax → charged bridge (TPC-H Q1's aggregate family
    # re-shaped as the finance-reporting decomposition), with each
    # step's share of gross — the reconciliation row a revenue
    # dashboard shows before any drill-down.  One scan, conditional
    # sums only; the in-row identity net = gross − discount_amt ships
    # as a certified boolean (Q1-style amounts recomputed two ways).
    # Calendar year via the engines' own year() — a 365.25-day epoch
    # bin drifts from the calendar (1998-01-01 would land in 1997).
    yr = "CAST(year(l_shipdate) AS BIGINT)"
    return f"""
    SELECT
      {cnt(yr, "ship_year")},
      {cnt("count(*)", "n_lineitems")},
      {dbl("sum(l_extendedprice)", "gross")},
      {dbl("sum(l_extendedprice * l_discount)", "discount_amt")},
      {dbl("sum(l_extendedprice * (1.0 - l_discount))", "net")},
      {dbl("sum(l_extendedprice * (1.0 - l_discount) * l_tax)", "tax_amt")},
      {dbl("sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax))",
           "charged")},
      {dbl("sum(l_extendedprice * l_discount) / nullif(sum(l_extendedprice), 0.0)",
           "discount_share")},
      (abs(round(sum(l_extendedprice) - sum(l_extendedprice * l_discount)
                 - sum(l_extendedprice * (1.0 - l_discount)) + {NUDGE}, 2))
         <= 0.01) AS bridge_ok
    FROM lineitem
    GROUP BY {yr}
    ORDER BY ship_year
    """


BACKLOG_CUTOFF = "TIMESTAMP '1998-01-01'"


def _backlog_aging_sql(d: str) -> str:
    # C97 — point-in-time order-backlog aging: orders placed before the
    # cutoff whose LAST shipment lands after it (still open at the
    # snapshot instant), bucketed by age and priority.  The WIP
    # snapshot a fulfilment dashboard shows — C89's Little's-law audit
    # proves the time-AVERAGE WIP; this is the instantaneous ledger at
    # one cutoff with the aging detail.
    #
    # Scale: the per-order last-ship frame is one lineitem shuffle on
    # l_orderkey; the bucket rollup is ≤ 4·|priorities| rows.
    cut = f"{epoch(BACKLOG_CUTOFF, d)}"
    age = f"(({cut} - {epoch('o.o_orderdate', d)}) / 86400.0)"
    return f"""
    WITH last_ship AS (
      SELECT l_orderkey, max({epoch("l_shipdate", d)}) AS t_last
      FROM lineitem
      GROUP BY l_orderkey
    ),
    open_orders AS (
      SELECT
        o.o_orderpriority AS priority,
        o.o_totalprice AS value,
        CASE WHEN {age} <= 30 THEN 'a_0_30d'
             WHEN {age} <= 90 THEN 'b_31_90d'
             WHEN {age} <= 365 THEN 'c_91_365d'
             ELSE 'd_over_1y' END AS age_bucket
      FROM orders o
      JOIN last_ship s ON s.l_orderkey = o.o_orderkey
      WHERE {epoch("o.o_orderdate", d)} < {cut} AND s.t_last >= {cut}
    )
    SELECT
      age_bucket,
      priority,
      {cnt("count(*)", "n_open_orders")},
      {dbl("sum(value)", "backlog_value")},
      {dbl("count(*) / CAST(sum(count(*)) OVER () AS DOUBLE)",
           "backlog_share")}
    FROM open_orders
    GROUP BY age_bucket, priority
    ORDER BY age_bucket, priority
    """


def _repeat_purchase_sql(d: str) -> str:
    # C102 — repeat-purchase rhythm per market segment: order-to-order
    # gaps per customer (lag over order dates), rolled to the segment
    # ladder — repeat share, gap means/medians/p90 — the commerce twin
    # of C88's event-session rhythm, on the orders table.  All gap
    # statistics run over the RAW gap distribution (r8 review catch: a
    # draft took percentiles of per-customer MEAN gaps, a materially
    # different — flattened — distribution than the aliases promised,
    # and names freeze at certification).  Buyer-grain stats ride the
    # SAME pass: a customer has a non-NULL gap iff they have ≥ 2
    # orders, so repeat counts are conditional count-distincts.
    #
    # Scale: one orders shuffle by custkey (the lag window), one
    # broadcast-dim customer join, one per-segment rollup of 5 rows.
    e = epoch("o_orderdate", d)
    return f"""
    WITH gapped AS (
      SELECT
        o.o_custkey,
        ({e} - lag({e}) OVER (PARTITION BY o.o_custkey
                              ORDER BY {e}, o.o_orderkey)) / 86400.0
          AS gap_days
      FROM orders o
    ),
    seg AS (
      SELECT c.c_mktsegment AS segment, g.o_custkey, g.gap_days
      FROM gapped g JOIN customer c ON c.c_custkey = g.o_custkey
    )
    SELECT
      segment,
      {cnt("count(DISTINCT o_custkey)", "n_buyers")},
      {cnt("count(DISTINCT CASE WHEN gap_days IS NOT NULL"
           " THEN o_custkey END)", "n_repeat_buyers")},
      {dbl("count(DISTINCT CASE WHEN gap_days IS NOT NULL"
           " THEN o_custkey END)"
           " / CAST(count(DISTINCT o_custkey) AS DOUBLE)", "repeat_share")},
      {dbl("count(*) / CAST(count(DISTINCT o_custkey) AS DOUBLE)",
           "avg_orders_per_buyer")},
      {dbl("avg(gap_days)", "mean_interorder_gap_days")},
      {dbl(pct("gap_days", 0.5, d), "p50_interorder_gap_days")},
      {dbl(pct("gap_days", 0.9, d), "p90_interorder_gap_days")}
    FROM seg
    GROUP BY segment
    ORDER BY segment
    """


def _returnflag_shift_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C104 — return-flag mix shift by ship quarter: per-quarter
    # composition of l_returnflag vs the all-time mix, with the
    # chi-square drift contribution per cell (the categorical twin of
    # D27's PSI over numeric features — "did returns spike in Q3?").
    #
    # Engine parity: counts are exact integers; expected counts are
    # integer-over-integer ratios.  The grid is DENSE over observed
    # quarters × observed flags (r8 review catch): a flag that
    # VANISHES in a quarter — returns stopping entirely, the exact
    # shift this query exists to catch — is an O=0 cell whose
    # (0−E)²/E = E contribution a sparse grid silently drops.
    # Scale: one fact scan → one (quarter, flag) hash-agg; the dense
    # cross join and window marginals run on ≤ |quarters|·|flags| rows.
    q = f"CAST(floor(({epoch('l_shipdate', d)} / 86400.0) / 91.3125) AS BIGINT)"
    cells_sql = f"""
      SELECT {q} AS quarter_idx, l_returnflag AS flag, count(*) AS obs
      FROM lineitem
      GROUP BY {q}, l_returnflag
    """
    tail = f"""
    WITH dense AS (
      SELECT qq.quarter_idx, ff.flag, coalesce(c.obs, 0) AS obs
      FROM (SELECT DISTINCT quarter_idx FROM _mz_rf_cells) qq
      CROSS JOIN (SELECT DISTINCT flag FROM _mz_rf_cells) ff
      LEFT JOIN _mz_rf_cells c
        ON c.quarter_idx = qq.quarter_idx AND c.flag = ff.flag
    ),
    marg AS (
      SELECT
        quarter_idx, flag, obs,
        sum(obs) OVER (PARTITION BY quarter_idx) AS q_total,
        sum(obs) OVER (PARTITION BY flag) AS f_total,
        sum(obs) OVER () AS n
      FROM dense
    )
    SELECT
      quarter_idx,
      flag,
      {cnt("obs", "n_items")},
      {dbl("obs / CAST(nullif(q_total, 0) AS DOUBLE)", "quarter_share")},
      {dbl("f_total / CAST(n AS DOUBLE)", "overall_share")},
      {dbl("q_total * (f_total / CAST(n AS DOUBLE))", "expected")},
      {dbl(
          "CASE WHEN q_total > 0 AND f_total > 0 THEN"
          " (obs - q_total * (f_total / CAST(n AS DOUBLE)))"
          " * (obs - q_total * (f_total / CAST(n AS DOUBLE)))"
          " / (q_total * (f_total / CAST(n AS DOUBLE)))"
          " ELSE 0.0 END",
          "chi2_contribution",
      )}
    FROM marg
    ORDER BY quarter_idx, flag
    """
    return [("_mz_rf_cells", cells_sql)], tail


def _yoy_revenue_growth_sql(d: str) -> str:
    # C113 — year-over-year revenue growth per customer nation: the
    # first drill a revenue dashboard does after C108's waterfall —
    # WHERE is the growth.  One lineitem→orders→customer→nation join
    # chain (dims broadcast), one (nation, year) agg, then the YoY lag
    # rides a window over the ≤|nations|·|years| rollup — partitioned
    # by nation, so no global-window funnel.  First-year growth is the
    # 0.0 no-information convention (dbl coalesces the NULL lag).
    return f"""
    WITH nation_year AS (
      SELECT
        n.n_name AS nation,
        CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
        sum(l.l_extendedprice * (1.0 - l.l_discount)) AS revenue
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, CAST(year(l.l_shipdate) AS BIGINT)
    )
    SELECT
      nation,
      ship_year,
      {dbl("revenue", "revenue")},
      {dbl(
          "(revenue - lag(revenue) OVER (PARTITION BY nation ORDER BY ship_year))"
          " / nullif(lag(revenue) OVER (PARTITION BY nation ORDER BY ship_year), 0.0)",
          "yoy_growth",
      )}
    FROM nation_year
    ORDER BY nation, ship_year
    """


def _brand_price_realization_sql(d: str) -> str:
    # C114 — per-brand price REALIZATION: how much of the catalog price
    # a brand actually collects (net realized unit price / retail unit
    # price) plus its discount depth — the pricing-power table merch
    # reads next to C103's elasticity.  One lineitem→part equi join
    # (brand+price projected — column pruning keeps the part scan
    # thin), one |brands|-row agg; realized unit price guards the
    # quantity denominator per line.
    return f"""
    SELECT
      p.p_brand AS brand,
      {cnt("count(*)", "n_lineitems")},
      {dbl("avg(p.p_retailprice)", "avg_retail_price")},
      {dbl(
          "avg(l.l_extendedprice * (1.0 - l.l_discount)"
          " / nullif(l.l_quantity, 0.0))",
          "avg_realized_unit_price",
      )},
      {dbl("avg(l.l_discount)", "avg_discount")},
      {dbl(
          "avg(l.l_extendedprice * (1.0 - l.l_discount)"
          " / nullif(l.l_quantity, 0.0))"
          " / nullif(avg(p.p_retailprice), 0.0)",
          "realization_ratio",
      )}
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    ORDER BY brand
    """


def _order_linecount_profile_sql(d: str) -> str:
    # C115 — basket-size profile: the distribution of line counts per
    # order split by priority (Q13's shape applied to lineitem grain —
    # the ops question "are rush orders smaller?").  One l_orderkey
    # agg, one broadcast orders join, one bounded rollup; the share
    # window partitions by priority over ≤|priorities|·|linecounts|
    # rows.
    return f"""
    WITH per_order AS (
      SELECT l_orderkey, count(*) AS n_lines
      FROM lineitem
      GROUP BY l_orderkey
    ),
    cells AS (
      SELECT o.o_orderpriority AS priority, p.n_lines, count(*) AS n_orders
      FROM per_order p
      JOIN orders o ON o.o_orderkey = p.l_orderkey
      GROUP BY o.o_orderpriority, p.n_lines
    )
    SELECT
      priority,
      {cnt("n_lines", "n_lines")},
      {cnt("n_orders", "n_orders")},
      {dbl(
          "n_orders / CAST(sum(n_orders) OVER (PARTITION BY priority) AS DOUBLE)",
          "share_in_priority",
      )}
    FROM cells
    ORDER BY priority, n_lines
    """


def _segment_mix_by_nation_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C116 — market-segment mix per nation with lift and chi-square
    # contribution vs the global mix (C46's association screen applied
    # to the customer dimension): the "is this nation's customer base
    # unusual" cell table.  The (nation, segment) counts materialize
    # ONCE (segment totals, nation totals, and the grand total all
    # re-read it — inlined, that's 4 customer scans), every downstream
    # frame is ≤|nations|·|segments| rows, and the expected-count math
    # is exact-integer ratios.
    cells_sql = """
      SELECT
        n.n_name AS nation,
        c.c_mktsegment AS segment,
        count(*) AS n_cust
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, c.c_mktsegment
    """
    tail = f"""
    WITH seg_tot AS (
      SELECT segment, sum(n_cust) AS seg_n FROM _mz_segmix GROUP BY segment
    ),
    nat_tot AS (
      SELECT nation, sum(n_cust) AS nat_n FROM _mz_segmix GROUP BY nation
    ),
    grand AS (
      SELECT sum(n_cust) AS n FROM _mz_segmix
    )
    SELECT
      m.nation,
      m.segment,
      {cnt("m.n_cust", "n_customers")},
      {dbl("m.n_cust / CAST(t.nat_n AS DOUBLE)", "share_in_nation")},
      {dbl(
          "(m.n_cust / CAST(t.nat_n AS DOUBLE))"
          " / nullif(s.seg_n / CAST(g.n AS DOUBLE), 0.0)",
          "lift_vs_global",
      )},
      {dbl(
          "CASE WHEN t.nat_n * s.seg_n > 0 THEN "
          "power(m.n_cust - t.nat_n * s.seg_n / CAST(g.n AS DOUBLE), 2)"
          " / (t.nat_n * s.seg_n / CAST(g.n AS DOUBLE)) ELSE 0.0 END",
          "chi2_contribution",
      )}
    FROM _mz_segmix m
    JOIN nat_tot t ON t.nation = m.nation
    JOIN seg_tot s ON s.segment = m.segment
    CROSS JOIN grand g
    ORDER BY m.nation, m.segment
    """
    return [("_mz_segmix", cells_sql)], tail


def _brand_basket_pairs_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C117 — market-basket co-occurrence LIFT between part brands
    # within an order (C48's event-type lift moved to the commerce
    # grain, where basket analysis actually runs): which brands sell
    # together beyond chance.  The per-order distinct-brand frame
    # materializes once; the pair space is the within-order self-join
    # (orderkey-equi, per-order brand sets are small — never |brands|²
    # against the fact table) and the output is ≤C(25,2) rows.
    # P(pair)/P(b1)P(b2) uses order counts as the event space.
    ob_sql = """
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
    """
    tail = f"""
    WITH n_orders AS (
      SELECT count(DISTINCT okey) AS n FROM _mz_orderbrand
    ),
    singles AS (
      SELECT brand, count(*) AS n_b FROM _mz_orderbrand GROUP BY brand
    ),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
      FROM _mz_orderbrand a
      JOIN _mz_orderbrand b ON b.okey = a.okey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    )
    SELECT
      p.brand_a,
      p.brand_b,
      {cnt("p.n_ab", "n_baskets_together")},
      {dbl(
          "(p.n_ab / CAST(g.n AS DOUBLE)) / nullif("
          "(sa.n_b / CAST(g.n AS DOUBLE)) * (sb.n_b / CAST(g.n AS DOUBLE)),"
          " 0.0)",
          "lift",
      )}
    FROM pairs p
    JOIN singles sa ON sa.brand = p.brand_a
    JOIN singles sb ON sb.brand = p.brand_b
    CROSS JOIN n_orders g
    WHERE p.n_ab >= 5
    ORDER BY lift DESC, p.brand_a, p.brand_b
    LIMIT 30
    """
    return [("_mz_orderbrand", ob_sql)], tail


def _shipment_span_profile_sql(d: str) -> str:
    # C118 — order shipment-SPAN profile per priority: days between an
    # order's first and last shipment (C82 measures order→ship
    # latency; this measures fulfilment FRAGMENTATION — a span of 0
    # is one consolidated shipment).  One l_orderkey agg carrying
    # min/max shipdate + line count, one broadcast orders join, one
    # |priorities|-row rollup with exact percentiles.
    span = "(t_last - t_first) / 86400.0"
    return f"""
    WITH per_order AS (
      SELECT
        l_orderkey,
        count(*) AS n_lines,
        min({epoch("l_shipdate", d)}) AS t_first,
        max({epoch("l_shipdate", d)}) AS t_last
      FROM lineitem
      GROUP BY l_orderkey
    )
    SELECT
      o.o_orderpriority AS priority,
      {cnt("count(*)", "n_orders")},
      {dbl("avg(p.n_lines)", "avg_lines")},
      {dbl(f"avg({span})", "mean_span_days")},
      {dbl(f"{pct(span, 0.5, d)}", "p50_span_days")},
      {dbl(f"{pct(span, 0.9, d)}", "p90_span_days")},
      {dbl(
          "avg(CAST(CASE WHEN p.t_last = p.t_first THEN 1 ELSE 0 END AS DOUBLE))",
          "single_shipment_share",
      )}
    FROM per_order p
    JOIN orders o ON o.o_orderkey = p.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """


def _revenue_drawdown_sql(d: str) -> str:
    # C127 — daily-revenue drawdown + volatility per order year: the
    # finance-desk risk pair (running-peak drawdown, log-return
    # volatility) applied to the revenue series — C87 flags outlier
    # DAYS; this measures the path (how deep does revenue sink below
    # its peak, how noisy is the day-over-day ratio).  One daily agg,
    # then all windows ride the ≤|days| frame partitioned by year.
    ret = "ln(rev / nullif(lag(rev) OVER (PARTITION BY yr ORDER BY day), 0.0))"
    runmax = ("max(rev) OVER (PARTITION BY yr ORDER BY day "
              "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    return f"""
    WITH daily AS (
      SELECT
        CAST(year(o_orderdate) AS BIGINT) AS yr,
        CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
        sum(o_totalprice) AS rev
      FROM orders
      GROUP BY CAST(year(o_orderdate) AS BIGINT),
               CAST(date_trunc('day', o_orderdate) AS DATE)
    ),
    pathed AS (
      SELECT
        yr,
        rev,
        {ret} AS log_ret,
        ({runmax} - rev) / nullif({runmax}, 0.0) AS drawdown
      FROM daily
    )
    SELECT
      yr AS order_year,
      {cnt("count(*)", "n_days")},
      {dbl("avg(rev)", "mean_daily_revenue")},
      {dbl("stddev_samp(log_ret)", "log_return_vol")},
      {dbl("max(drawdown)", "max_drawdown")},
      {dbl("avg(drawdown)", "mean_drawdown")}
    FROM pathed
    GROUP BY yr
    ORDER BY order_year
    """


SHIP_SLA_DAYS = 60.0


def _ship_sla_sql(d: str) -> str:
    # C128 — monthly ship-SLA attainment per priority: the share of
    # lineitems shipped within SHIP_SLA_DAYS of the order date, as a
    # month-over-month TREND (C82 gives the static latency
    # distribution; an ops review needs the attainment series to see
    # a fulfilment regression coming).  One lineitem→orders equi join,
    # one ≤|months|·|priorities| rollup.
    lat = f"({epoch('l.l_shipdate', d)} - {epoch('o.o_orderdate', d)}) / 86400.0"
    return f"""
    SELECT
      CAST(date_trunc('month', o.o_orderdate) AS DATE) AS order_month,
      o.o_orderpriority AS priority,
      {cnt("count(*)", "n_lineitems")},
      {dbl(
          f"avg(CAST(CASE WHEN {lat} <= {SHIP_SLA_DAYS!r} THEN 1 ELSE 0 END"
          " AS DOUBLE))",
          "sla_attainment",
      )},
      {dbl(f"avg({lat})", "mean_latency_days")},
      {dbl(pct(lat, 0.9, d), "p90_latency_days")}
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY CAST(date_trunc('month', o.o_orderdate) AS DATE),
             o.o_orderpriority
    ORDER BY order_month, priority
    """


def _customer_hhi_yearly_sql(d: str) -> str:
    # C129 — customer revenue-concentration trend: HHI over customer
    # shares of each order year's revenue, with the effective customer
    # count 1/HHI (C75 measures supplier concentration per brand; this
    # is the demand side over TIME — "are we becoming a two-customer
    # business").  One (year, customer) agg, then a ≤|years| rollup;
    # the share denominator is a ratio-of-sums within the rollup
    # (sum(s²)/sum(s)² — no join back needed).
    return f"""
    WITH per_cust AS (
      SELECT
        CAST(year(o_orderdate) AS BIGINT) AS yr,
        o_custkey,
        sum(o_totalprice) AS s
      FROM orders
      GROUP BY CAST(year(o_orderdate) AS BIGINT), o_custkey
    )
    SELECT
      yr AS order_year,
      {cnt("count(*)", "n_customers")},
      {dbl("sum(s)", "year_revenue")},
      {dbl("sum(s * s) / nullif(sum(s) * sum(s), 0.0)", "hhi")},
      {dbl(
          "CASE WHEN sum(s * s) > 0.0"
          " THEN (sum(s) * sum(s)) / sum(s * s) ELSE 0.0 END",
          "effective_n_customers",
      )},
      {dbl("max(s) / nullif(sum(s), 0.0)", "top_customer_share")}
    FROM per_cust
    GROUP BY yr
    ORDER BY order_year
    """


def _brand_loyalty_sql(d: str) -> str:
    # C131 — brand-loyalty index per market segment: each customer's
    # purchase-share HHI across brands (1.0 = single-brand loyalist),
    # averaged per segment with the loyalist share — the demand-side
    # stickiness readout beside C129's concentration (loyalty is
    # concentration WITHIN a customer).  Chain joins with dims
    # broadcast; per-customer HHI is a ratio-of-sums over the
    # (cust, brand) rollup; customers with < 2 lineitems excluded
    # (single-purchase "loyalty" is noise).
    return f"""
    WITH cust_brand AS (
      SELECT c.c_mktsegment AS segment, c.c_custkey, p.p_brand,
             count(*) AS n
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY c.c_mktsegment, c.c_custkey, p.p_brand
    ),
    per_cust AS (
      SELECT
        segment,
        c_custkey,
        sum(n) AS n_items,
        sum(n * n) / (sum(n) * sum(n) * 1.0) AS hhi
      FROM cust_brand
      GROUP BY segment, c_custkey
      HAVING sum(n) >= 2
    )
    SELECT
      segment,
      {cnt("count(*)", "n_customers")},
      {dbl("avg(hhi)", "mean_brand_hhi")},
      {dbl("avg(CAST(CASE WHEN hhi >= 0.999999 THEN 1 ELSE 0 END"
           " AS DOUBLE))", "single_brand_share")},
      {dbl("avg(n_items)", "mean_items")}
    FROM per_cust
    GROUP BY segment
    ORDER BY segment
    """


def _priority_mix_yearly_sql(d: str) -> str:
    # C133 — order-priority mix per year with chi-square drift vs the
    # pooled mix (C104's returnflag-shift screen moved to the ORDER
    # dimension: a drifting priority mix silently re-weights every
    # SLA and staffing model downstream).  One (year, priority) agg;
    # expected counts from year/priority margins over the bounded
    # cell frame; exact-integer ratios.
    return f"""
    WITH cells AS (
      SELECT
        CAST(year(o_orderdate) AS BIGINT) AS yr,
        o_orderpriority AS priority,
        count(*) AS c
      FROM orders
      GROUP BY CAST(year(o_orderdate) AS BIGINT), o_orderpriority
    ),
    marg AS (
      SELECT
        yr, priority, c,
        sum(c) OVER (PARTITION BY yr) AS c_yr,
        sum(c) OVER (PARTITION BY priority) AS c_pr,
        sum(c) OVER () AS n
      FROM cells
    )
    SELECT
      yr AS order_year,
      priority,
      {cnt("c", "n_orders")},
      {dbl("c / CAST(c_yr AS DOUBLE)", "share_in_year")},
      {dbl("c_pr / CAST(n AS DOUBLE)", "pooled_share")},
      {dbl(
          "CASE WHEN c_yr * c_pr > 0 THEN"
          " power(c - c_yr * (c_pr / CAST(n AS DOUBLE)), 2)"
          " / (c_yr * (c_pr / CAST(n AS DOUBLE))) ELSE 0.0 END",
          "chi2_contribution",
      )}
    FROM marg
    ORDER BY order_year, priority
    """




def _nation_rank_stability_sql(d: str) -> str:
    # C134 — nation revenue-rank stability year-over-year: exact
    # Spearman rho between consecutive years' nation revenue rankings
    # (ranks are unique row_numbers, so the tie-free closed form
    # 1 − 6Σd²/(n(n²−1)) is exact — no corr needed) plus whether the
    # top nation changed.  The league-table churn metric a regional
    # review reads next to C113's growth rates (growth says WHO moved;
    # this says how much the ORDER moved).  (year, nation) agg, rank
    # windows partitioned by year over the bounded rollup, year+1
    # self-join on nation.
    return f"""
    WITH nation_year AS (
      SELECT
        CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        c.c_nationkey AS nation,
        sum(o.o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY CAST(year(o.o_orderdate) AS BIGINT), c.c_nationkey
    ),
    ranked AS (
      SELECT yr, nation,
        row_number() OVER (PARTITION BY yr
                           ORDER BY round(rev, 4) DESC, nation) AS rk
      FROM nation_year
    ),
    paired AS (
      SELECT a.yr AS yr, a.rk AS rk_a0, b.rk AS rk_b0
      FROM ranked a
      JOIN ranked b ON b.nation = a.nation AND b.yr = a.yr + 1
    ),
    reranked AS (
      -- ranks must be a 1..n permutation of the COMMON nation set for
      -- the closed form to be a valid Spearman: a nation present in
      -- only one year would leave rank gaps and push rho outside
      -- [-1, 1].  Re-rank both sides within the paired subset (order
      -- preserved, so full-overlap years are unchanged).
      SELECT
        yr,
        rk_a0,
        rk_b0,
        row_number() OVER (PARTITION BY yr ORDER BY rk_a0) AS rk_a,
        row_number() OVER (PARTITION BY yr ORDER BY rk_b0) AS rk_b
      FROM paired
    )
    SELECT
      yr AS year_from,
      {cnt("count(*)", "n_nations")},
      {dbl(
          "CASE WHEN count(*) >= 2 THEN"
          " 1.0 - 6.0 * sum((rk_a - rk_b) * (rk_a - rk_b) * 1.0)"
          " / (count(*) * (count(*) * count(*) - 1.0))"
          " ELSE 0.0 END",
          "spearman_rho",
      )},
      (sum(CASE WHEN rk_a0 = 1 AND rk_b0 = 1 THEN 1 ELSE 0 END) = 0)
        AS top_nation_changed
    FROM reranked
    GROUP BY yr
    ORDER BY year_from
    """


def _order_status_aging_sql(d: str) -> str:
    # C135 — order-AGE distribution per status at the corpus horizon
    # (open orders skewing old = a fulfilment backlog; C97 snapshots a
    # fixed cutoff, this reads the live horizon): age = days from
    # orderdate to max(orderdate), exact percentiles per status, share
    # of each status in the book.  One scan + 1-row horizon broadcast
    # + |statuses| rollup.
    age = f"(({epoch('h.mx', d)}) - ({epoch('o.o_orderdate', d)})) / 86400.0"
    return f"""
    WITH horizon AS (
      SELECT max(o_orderdate) AS mx FROM orders
    )
    SELECT
      o.o_orderstatus AS status,
      {cnt("count(*)", "n_orders")},
      {dbl(f"avg({age})", "mean_age_days")},
      {dbl(pct(age, 0.5, d), "p50_age_days")},
      {dbl(pct(age, 0.9, d), "p90_age_days")},
      {dbl("avg(o.o_totalprice)", "mean_value")}
    FROM orders o
    CROSS JOIN horizon h
    GROUP BY o.o_orderstatus
    ORDER BY status
    """


QUERIES = [
    sql_backed("priority_mix_yearly", _priority_mix_yearly_sql, ("orders",)),
    sql_backed("brand_loyalty_index", _brand_loyalty_sql,
               ("lineitem", "orders", "customer", "part")),
    sql_backed("supply_concentration_hhi", _hhi_sql, ("lineitem", "part")),
    sql_backed("nation_trade_balance", _trade_balance_sql,
               ("lineitem", "supplier", "orders", "customer", "nation")),
    sql_backed("abc_pareto_classes", _abc_classes_sql, ("customer", "orders")),
    sql_backed("backlog_aging_buckets", _backlog_aging_sql,
               ("orders", "lineitem")),
    sql_backed("repeat_purchase_interval", _repeat_purchase_sql,
               ("orders", "customer")),
    materialized_backed("returnflag_quarter_shift", _returnflag_shift_parts,
                        ("lineitem",)),
    sql_backed("revenue_waterfall", _revenue_waterfall_sql, ("lineitem",)),
    sql_backed("revenue_gini_by_segment", _revenue_gini_sql,
               ("customer", "orders")),
    sql_backed("lateral_topk", _lateral_topk_sql, ("customer", "orders")),
    sql_backed("full_outer_daily", _full_outer_daily_sql, ("orders", "events")),
    sql_backed("q13_order_counts", _q13_order_counts_sql, ("customer", "orders")),
    sql_backed("customers_without_orders", _customers_without_orders_sql, ("customer", "orders")),
    sql_backed("active_high_value", _active_high_value_sql, ("customer", "orders")),
    sql_backed("rollup_revenue", _rollup_revenue_sql, ("orders", "customer", "nation", "region")),
    sql_backed("event_type_pivot", _event_type_pivot_sql, ("events",)),
    sql_backed("top_customers_per_nation", _top_customers_per_nation_sql, ("customer", "orders")),
    sql_backed("balance_bands", _balance_bands_sql, ("customer",)),
    sql_backed("yoy_revenue_growth", _yoy_revenue_growth_sql,
               ("lineitem", "orders", "customer", "nation")),
    sql_backed("brand_price_realization", _brand_price_realization_sql,
               ("lineitem", "part")),
    sql_backed("order_linecount_profile", _order_linecount_profile_sql,
               ("lineitem", "orders")),
    materialized_backed("segment_mix_by_nation", _segment_mix_by_nation_parts,
                        ("customer", "nation")),
    materialized_backed("brand_basket_pairs", _brand_basket_pairs_parts,
                        ("lineitem", "part")),
    sql_backed("shipment_span_profile", _shipment_span_profile_sql,
               ("lineitem", "orders")),
    sql_backed("revenue_drawdown", _revenue_drawdown_sql, ("orders",)),
    sql_backed("ship_sla_attainment", _ship_sla_sql, ("lineitem", "orders")),
    sql_backed("customer_hhi_yearly", _customer_hhi_yearly_sql, ("orders",)),
    sql_backed("nation_rank_stability", _nation_rank_stability_sql,
               ("orders", "customer")),
    sql_backed("order_status_aging", _order_status_aging_sql, ("orders",)),
]
