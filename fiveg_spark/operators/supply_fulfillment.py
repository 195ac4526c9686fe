"""Supply-chain & fulfillment analytics over the TPC-H star (SURVEY §2
C139-C150): the order-book questions a fulfillment team asks that the
existing C-family doesn't answer — balance↔activity dependence,
business-day shipping latency, supplier redundancy, position-in-order
effects, seasonality by nation, header-vs-lines reconciliation, joint
tax/discount economics, customer lifespan, brand diversity within part
types, and weekday order mix.

All pure two-dialect SQL (shared text, the registry discipline): one
scan per base table, bounded rollups, broadcast-size dimension joins —
nothing here shuffles more than the grouped aggregate itself, so every
query survives the 100 TB fact tables unchanged.

Reference scope: beyond-reference analytics breadth (the reference has
no relational layer at all).
"""

from __future__ import annotations

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

# epoch day 0 = Thursday; +4 makes Sunday = 0, so weekdays are 1..5
_DOW = "(({d}) + 4) % 7"


def _eday(col: str, d: str) -> str:
    return f"CAST(floor({epoch(col, d)} / 86400.0) AS BIGINT)"


def _weekdays_before(day: str) -> str:
    """Closed-form count of WEEKDAYS among absolute epoch days < day:
    shift so the week starts on Sunday (k = day + 4), then
    5 full weeks + the clipped partial-week remainder."""
    k = f"(({day}) + 4)"
    return (
        f"(5 * CAST(floor({k} / 7.0) AS BIGINT)"
        f" + least(greatest({k} % 7 - 1, 0), 5))"
    )


def _balance_order_corr_sql(d: str) -> str:
    # C139 — does a customer's account balance move with how often they
    # order?  Per market segment, the corr_safe dependence between
    # balance and LIFETIME order count — zero-order customers included
    # via the outer join (dropping them biases the corr toward active
    # accounts, the classic survivorship mistake).
    return f"""
    WITH per_cust AS (
      SELECT
        c.c_mktsegment AS segment,
        c.c_acctbal AS bal,
        CAST(count(o.o_orderkey) AS DOUBLE) AS n_orders
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment, c.c_acctbal
    )
    SELECT
      segment,
      {cnt("count(*)", "n_customers")},
      {dbl("avg(n_orders)", "mean_orders")},
      {dbl("avg(CAST(CASE WHEN n_orders = 0 THEN 1 ELSE 0 END AS DOUBLE))",
           "share_inactive")},
      {dbl(corr_safe("bal", "n_orders"), "bal_orders_corr")}
    FROM per_cust
    GROUP BY segment
    ORDER BY segment
    """


def _business_days_latency_sql(d: str) -> str:
    # C140 — order→ship latency in BUSINESS DAYS per priority: calendar
    # days overstate SLA breaches across weekends, so the ops question
    # is weekday-counted.  Closed-form prefix arithmetic (no calendar
    # table, no generator): weekdays in (order_day, ship_day] =
    # W(ship+1) − W(order+1) with W the weekday-prefix count.
    od = _eday("o.o_orderdate", d)
    sd = _eday("l.l_shipdate", d)
    bdays = (
        f"({_weekdays_before(f'{sd} + 1')}"
        f" - {_weekdays_before(f'{od} + 1')})"
    )
    return f"""
    WITH lat AS (
      SELECT
        o.o_orderpriority AS priority,
        CAST({bdays} AS DOUBLE) AS bdays
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT
      priority,
      {cnt("count(*)", "n_lines")},
      {dbl("avg(bdays)", "mean_business_days")},
      {dbl(pct("bdays", 0.5, d), "p50_business_days")},
      {dbl(pct("bdays", 0.95, d), "p95_business_days")},
      {dbl("avg(CAST(CASE WHEN bdays <= 0 THEN 1 ELSE 0 END AS DOUBLE))",
           "share_same_or_weekend")}
    FROM lat
    GROUP BY priority
    ORDER BY priority
    """


def _suppliers_per_part_sql(d: str) -> str:
    # C141 — supplier redundancy per part type: how many distinct
    # suppliers actually shipped each part (the procurement resilience
    # number).  Part-grain distinct-count rollup, then a bounded
    # per-type distribution.
    return f"""
    WITH sp AS (
      SELECT l_partkey, count(DISTINCT l_suppkey) AS nsup
      FROM lineitem
      GROUP BY l_partkey
    )
    SELECT
      p.p_type,
      {cnt("count(*)", "n_parts")},
      {dbl("avg(CAST(sp.nsup AS DOUBLE))", "mean_suppliers")},
      {dbl(pct("CAST(sp.nsup AS DOUBLE)", 0.5, d), "p50_suppliers")},
      {cnt("min(sp.nsup)", "min_suppliers")},
      {cnt("max(sp.nsup)", "max_suppliers")}
    FROM sp
    JOIN part p ON p.p_partkey = sp.l_partkey
    GROUP BY p.p_type
    ORDER BY p.p_type
    """


def _linenumber_profile_sql(d: str) -> str:
    # C142 — position-in-order effects: do later line positions carry
    # cheaper/smaller/more-discounted items?  Pure map-side bucketing
    # on a column nothing else in the suite uses.
    return f"""
    SELECT
      CAST(l_linenumber AS BIGINT) AS linenumber,
      {cnt("count(*)", "n_lines")},
      {dbl("avg(l_extendedprice)", "mean_price")},
      {dbl("avg(l_quantity)", "mean_quantity")},
      {dbl("avg(l_discount)", "mean_discount")},
      {dbl("sum(l_extendedprice * (1 - l_discount)) / 1e6", "revenue_m")}
    FROM lineitem
    GROUP BY l_linenumber
    ORDER BY linenumber
    """


def _order_seasonality_sql(d: str) -> str:
    # C143 — order seasonality per customer nation: quarterly share of
    # order volume + the seasonal amplitude (max−min quarter share).
    # month() is engine-native in both dialects on TIMESTAMP.
    q = "CAST(floor((month(o.o_orderdate) - 1) / 3.0) AS BIGINT) + 1"
    shares = ",\n      ".join(
        dbl(
            f"avg(CAST(CASE WHEN {q} = {i} THEN 1 ELSE 0 END AS DOUBLE))",
            f"q{i}_share",
        )
        for i in range(1, 5)
    )
    share_exprs = [
        f"avg(CAST(CASE WHEN {q} = {i} THEN 1 ELSE 0 END AS DOUBLE))"
        for i in range(1, 5)
    ]
    amp = (
        f"greatest({', '.join(share_exprs)})"
        f" - least({', '.join(share_exprs)})"
    )
    return f"""
    SELECT
      n.n_name AS nation,
      {cnt("count(*)", "n_orders")},
      {shares},
      {dbl(amp, "seasonal_amplitude")}
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """


def _balance_value_matrix_sql(d: str) -> str:
    # C144 — balance-quartile × order-value-quartile dependence: the
    # 4×4 contingency with lift vs independence.  Quartile bounds are
    # exact global percentiles (one tiny frame, broadcast); margins
    # come from partitioned windows over the 16-row cell frame.
    bbound = ", ".join(
        f"{pct('c_acctbal', p, d)} AS b{i}"
        for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
    )
    vbound = ", ".join(
        f"{pct('o_totalprice', p, d)} AS v{i}"
        for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
    )
    bq = (
        "CASE WHEN c.c_acctbal <= bb.b1 THEN 1"
        " WHEN c.c_acctbal <= bb.b2 THEN 2"
        " WHEN c.c_acctbal <= bb.b3 THEN 3 ELSE 4 END"
    )
    vq = (
        "CASE WHEN o.o_totalprice <= vb.v1 THEN 1"
        " WHEN o.o_totalprice <= vb.v2 THEN 2"
        " WHEN o.o_totalprice <= vb.v3 THEN 3 ELSE 4 END"
    )
    return f"""
    WITH bb AS (SELECT {bbound} FROM customer),
    vb AS (SELECT {vbound} FROM orders),
    cells AS (
      SELECT
        CAST({bq} AS BIGINT) AS balance_quartile,
        CAST({vq} AS BIGINT) AS value_quartile,
        count(*) AS n
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      CROSS JOIN bb CROSS JOIN vb
      GROUP BY 1, 2
    )
    SELECT
      balance_quartile,
      value_quartile,
      {cnt("n", "n_orders")},
      {dbl(
          "CAST(n AS DOUBLE) * sum(n) OVER ()"
          " / (sum(n) OVER (PARTITION BY balance_quartile)"
          " * sum(n) OVER (PARTITION BY value_quartile))",
          "lift",
      )}
    FROM cells
    ORDER BY balance_quartile, value_quartile
    """


def _order_reconciliation_sql(d: str) -> str:
    # C145 — header-vs-lines reconciliation per order year: the ratio
    # o_totalprice / Σ extendedprice·(1−disc)·(1+tax) — the cross-table
    # DQ audit the FK/PK audits (C124/C125) don't cover.  On this
    # synthetic corpus the header does NOT equal the line sum; the
    # query MEASURES that drift rather than assuming the TPC-H
    # invariant.
    return f"""
    WITH linesum AS (
      SELECT
        l_orderkey,
        sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS s
      FROM lineitem
      GROUP BY l_orderkey
    ),
    ratios AS (
      SELECT
        CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
        o.o_totalprice / nullif(ls.s, 0.0) AS ratio
      FROM orders o
      JOIN linesum ls ON ls.l_orderkey = o.o_orderkey
    )
    SELECT
      order_year,
      {cnt("count(*)", "n_orders")},
      {dbl("avg(CAST(CASE WHEN abs(ratio - 1.0) < 0.01 THEN 1 ELSE 0 END"
           " AS DOUBLE))", "share_reconciled_1pct")},
      {dbl("avg(ratio)", "mean_ratio")},
      {dbl(pct("ratio", 0.5, d), "p50_ratio")}
    FROM ratios
    GROUP BY order_year
    ORDER BY order_year
    """


def _tax_discount_joint_sql(d: str) -> str:
    # C146 — joint tax/discount economics per (returnflag, linestatus):
    # the effective revenue multiplier (1−d)(1+t), what discounting
    # gives away, and what tax adds back — one scan, one rollup.
    mult = "(1 - l_discount) * (1 + l_tax)"
    return f"""
    SELECT
      l_returnflag AS returnflag,
      l_linestatus AS linestatus,
      {cnt("count(*)", "n_lines")},
      {dbl(f"avg({mult})", "mean_multiplier")},
      {dbl(f"sum(l_extendedprice * ({mult})) / 1e6", "effective_revenue_m")},
      {dbl("sum(l_extendedprice * l_discount) / 1e6", "discount_giveback_m")},
      {dbl("sum(l_extendedprice * (1 - l_discount) * l_tax) / 1e6",
           "tax_collected_m")}
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY returnflag, linestatus
    """


def _order_span_profile_sql(d: str) -> str:
    # C147 — customer engagement span per segment: lifetime between
    # first and last order, order count, and the one-shot share (the
    # retention number RFM recency alone hides).
    od = _eday("o_orderdate", d)
    return f"""
    WITH per_cust AS (
      SELECT
        c.c_mktsegment AS segment,
        count(*) AS n_orders,
        max({od.replace("o_orderdate", "o.o_orderdate")})
          - min({od.replace("o_orderdate", "o.o_orderdate")}) AS span_days
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY o.o_custkey, c.c_mktsegment
    )
    SELECT
      segment,
      {cnt("count(*)", "n_customers")},
      {dbl("avg(CAST(n_orders AS DOUBLE))", "mean_orders")},
      {dbl("avg(CAST(CASE WHEN n_orders = 1 THEN 1 ELSE 0 END"
           " AS DOUBLE))", "share_one_shot")},
      {dbl("avg(CAST(CASE WHEN n_orders > 1 THEN span_days END"
           " AS DOUBLE))", "mean_active_span_days")},
      {dbl(f"avg(CAST(CASE WHEN n_orders > 1 THEN CAST(n_orders AS"
           f" DOUBLE) / (CAST(span_days AS DOUBLE) / 30.0 + 1.0)"
           " END AS DOUBLE))", "orders_per_active_month")}
    FROM per_cust
    GROUP BY segment
    ORDER BY segment
    """


def _brand_diversity_sql(d: str) -> str:
    # C148 — brand diversity within each part type: brand count, the
    # top brand's revenue share, and the revenue HHI — C75 concentrates
    # suppliers within brands; this concentrates brands within types.
    return f"""
    WITH brand_rev AS (
      SELECT
        p.p_type AS ptype,
        p.p_brand AS brand,
        sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_type, p.p_brand
    ),
    typed AS (
      SELECT
        ptype,
        brand,
        rev,
        sum(rev) OVER (PARTITION BY ptype) AS type_rev
      FROM brand_rev
    )
    SELECT
      ptype AS part_type,
      {cnt("count(*)", "n_brands")},
      {dbl("max(rev / nullif(type_rev, 0.0))", "top_brand_share")},
      {dbl("sum((rev / nullif(type_rev, 0.0))"
           " * (rev / nullif(type_rev, 0.0)))", "brand_hhi")},
      {dbl("max(type_rev) / 1e6", "type_revenue_m")}
    FROM typed
    GROUP BY ptype
    ORDER BY part_type
    """


def _supplier_balance_volume_sql(d: str) -> str:
    # C149 — supplier account balance vs shipped revenue, per supplier
    # nation: C139's dependence screen on the supply side (zero-volume
    # suppliers kept via the outer join).
    return f"""
    WITH per_supp AS (
      SELECT
        s.s_nationkey AS nationkey,
        s.s_acctbal AS bal,
        coalesce(sum(l.l_extendedprice * (1 - l.l_discount)), 0.0) AS rev
      FROM supplier s
      LEFT JOIN lineitem l ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_suppkey, s.s_nationkey, s.s_acctbal
    )
    SELECT
      n.n_name AS nation,
      {cnt("count(*)", "n_suppliers")},
      {dbl("avg(ps.rev) / 1e6", "mean_revenue_m")},
      {dbl(corr_safe("ps.bal", "ps.rev"), "bal_revenue_corr")}
    FROM per_supp ps
    JOIN nation n ON n.n_nationkey = ps.nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """


def _weekday_mix_sql(d: str) -> str:
    # C150 — order weekday mix per market segment: the calendar rhythm
    # of demand (weekday shares via the shared +4 Sunday-zero epoch
    # arithmetic), plus the weekend share — staffing-curve input.
    dow = _DOW.format(d=_eday("o.o_orderdate", d))
    shares = ",\n      ".join(
        dbl(
            f"avg(CAST(CASE WHEN {dow} = {i} THEN 1 ELSE 0 END"
            " AS DOUBLE))",
            f"dow{i}_share",
        )
        for i in range(7)
    )
    return f"""
    SELECT
      c.c_mktsegment AS segment,
      {cnt("count(*)", "n_orders")},
      {shares},
      {dbl(f"avg(CAST(CASE WHEN {dow} IN (0, 6) THEN 1 ELSE 0 END"
           " AS DOUBLE))", "weekend_share")}
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """


QUERIES = [
    sql_backed("balance_order_correlation", _balance_order_corr_sql,
               ("customer", "orders")),
    sql_backed("business_days_ship_latency", _business_days_latency_sql,
               ("lineitem", "orders")),
    sql_backed("suppliers_per_part_profile", _suppliers_per_part_sql,
               ("lineitem", "part")),
    sql_backed("linenumber_position_profile", _linenumber_profile_sql,
               ("lineitem",)),
    sql_backed("nation_order_seasonality", _order_seasonality_sql,
               ("orders", "customer", "nation")),
    sql_backed("balance_value_quartile_matrix", _balance_value_matrix_sql,
               ("orders", "customer")),
    sql_backed("order_total_reconciliation", _order_reconciliation_sql,
               ("orders", "lineitem")),
    sql_backed("tax_discount_joint_multiplier", _tax_discount_joint_sql,
               ("lineitem",)),
    sql_backed("customer_order_span_profile", _order_span_profile_sql,
               ("orders", "customer")),
    sql_backed("part_type_brand_diversity", _brand_diversity_sql,
               ("lineitem", "part")),
    sql_backed("supplier_balance_volume_corr", _supplier_balance_volume_sql,
               ("supplier", "lineitem", "nation")),
    sql_backed("order_weekday_mix_by_segment", _weekday_mix_sql,
               ("orders", "customer")),
]


def _discount_depth_sql(d: str) -> str:
    # C156 — are expensive items discounted MORE?  Per extendedprice
    # quartile (exact global bounds broadcast): discounted-line share,
    # mean depth among discounted lines, and the revenue given back —
    # the pricing-power readout C103's elasticity slope doesn't give.
    bounds = ", ".join(
        f"{pct('l_extendedprice', p, d)} AS p{i}"
        for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
    )
    quartile = (
        "CASE WHEN l.l_extendedprice <= b.p1 THEN 1"
        " WHEN l.l_extendedprice <= b.p2 THEN 2"
        " WHEN l.l_extendedprice <= b.p3 THEN 3 ELSE 4 END"
    )
    return f"""
    WITH b AS (SELECT {bounds} FROM lineitem)
    SELECT
      CAST({quartile} AS BIGINT) AS price_quartile,
      {cnt("count(*)", "n_lines")},
      {dbl("avg(CAST(CASE WHEN l.l_discount > 0 THEN 1 ELSE 0 END"
           " AS DOUBLE))", "discounted_share")},
      {dbl("avg(CASE WHEN l.l_discount > 0 THEN l.l_discount END)",
           "mean_depth_discounted")},
      {dbl("sum(l.l_extendedprice * l.l_discount) / 1e6",
           "giveback_m")}
    FROM lineitem l CROSS JOIN b
    GROUP BY {quartile}
    ORDER BY price_quartile
    """


def _nation_brand_affinity_sql(d: str) -> str:
    # C157 — nation × brand affinity over lineitem volume: DENSE
    # nation/brand spine (the r8 sparse-grid lesson), lift vs
    # independence and chi-square contribution per cell — where do
    # brands over/under-index geographically.
    return f"""
    WITH cells AS (
      SELECT n.n_name AS nation, p.p_brand AS brand, count(*) AS n
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY n.n_name, p.p_brand
    ),
    spine AS (
      -- dims come from the BASE dimension tables (tiny, broadcastable)
      -- rather than re-running the fact rollup per reference; only
      -- cells that could exist appear, so vanished-cell mass is kept
      SELECT na.n_name AS nation, br.p_brand AS brand
      FROM nation na
      CROSS JOIN (SELECT DISTINCT p_brand FROM part) br
    ),
    dense AS (
      SELECT
        s.nation,
        s.brand,
        CAST(coalesce(c.n, 0) AS DOUBLE) AS n
      FROM spine s
      LEFT JOIN cells c ON c.nation = s.nation AND c.brand = s.brand
    ),
    margined AS (
      SELECT
        nation, brand, n,
        sum(n) OVER (PARTITION BY nation) AS nation_n,
        sum(n) OVER (PARTITION BY brand) AS brand_n,
        sum(n) OVER () AS tot
      FROM dense
    )
    SELECT
      nation,
      brand,
      {cnt("n", "n_lines")},
      {dbl("n * tot / nullif(nation_n * brand_n, 0.0)", "lift")},
      {dbl("(n - nation_n * brand_n / nullif(tot, 0.0))"
           " * (n - nation_n * brand_n / nullif(tot, 0.0))"
           " / nullif(nation_n * brand_n / nullif(tot, 0.0), 0.0)",
           "chi2_contrib")}
    FROM margined
    ORDER BY nation, brand
    """


def _debtor_contrast_sql(d: str) -> str:
    # C158 — do customers in the red behave differently?  Per segment:
    # the negative-balance share and the debtor/creditor contrast on
    # order rate and mean order value (outer join keeps inactive
    # customers in the rate).
    return f"""
    WITH per_cust AS (
      SELECT
        c.c_mktsegment AS segment,
        CASE WHEN c.c_acctbal < 0 THEN 1 ELSE 0 END AS debtor,
        count(o.o_orderkey) AS n_orders,
        avg(o.o_totalprice) AS mean_value
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment, c.c_acctbal
    )
    SELECT
      segment,
      {cnt("count(*)", "n_customers")},
      {dbl("avg(CAST(debtor AS DOUBLE))", "debtor_share")},
      {dbl("avg(CASE WHEN debtor = 1 THEN CAST(n_orders AS DOUBLE) END)",
           "debtor_order_rate")},
      {dbl("avg(CASE WHEN debtor = 0 THEN CAST(n_orders AS DOUBLE) END)",
           "creditor_order_rate")},
      {dbl("avg(CASE WHEN debtor = 1 THEN mean_value END)",
           "debtor_mean_value")},
      {dbl("avg(CASE WHEN debtor = 0 THEN mean_value END)",
           "creditor_mean_value")}
    FROM per_cust
    GROUP BY segment
    ORDER BY segment
    """


def _part_name_tokens_sql(d: str) -> str:
    # E119 — dimension-table text profile: the part-name vocabulary
    # (TPC-H p_name is a bag of color words).  Distinct tokens, mean
    # tokens per name, and the top token's share — the text-analysis
    # toolchain pointed at a dimension table instead of the corpus.
    toks = (
        "split(lower(p_name), ' +')" if d == "spark"
        else "string_split_regex(lower(p_name), ' +')"
    )
    unnest = (
        f"LATERAL VIEW explode({toks}) t AS token" if d == "spark"
        else f", unnest({toks}) AS t(token)"
    )
    return f"""
    WITH tok AS (
      SELECT token FROM part {unnest}
    ),
    counts AS (
      SELECT token, count(*) AS c FROM tok GROUP BY token
    )
    SELECT
      {cnt("count(*)", "n_distinct_tokens")},
      {cnt("sum(c)", "n_tokens")},
      {cnt("max(c)", "top_token_count")},
      {dbl("CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)",
           "top_token_share")},
      {dbl("CAST(sum(c) AS DOUBLE)"
           " / (SELECT CAST(count(*) AS DOUBLE) FROM part)",
           "mean_tokens_per_name")}
    FROM counts
    """


QUERIES.extend([
    sql_backed("discount_depth_by_price_quartile", _discount_depth_sql,
               ("lineitem",)),
    sql_backed("nation_brand_affinity", _nation_brand_affinity_sql,
               ("lineitem", "orders", "customer", "nation", "part")),
    sql_backed("debtor_activity_contrast", _debtor_contrast_sql,
               ("customer", "orders")),
    sql_backed("part_name_token_stats", _part_name_tokens_sql,
               ("part",)),
])


def _nrr_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C161 — net revenue retention per order year (the SaaS metric on
    # the order book): of this year's header revenue, how much comes
    # from customers who ALSO bought last year, as a share of last
    # year's total — NRR > 1 means the retained base alone out-spends
    # the whole prior year.  C114's yoy growth can't separate
    # expansion-from-retained vs acquisition; this does.
    #
    # Scale: one MATERIALIZED (customer, year) header rollup (single
    # shuffle; the r10w2 review caught the inlined form re-scanning
    # orders 3x — cy twice via the self-join, per_year twice via the
    # prior-year join), a self-join on (customer, year−1) — same key,
    # co-partitioned — then a ≤|years| rollup; the prior-year total
    # joins on the tiny per-year frame, no global window.
    cy_sql = f"""
      SELECT o_custkey AS c, CAST(year(o_orderdate) AS BIGINT) AS yr,
             sum(o_totalprice) AS rev
      FROM orders
      GROUP BY o_custkey, CAST(year(o_orderdate) AS BIGINT)
    """
    tail = f"""
    WITH tagged AS (
      SELECT cur.yr, cur.rev,
             CASE WHEN prev.c IS NOT NULL THEN 1 ELSE 0 END AS retained
      FROM _mz_nrr_cy cur
      LEFT JOIN _mz_nrr_cy prev ON prev.c = cur.c AND prev.yr = cur.yr - 1
    ),
    per_year AS (
      SELECT yr,
        count(*) AS n_cust,
        sum(retained) AS n_retained,
        sum(rev) AS total_rev,
        sum(CASE WHEN retained = 1 THEN rev ELSE 0.0 END) AS retained_rev
      FROM tagged GROUP BY yr
    )
    SELECT
      cur.yr AS order_year,
      {cnt("cur.n_cust", "n_customers")},
      {cnt("cur.n_retained", "n_retained")},
      {dbl("cur.total_rev", "total_rev")},
      {dbl("cur.retained_rev", "retained_rev")},
      {dbl("cur.retained_rev / nullif(prev.total_rev, 0.0)",
           "net_revenue_retention")},
      {dbl("CASE WHEN cur.total_rev > 0.0 "
           "THEN 1.0 - cur.retained_rev / cur.total_rev ELSE 0.0 END",
           "new_revenue_share")},
      {dbl("CAST(cur.n_retained AS DOUBLE) / cur.n_cust",
           "retained_customer_share")}
    FROM per_year cur
    LEFT JOIN per_year prev ON prev.yr = cur.yr - 1
    ORDER BY order_year
    """
    return [("_mz_nrr_cy", cy_sql)], tail


SS_Z_LADDER = ((90, 1.2815515655446004), (95, 1.6448536269514722),
               (99, 2.3263478740408408))  # Φ⁻¹ as Python doubles


def _safety_stock_sql(d: str) -> str:
    # C162 — safety-stock parameters per brand: the inventory-planning
    # closed form ss = z·sqrt(L̄·σ_d² + d̄²·σ_L²) (demand AND lead-time
    # uncertainty both guarded against — Silver-Pyke-Peterson ch. 9),
    # at the 90/95/99 service ladder, plus the z95 reorder point
    # d̄·L̄ + ss₉₅.  Weekly shipped quantity proxies demand (observed
    # weeks only, documented), converted to daily via /7 on the mean
    # and variance (iid-days assumption); lead time = ship − order
    # epoch days per line.
    #
    # Scale: TWO independent fact scans, each one shuffle — the weekly
    # demand rollup needs only lineitem⨝part (broadcast dim), the
    # lead-time rollup adds the orders join (orderkey equi-join);
    # fusing them would force materializing a fact-sized frame.
    # z constants inlined as Python doubles (the D79 DECIMAL-literal
    # lesson).
    wk = f"CAST(floor({_eday('l_shipdate', d)} / 7.0) AS BIGINT)"
    var = "CASE WHEN {n} >= 2.0 THEN ({ss} - {s} * {s} / {n}) / ({n} - 1.0) ELSE 0.0 END"
    var_d = var.format(n="dw.n_weeks", s="dw.s_qty", ss="dw.ss_qty")
    var_l = var.format(n="lt.n_lines", s="lt.s_lead", ss="lt.ss_lead")
    # daily-demand moments from the weekly rollup
    dbar = "(dw.s_qty / dw.n_weeks / 7.0)"
    vard = f"({var_d} / 7.0)"
    lbar = "(lt.s_lead / lt.n_lines)"
    ss_term = f"sqrt({lbar} * {vard} + {dbar} * {dbar} * ({var_l}))"
    ss_cols = ",\n      ".join(
        dbl(f"CASE WHEN dw.n_weeks >= 2.0 AND lt.n_lines >= 2.0 "
            f"THEN {z} * {ss_term} ELSE 0.0 END", f"safety_stock_z{lvl}")
        for lvl, z in SS_Z_LADDER
    )
    z95 = SS_Z_LADDER[1][1]
    return f"""
    WITH weekly AS (
      SELECT p.p_brand AS brand, {wk} AS wk, sum(l.l_quantity) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand, {wk}
    ),
    dw AS (
      SELECT brand, CAST(count(*) AS DOUBLE) AS n_weeks,
             sum(qty) AS s_qty, sum(qty * qty) AS ss_qty
      FROM weekly GROUP BY brand
    ),
    lead AS (
      SELECT p.p_brand AS brand,
        CAST({_eday('l.l_shipdate', d)} - {_eday('o.o_orderdate', d)}
             AS DOUBLE) AS lead_days
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
    ),
    lt AS (
      SELECT brand, CAST(count(*) AS DOUBLE) AS n_lines,
             sum(lead_days) AS s_lead, sum(lead_days * lead_days) AS ss_lead
      FROM lead GROUP BY brand
    )
    SELECT
      dw.brand,
      {cnt("dw.n_weeks", "n_weeks")},
      {cnt("lt.n_lines", "n_lines")},
      {dbl(dbar, "mean_daily_qty")},
      {dbl(lbar, "mean_lead_days")},
      {dbl(f"CASE WHEN lt.n_lines >= 2.0 THEN sqrt({var_l}) ELSE 0.0 END",
           "sd_lead_days")},
      {ss_cols},
      {dbl(f"CASE WHEN dw.n_weeks >= 2.0 AND lt.n_lines >= 2.0 "
           f"THEN {dbar} * {lbar} + {z95} * {ss_term} ELSE 0.0 END",
           "reorder_point_z95")}
    FROM dw JOIN lt ON lt.brand = dw.brand
    ORDER BY dw.brand
    """


def _bullwhip_sql(d: str) -> str:
    # C163 — bullwhip variance amplification per brand (Lee et al.
    # 1997): CV² of monthly ORDERED quantity (order-date axis) over
    # CV² of monthly SHIPPED quantity (ship-date axis) — ratio > 1
    # means the order signal upstream is noisier than the physical
    # flow it drives.  Both month axes live on the SAME joined row, so
    # GROUPING SETS ((brand, order-month), (brand, ship-month))
    # produces both monthly series in ONE fact scan (the C26 lattice
    # trick as a scan-dedup device); CV² from decomposable sums.
    om = f"CAST(floor({_eday('o.o_orderdate', d)} / 30.0) AS BIGINT)"
    sm = f"CAST(floor({_eday('l.l_shipdate', d)} / 30.0) AS BIGINT)"
    cv2 = (
        "CASE WHEN {n} >= 2.0 AND {s} > 0.0 "
        "THEN (({ss} - {s} * {s} / {n}) / ({n} - 1.0)) "
        "     / (({s} / {n}) * ({s} / {n})) "
        "ELSE 0.0 END"
    )
    cv2_o = cv2.format(n="n_o", s="s_o", ss="ss_o")
    cv2_s = cv2.format(n="n_s", s="s_s", ss="ss_s")
    return f"""
    WITH cells AS (
      SELECT
        p.p_brand AS brand,
        {om} AS omonth,
        {sm} AS smonth,
        grouping({om}) AS g_o,
        sum(l.l_quantity) AS qty
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY GROUPING SETS ((p.p_brand, {om}), (p.p_brand, {sm}))
    ),
    moments AS (
      SELECT brand,
        sum(CASE WHEN g_o = 0 THEN 1.0 ELSE 0.0 END) AS n_o,
        sum(CASE WHEN g_o = 0 THEN qty ELSE 0.0 END) AS s_o,
        sum(CASE WHEN g_o = 0 THEN qty * qty ELSE 0.0 END) AS ss_o,
        sum(CASE WHEN g_o = 1 THEN 1.0 ELSE 0.0 END) AS n_s,
        sum(CASE WHEN g_o = 1 THEN qty ELSE 0.0 END) AS s_s,
        sum(CASE WHEN g_o = 1 THEN qty * qty ELSE 0.0 END) AS ss_s
      FROM cells GROUP BY brand
    )
    SELECT
      brand,
      {cnt("n_o", "n_order_months")},
      {cnt("n_s", "n_ship_months")},
      {dbl(cv2_o, "cv2_orders")},
      {dbl(cv2_s, "cv2_shipments")},
      {dbl(f"round({cv2_o} + {NUDGE}, 4) "
           f"/ nullif(round({cv2_s} + {NUDGE}, 4), 0.0)",
           "bullwhip_ratio")}
    FROM moments
    ORDER BY brand
    """


def _price_dispersion_sql(d: str) -> str:
    # C164 — law-of-one-price audit: within each part, how much does
    # the realized unit price vary ACROSS suppliers?  Per-part CV of
    # per-supplier mean unit price (parts with ≥ 2 suppliers), rolled
    # up per part type with the share of parts whose dispersion
    # exceeds 5% — the sourcing-arbitrage readout C141's realization
    # rate (brand-level mean) can't see.
    #
    # Scale: (part, supplier) rollup = one shuffle on a key wider than
    # the part count; per-part CV on the ≤|parts|·|suppliers-per-part|
    # frame; broadcast part-dim join; ≤|types| output.
    return f"""
    WITH ps AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
        sum(l_extendedprice) / sum(l_quantity) AS unit_price
      FROM lineitem
      WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    ),
    per_part AS (
      SELECT pk, CAST(count(*) AS DOUBLE) AS n_supp,
        sum(unit_price) AS s, sum(unit_price * unit_price) AS ss
      FROM ps GROUP BY pk
    ),
    cv AS (
      SELECT pk, n_supp,
        CASE WHEN n_supp >= 2.0 AND s > 0.0
             THEN round(sqrt(greatest((ss - s * s / n_supp)
                                      / (n_supp - 1.0), 0.0))
                        / (s / n_supp) + {NUDGE}, 4) + 0.0
             ELSE 0.0 END AS cv_price
      FROM per_part WHERE n_supp >= 2.0
    )
    SELECT
      p.p_type AS part_type,
      {cnt("count(*)", "n_multi_supplier_parts")},
      {dbl("avg(c.n_supp)", "avg_suppliers")},
      {dbl("avg(c.cv_price)", "avg_price_cv")},
      {dbl(pct("c.cv_price", 0.9, d), "p90_price_cv")},
      {dbl("max(c.cv_price)", "max_price_cv")},
      {dbl("avg(CAST(CASE WHEN c.cv_price > 0.05 THEN 1 ELSE 0 END AS DOUBLE))",
           "dispersed_share")}
    FROM cv c JOIN part p ON p.p_partkey = c.pk
    GROUP BY p.p_type
    ORDER BY part_type
    """


def _nation_kendall_sql(d: str) -> str:
    # C165 — Kendall tau-b between nation customer-count rank and
    # nation revenue rank (the concordance twin of C133's Spearman:
    # tau-b is pair-exact under ties and more robust to a single rank
    # outlier).  All pair arithmetic is EXACT integers/doubles on the
    # ≤|nations| rollup; the pair self-join is ≤|nations|² rows — a
    # post-agg frame, never the facts.
    #
    # ALLOW-LISTED CARTESIAN (r11 verdict adjudication — do not
    # re-litigate on a ledger diff): this is the plan ledger's only
    # has_cartesian=true.  The cross join pairs two per-year rank
    # frames each bounded by |nations| ≤ 25 rows (≤625 pairs), both
    # AGGREGATED before the join — it cannot scale with fact volume,
    # and rewriting it as an equi-join on a dummy key would obscure
    # the all-pairs semantics tau-b actually needs.
    return f"""
    WITH per_nation AS (
      SELECT c.c_nationkey AS nk,
        CAST(count(DISTINCT c.c_custkey) AS DOUBLE) AS n_cust,
        round(coalesce(sum(o.o_totalprice), 0.0) + {NUDGE}, 4) + 0.0 AS rev
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    ),
    pairs AS (
      SELECT
        CASE WHEN (a.n_cust - b.n_cust) * (a.rev - b.rev) > 0.0
             THEN 1.0 ELSE 0.0 END AS conc,
        CASE WHEN (a.n_cust - b.n_cust) * (a.rev - b.rev) < 0.0
             THEN 1.0 ELSE 0.0 END AS disc,
        CASE WHEN a.n_cust = b.n_cust THEN 1.0 ELSE 0.0 END AS tie_x,
        CASE WHEN a.rev = b.rev THEN 1.0 ELSE 0.0 END AS tie_y
      FROM per_nation a JOIN per_nation b ON a.nk < b.nk
    ),
    sums AS (
      SELECT CAST(count(*) AS DOUBLE) AS n0,
        sum(conc) AS c, sum(disc) AS dd,
        sum(tie_x) AS tx, sum(tie_y) AS ty
      FROM pairs
    )
    SELECT
      {cnt("n0", "n_pairs")},
      {cnt("c", "concordant")},
      {cnt("dd", "discordant")},
      {cnt("tx", "tied_on_customers")},
      {cnt("ty", "tied_on_revenue")},
      {dbl(
          "CASE WHEN (n0 - tx) * (n0 - ty) > 0.0 "
          "THEN (c - dd) / sqrt((n0 - tx) * (n0 - ty)) ELSE 0.0 END",
          "kendall_tau_b",
      )}
    FROM sums
    """


QUERIES.extend([
    materialized_backed("net_revenue_retention", _nrr_parts, ("orders",)),
    sql_backed("safety_stock_parameters", _safety_stock_sql,
               ("lineitem", "orders", "part")),
    sql_backed("bullwhip_variance_ratio", _bullwhip_sql,
               ("lineitem", "orders", "part")),
    sql_backed("part_price_dispersion", _price_dispersion_sql,
               ("lineitem", "part")),
    sql_backed("nation_metric_kendall", _nation_kendall_sql,
               ("customer", "orders")),
])


def _price_index_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C170 — classical price indices per ship month (Laspeyres,
    # Paasche, Fisher): the macro complement to C164's cross-supplier
    # dispersion — is the realized price LEVEL of the traded basket
    # moving?  Laspeyres weights by base-month quantities (q₀),
    # Paasche by current (q_t), Fisher is their geometric mean; all
    # over parts present in BOTH the base and current month (matched
    # basket — the textbook requirement, the share of current-month
    # value it covers is reported as basket_coverage).
    #
    # Scale: ONE (part, month) rollup (single fact shuffle),
    # materialized because the base-month frame, the per-month tail,
    # and the coverage sum all read it; the base month is a broadcast
    # 1-row min; index arithmetic rides the ≤|parts|·|months| frame.
    mo = f"CAST(floor({_eday('l_shipdate', d)} / 30.0) AS BIGINT)"
    pm_sql = f"""
      SELECT l_partkey AS pk, {mo} AS mo,
        sum(l_quantity) AS qty,
        sum(l_extendedprice) AS val,
        sum(l_extendedprice) / sum(l_quantity) AS unit_price
      FROM lineitem
      WHERE l_quantity > 0
      GROUP BY l_partkey, {mo}
    """
    tail = f"""
    WITH base_mo AS (
      SELECT min(mo) AS mo0 FROM _mz_pi_pm
    ),
    base AS (
      SELECT p.pk, p.qty AS q0, p.unit_price AS p0
      FROM _mz_pi_pm p CROSS JOIN base_mo b
      WHERE p.mo = b.mo0
    ),
    matched AS (
      SELECT cur.mo, cur.pk,
        cur.unit_price AS pt, cur.qty AS qt, cur.val AS vt,
        b.p0, b.q0
      FROM _mz_pi_pm cur
      JOIN base b ON b.pk = cur.pk
    ),
    idx AS (
      SELECT mo,
        CAST(count(*) AS BIGINT) AS n_matched_parts,
        sum(pt * q0) / nullif(sum(p0 * q0), 0.0) AS laspeyres,
        sum(pt * qt) / nullif(sum(p0 * qt), 0.0) AS paasche,
        sum(vt) AS matched_val
      FROM matched GROUP BY mo
    ),
    tot AS (
      SELECT mo, sum(val) AS month_val FROM _mz_pi_pm GROUP BY mo
    )
    SELECT
      i.mo AS ship_month,
      {cnt("i.n_matched_parts", "n_matched_parts")},
      {dbl("i.laspeyres", "laspeyres_index")},
      {dbl("i.paasche", "paasche_index")},
      {dbl("sqrt(greatest(round(coalesce(i.laspeyres, 0.0) + {N}, 4)"
           " * round(coalesce(i.paasche, 0.0) + {N}, 4), 0.0))",
           "fisher_index")},
      {dbl("i.matched_val / nullif(t.month_val, 0.0)",
           "basket_coverage")}
    FROM idx i JOIN tot t ON t.mo = i.mo
    ORDER BY ship_month
    """.replace("{N}", NUDGE)
    return [("_mz_pi_pm", pm_sql)], tail


def _value_mix_shift_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C171 — year-over-year order-value MIX shift: each year's orders
    # split into global value quartiles (broadcast exact bounds — the
    # C144 recipe), then the Jensen-Shannon divergence between
    # consecutive years' quartile mixes.  C113 tracks revenue LEVEL
    # growth; this flags COMPOSITION change (same revenue, different
    # basket shape) — the early signal of a customer-base shift.
    #
    # The JSD sums over a DENSE year x quartile spine: the first draft
    # summed only cells PRESENT in the current year, so mass vanishing
    # from a prior-year cell went uncounted and a total shift scored
    # half its true divergence (caught by the planted fixture).
    # Shares are floored and rounded before log2 (the D27 PSI parity
    # discipline); the shares frame materializes (the spine + two
    # joins read it three times).
    vb = ", ".join(
        f"{pct('o_totalprice', p, d)} AS v{i}"
        for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
    )
    q = (
        "CASE WHEN o.o_totalprice <= b.v1 THEN 1 "
        "WHEN o.o_totalprice <= b.v2 THEN 2 "
        "WHEN o.o_totalprice <= b.v3 THEN 3 ELSE 4 END"
    )
    share = ("round(greatest(CAST(n AS DOUBLE) / tot, 1e-4) "
             f"+ {NUDGE}, 4) + 0.0")
    shares_sql = f"""
      WITH bounds AS (SELECT {vb} FROM orders),
      cells AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
          CAST({q} AS BIGINT) AS quartile,
          count(*) AS n
        FROM orders o CROSS JOIN bounds b
        GROUP BY CAST(year(o.o_orderdate) AS BIGINT), {q}
      )
      SELECT yr, quartile, {share} AS p
      FROM (
        SELECT yr, quartile, n,
          CAST(sum(n) OVER (PARTITION BY yr) AS DOUBLE) AS tot
        FROM cells
      ) t
    """
    m = f"round((p + q_) / 2.0 + {NUDGE}, 4)"
    jsd_term = f"0.5 * p * log2(p / {m}) + 0.5 * q_ * log2(q_ / {m})"
    tail = f"""
    WITH years AS (SELECT DISTINCT yr FROM _mz_vmx_shares),
    spine AS (
      SELECT y.yr, qq.quartile
      FROM years y CROSS JOIN (
        SELECT 1 AS quartile UNION ALL SELECT 2
        UNION ALL SELECT 3 UNION ALL SELECT 4
      ) qq
    ),
    pairs AS (
      SELECT s.yr,
        coalesce(c.p, 1e-4) AS p,
        coalesce(pv.p, 1e-4) AS q_
      FROM spine s
      LEFT JOIN _mz_vmx_shares c
        ON c.yr = s.yr AND c.quartile = s.quartile
      LEFT JOIN _mz_vmx_shares pv
        ON pv.yr = s.yr - 1 AND pv.quartile = s.quartile
    ),
    jsd AS (
      SELECT yr, sum({jsd_term}) AS js_div,
        CAST(count(*) AS BIGINT) AS n_cells
      FROM pairs GROUP BY yr
    ),
    first_yr AS (SELECT min(yr) AS y0 FROM _mz_vmx_shares)
    SELECT
      j.yr AS order_year,
      {cnt("j.n_cells", "n_cells")},
      {dbl("CASE WHEN j.yr = f.y0 THEN 0.0 ELSE j.js_div END",
           "js_divergence_vs_prior")}
    FROM jsd j CROSS JOIN first_yr f
    ORDER BY order_year
    """
    return [("_mz_vmx_shares", shares_sql)], tail


QUERIES.extend([
    materialized_backed("laspeyres_price_index", _price_index_parts,
                        ("lineitem",)),
    materialized_backed("value_mix_shift_yearly", _value_mix_shift_parts,
                        ("orders",)),
])


def _basket_tradeoff_sql(d: str) -> str:
    # C172 — basket size vs unit-price tradeoff: do bigger orders buy
    # cheaper items?  Per order: line count + mean realized unit
    # price; bucketed curve (1..6 lines, 7+ pooled) plus the in-row
    # corr_safe dependence — the merchandising readout between C103's
    # within-part elasticity and C137's header profile.
    #
    # One orderkey shuffle (group lineitem by order), ≤7-row rollup;
    # the corr rides the same per-order frame via a second tiny agg
    # joined back broadcast.
    return f"""
    WITH per_order AS (
      SELECT l_orderkey,
        CAST(count(*) AS DOUBLE) AS n_lines,
        avg(l_extendedprice / l_quantity) AS mean_unit_price
      FROM lineitem
      WHERE l_quantity > 0
      GROUP BY l_orderkey
    ),
    dep AS (
      SELECT round({corr_safe("n_lines", "mean_unit_price")}
                   + {NUDGE}, 4) + 0.0 AS size_price_corr
      FROM per_order
    )
    SELECT
      least(CAST(p.n_lines AS BIGINT), 7) AS n_lines_bucket,
      {cnt("count(*)", "n_orders")},
      {dbl("avg(p.mean_unit_price)", "mean_unit_price")},
      {dbl("avg(p.n_lines)", "mean_lines")},
      {dbl("max(d.size_price_corr)", "size_price_corr")}
    FROM per_order p CROSS JOIN dep d
    GROUP BY least(CAST(p.n_lines AS BIGINT), 7)
    ORDER BY n_lines_bucket
    """


QUERIES.extend([
    sql_backed("basket_size_price_tradeoff", _basket_tradeoff_sql,
               ("lineitem",)),
])


def _leadtime_vardecomp_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D83 — nested variance decomposition of line-level lead time:
    # SS_total splits into between-PRIORITY + between-BRAND-within-
    # priority + residual (the unbalanced-safe nesting — a two-way
    # crossed ANOVA is ambiguous on unbalanced counts).  The ops
    # question behind C148's trend: is lead-time variation a PRIORITY
    # policy effect, a BRAND/supply-base effect, or just noise no
    # segmentation will fix?
    #
    # One fact scan → MATERIALIZED (priority, brand) cell stats (four
    # consumers — prio twice, grand, parts_ss — re-ran the three-table
    # join inlined: the advisor sweep caught 4 FileScans); everything
    # above the cells is ≤|priorities|·|brands| arithmetic.  Cell and
    # group means round before the squared differences.
    lead = (
        f"CAST({_eday('l.l_shipdate', d)} - {_eday('o.o_orderdate', d)} "
        "AS DOUBLE)"
    )
    cells_sql = f"""
      SELECT o.o_orderpriority AS priority, p.p_brand AS brand,
        CAST(count(*) AS DOUBLE) AS n_c,
        sum({lead}) AS s_c,
        sum({lead} * {lead}) AS ss_c
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY o.o_orderpriority, p.p_brand
    """
    tail = f"""
    WITH prio AS (
      SELECT priority, sum(n_c) AS n_p, sum(s_c) AS s_p,
        round(sum(s_c) / sum(n_c) + {NUDGE}, 4) + 0.0 AS m_p
      FROM _mz_lvd_cells GROUP BY priority
    ),
    grand AS (
      SELECT sum(n_c) AS n, round(sum(s_c) / sum(n_c) + {NUDGE}, 4) + 0.0
        AS m
      FROM _mz_lvd_cells
    ),
    parts_ss AS (
      SELECT
        sum(c.ss_c - c.s_c * c.s_c / c.n_c) AS ss_resid,
        sum(c.n_c * (round(c.s_c / c.n_c + {NUDGE}, 4) + 0.0 - p.m_p)
            * (round(c.s_c / c.n_c + {NUDGE}, 4) + 0.0 - p.m_p))
          AS ss_brand,
        sum(c.n_c * (p.m_p - g.m) * (p.m_p - g.m)) AS ss_prio_part
      FROM _mz_lvd_cells c
      JOIN prio p ON p.priority = c.priority
      CROSS JOIN grand g
    ),
    tot AS (
      SELECT ss_resid, ss_brand, ss_prio_part,
        ss_resid + ss_brand + ss_prio_part AS ss_total
      FROM parts_ss
    )
    SELECT
      p.priority,
      {cnt("p.n_p", "n_lines")},
      {dbl("p.m_p", "mean_lead_days")},
      {dbl("t.ss_prio_part / nullif(t.ss_total, 0.0)",
           "priority_var_share")},
      {dbl("t.ss_brand / nullif(t.ss_total, 0.0)",
           "brand_within_var_share")},
      {dbl("t.ss_resid / nullif(t.ss_total, 0.0)",
           "residual_var_share")}
    FROM prio p CROSS JOIN tot t
    ORDER BY p.priority
    """
    return [("_mz_lvd_cells", cells_sql)], tail


TOP_CUSTOMER_K = 50


def _top_customer_turnover_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C173 — year-over-year churn of the top-K customer set (the
    # account-management twin of E118's trade-partner turnover): the
    # Jaccard between consecutive years' top-{TOP_CUSTOMER_K} revenue
    # sets + the share of this year's top set that is newly arrived.
    # A stable business shows high overlap; a leaky one replaces its
    # head every year while total revenue looks flat.
    #
    # Scale: (customer, year) rollup = one shuffle; the rank window
    # partitions BY YEAR over that rollup (≤|customers| per partition,
    # reduced frame); the ≤K·|years| top set MATERIALIZES — its four
    # references (two self-join sides each in sizes and inter) re-ran
    # the rollup+rank inlined (advisor sweep: 4 FileScans).
    tops_sql = f"""
      WITH cy AS (
        SELECT o_custkey AS c, CAST(year(o_orderdate) AS BIGINT) AS yr,
          round(sum(o_totalprice) + {NUDGE}, 4) + 0.0 AS rev
        FROM orders
        GROUP BY o_custkey, CAST(year(o_orderdate) AS BIGINT)
      ),
      ranked AS (
        SELECT c, yr,
          row_number() OVER (
            PARTITION BY yr ORDER BY rev DESC, c
          ) AS rk
        FROM cy
      )
      SELECT c, yr FROM ranked WHERE rk <= {TOP_CUSTOMER_K}
    """
    tail = f"""
    WITH sizes AS (
      SELECT yr, CAST(count(*) AS DOUBLE) AS k
      FROM _mz_tct_tops GROUP BY yr
    ),
    inter AS (
      SELECT cur.yr, CAST(count(*) AS DOUBLE) AS n_common
      FROM _mz_tct_tops cur JOIN _mz_tct_tops prev
        ON prev.c = cur.c AND prev.yr = cur.yr - 1
      GROUP BY cur.yr
    )
    SELECT
      s1.yr - 1 AS year_from,
      s1.yr AS year_to,
      {cnt("s0.k", "k_prior")},
      {cnt("s1.k", "k_current")},
      {cnt("coalesce(i.n_common, 0)", "n_retained")},
      {dbl("coalesce(i.n_common, 0.0) "
           "/ (s0.k + s1.k - coalesce(i.n_common, 0.0))",
           "top_set_jaccard")},
      {dbl("1.0 - coalesce(i.n_common, 0.0) / s1.k",
           "new_entrant_share")}
    FROM sizes s1
    JOIN sizes s0 ON s0.yr = s1.yr - 1
    LEFT JOIN inter i ON i.yr = s1.yr
    ORDER BY year_to
    """
    return [("_mz_tct_tops", tops_sql)], tail


QUERIES.extend([
    materialized_backed("leadtime_variance_decomposition",
                        _leadtime_vardecomp_parts,
                        ("lineitem", "orders", "part")),
    materialized_backed("top_customer_turnover",
                        _top_customer_turnover_parts,
                        ("orders",)),
])


def _nb_ordersize_sql(d: str) -> str:
    # C175 — negative-binomial moments fit of lines-per-order per
    # market segment (the count-data model C137's raw profile doesn't
    # fit): dispersion index s²/μ > 1 says Poisson under-models basket
    # sizes; the NB moments estimators r = μ²/(s²−μ), p = μ/s² then
    # parameterize a basket simulator.  One orderkey rollup + a
    # broadcast orders→customer hop, decomposable sums per segment.
    return f"""
    WITH per_order AS (
      SELECT l_orderkey, CAST(count(*) AS DOUBLE) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    ),
    seg AS (
      SELECT c.c_mktsegment AS segment, p.n_lines
      FROM per_order p
      JOIN orders o ON o.o_orderkey = p.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    mom AS (
      SELECT segment,
        CAST(count(*) AS DOUBLE) AS n,
        sum(n_lines) AS s,
        sum(n_lines * n_lines) AS ss
      FROM seg GROUP BY segment
    ),
    fit AS (
      SELECT segment, n, s / n AS mu,
        CASE WHEN n >= 2.0 THEN (ss - s * s / n) / (n - 1.0)
             ELSE 0.0 END AS var_
      FROM mom
    )
    SELECT
      segment,
      {cnt("n", "n_orders")},
      {dbl("mu", "mean_lines")},
      {dbl("var_", "var_lines")},
      {dbl("CASE WHEN mu > 0.0 THEN var_ / mu ELSE 0.0 END",
           "dispersion_index")},
      {dbl("CASE WHEN var_ - mu > 1e-12 THEN mu * mu / (var_ - mu) "
           "ELSE 0.0 END", "nb_r")},
      {dbl("CASE WHEN var_ > 1e-12 AND var_ - mu > 1e-12 "
           "THEN mu / var_ ELSE 0.0 END", "nb_p")},
      CAST(CASE WHEN mu > 0.0 THEN var_ / mu > 1.0 ELSE FALSE END
           AS BOOLEAN) AS overdispersed
    FROM fit
    ORDER BY segment
    """


QUERIES.extend([
    sql_backed("nb_ordersize_fit", _nb_ordersize_sql,
               ("lineitem", "orders", "customer")),
])
