"""Relational breadth queries on the star schema (TPC-H-shaped).

These exercise the engine's join/agg/sort machinery the way the
reference's NWDAF analytics would query enriched KPI fact tables:
broadcast dimension joins, multi-measure aggregation, deterministic
top-k.  At 100 TB: region/nation/customer/supplier are broadcast-side
(small dims), orders⋈lineitem shuffles on orderkey with AQE.
"""

from __future__ import annotations

from fiveg_spark.plans.registry import cnt, dbl, sql_backed


def _q1_sql(d: str) -> str:
    # Pricing-summary style: scan-heavy multi-measure agg with pushdown.
    return f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {dbl("sum(l_quantity)", "sum_qty")},
      {dbl("sum(l_extendedprice)", "sum_base_price")},
      {dbl("sum(l_extendedprice * (1 - l_discount))", "sum_disc_price")},
      {dbl("sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))", "sum_charge")},
      {dbl("avg(l_quantity)", "avg_qty")},
      {dbl("avg(l_extendedprice)", "avg_price")},
      {dbl("avg(l_discount)", "avg_disc")},
      {cnt("count(*)", "count_order")}
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """


def _q3_sql(d: str) -> str:
    # Shipping-priority style: 3-way join, agg, deterministic top-10.
    return f"""
    WITH agg AS (
      SELECT
        l.l_orderkey,
        o.o_orderdate,
        o.o_orderpriority,
        {dbl("sum(l.l_extendedprice * (1 - l.l_discount))", "revenue")}
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-03-15'
        AND l.l_shipdate > TIMESTAMP '1998-03-15'
      GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    )
    SELECT l_orderkey, revenue, o_orderdate, o_orderpriority
    FROM agg
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """


def _q5_sql(d: str) -> str:
    # Local-supplier-volume style: 6-way star join through two dims.
    return f"""
    SELECT
      n.n_name,
      {dbl("sum(l.l_extendedprice * (1 - l.l_discount))", "revenue")},
      {cnt("count(*)", "n_lineitems")}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """


def _q6_sql(d: str) -> str:
    # Forecast-revenue style: pure pushdown filter + single agg row.
    return f"""
    SELECT
      {dbl("sum(l_extendedprice * l_discount)", "revenue")},
      {cnt("count(*)", "n_rows")}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """


def _order_priority_sql(d: str) -> str:
    # Order-priority-count style (semi-join shape): orders that have at
    # least one lineitem shipped after the order date.
    # NOTE: intentionally registered ALONGSIDE tpch_deep._q4_sql
    # ("q4_priority_count") — same Q4 EXISTS shape, DIFFERENT date
    # window (H1-1997 here vs Q3-1997 there): this one exercises the
    # core-suite 6-month window, the deep-suite twin the canonical
    # 3-month spec window.
    return f"""
    SELECT
      o.o_orderpriority,
      {cnt("count(*)", "order_count")}
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """


QUERIES = [
    sql_backed("q1_pricing_summary", _q1_sql, ("lineitem",)),
    sql_backed("q3_shipping_priority", _q3_sql, ("customer", "orders", "lineitem")),
    sql_backed(
        "q5_local_supplier",
        _q5_sql,
        ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    ),
    sql_backed("q6_revenue_filter", _q6_sql, ("lineitem",)),
    sql_backed("q4_order_priority", _order_priority_sql, ("orders", "lineitem")),
]
