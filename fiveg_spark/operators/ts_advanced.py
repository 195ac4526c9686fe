"""Advanced time-series / graph analytics: hopping windows, seasonal
decomposition, rolling-origin CV, PageRank.

Completes the forecasting-support surface around ref train.py:

- Hopping (sliding) windows are the streaming-native generalization of
  the reference's tumbling 1 s windows (KafkaKpiPipeline.scala:99): the
  Spark side uses the engine-native ``window(ts, size, slide)``
  assignment while the oracle reconstructs windows arithmetically from
  hour offsets — a cross-ALGORITHM check, not just cross-engine.
- Seasonal decomposition (classical additive: hour-of-day seasonal +
  residual z-anomalies) is the statistical counterpart of the model's
  learned seasonality, and the standard pre-model anomaly screen.
- Rolling-origin CV generalizes train.py's single ordered 70/15/15
  split (train.py:186-190) into the walk-forward fold evaluation used
  for honest time-series model selection.
- PageRank over the nation-trade graph (revenue-weighted edges from the
  TPC-H star) demonstrates iterative graph analytics as UNROLLED join
  rounds — at 100 TB the edge aggregation is the only heavy shuffle;
  the rank table is |nations| rows and every iteration joins
  broadcast-small state against it.

Scale notes: every query aggregates raw facts ONCE (single shuffle);
all windows/iterations run on the reduced frame (≤ thousands of rows
regardless of SF).  Hopping windows multiply rows by the overlap factor
(2×) BEFORE the shuffle via a map-side expansion — the canonical
streaming-window cost model, no skew introduced.
"""

from __future__ import annotations

from fiveg_spark.operators.kpi import flows_cte
from fiveg_spark.operators.timeseries import _hourly_cte
from fiveg_spark.plans.registry import (
    NUDGE,
    Query,
    cnt,
    corr_safe,
    dbl,
    epoch,
    materialized_backed,
    ols_slope,
    pct,
    sql_backed,
)


def _hopping_window_sql(d: str) -> str:
    # 2 h windows hopping every 1 h: each packet lands in exactly two
    # windows.  Spark: native window() assignment (what the streaming
    # path uses).  Oracle: arithmetic reconstruction via hour offsets.
    if d == "spark":
        return f"""
    {flows_cte(d)}
    SELECT
      slice,
      window.start AS window_start,
      {cnt("count(*)", "n_packets")},
      {dbl("sum(pkt_len)", "total_bytes")},
      {dbl("avg(pkt_len)", "avg_pkt_len")},
      {cnt("count(DISTINCT flow_id)", "n_flows")}
    FROM flows
    GROUP BY slice, window(ts, '2 hours', '1 hour')
    """
    return f"""
    {flows_cte(d)},
    offs AS (SELECT 0 AS k UNION ALL SELECT 1),
    assigned AS (
      SELECT
        slice,
        date_trunc('hour', ts) - to_hours(k) AS window_start,
        pkt_len,
        flow_id
      FROM flows CROSS JOIN offs
    )
    SELECT
      slice,
      window_start,
      {cnt("count(*)", "n_packets")},
      {dbl("sum(pkt_len)", "total_bytes")},
      {dbl("avg(pkt_len)", "avg_pkt_len")},
      {cnt("count(DISTINCT flow_id)", "n_flows")}
    FROM assigned
    GROUP BY slice, window_start
    """


def _seasonal_decomposition_sql(d: str) -> str:
    # Classical additive decomposition on the hourly series: seasonal =
    # hour-of-day mean per slice, residual = value - seasonal, anomaly =
    # |z(residual)| > 3.  The z statistic is computed from explicit
    # Σ/Σ² (population), rounded BEFORE the flag comparison so the flag
    # derives from an already-parity-checked value in both engines.
    return f"""
    {_hourly_cte(d)},
    seasonal AS (
      SELECT
        slice,
        h,
        throughput_bps,
        round(avg(throughput_bps) OVER (PARTITION BY slice, hour(h)) + 1e-9, 4) + 0.0 AS seas
      FROM hourly
    ),
    resid AS (
      SELECT
        slice, h, throughput_bps, seas,
        round(throughput_bps - seas, 4) AS r
      FROM seasonal
    ),
    stats AS (
      SELECT
        slice,
        round(sqrt(avg(r * r) - avg(r) * avg(r)) + 1e-9, 4) + 0.0 AS sd_r,
        round(avg(r) + 1e-9, 4) + 0.0 AS mean_r
      FROM resid
      GROUP BY slice
    )
    SELECT
      re.slice,
      re.h AS window_start,
      CAST(re.throughput_bps AS DOUBLE) AS throughput_bps,
      CAST(re.seas AS DOUBLE) AS seasonal,
      CAST(re.r AS DOUBLE) AS residual,
      {dbl("(re.r - st.mean_r) / nullif(st.sd_r, 0.0)", "resid_z")},
      CAST(CASE WHEN abs(round((re.r - st.mean_r) / nullif(st.sd_r, 0.0) + 1e-9, 4) + 0.0) > 3.0
                THEN 1 ELSE 0 END AS INT) AS is_anomaly
    FROM resid re JOIN stats st ON re.slice = st.slice
    """


def _rolling_origin_cv_sql(d: str) -> str:
    # Walk-forward cross-validation: three expanding-train folds with a
    # 10%-of-series test horizon each; the naive lag-1 forecaster's
    # error per fold is the floor every candidate model must beat
    # (generalizes the single split at train.py:186-190).
    return f"""
    {_hourly_cte(d)},
    numbered AS (
      SELECT
        slice,
        h,
        throughput_bps AS v,
        lag(throughput_bps) OVER (PARTITION BY slice ORDER BY h) AS yhat,
        row_number() OVER (PARTITION BY slice ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY slice) AS n
      FROM hourly
    ),
    folds AS (
      SELECT 1 AS fold, 0.6 AS cut
      UNION ALL SELECT 2, 0.7
      UNION ALL SELECT 3, 0.8
    ),
    assigned AS (
      SELECT
        nu.slice, f.fold, nu.v, nu.yhat,
        CASE WHEN nu.rn <= CAST(floor(f.cut * nu.n) AS BIGINT) THEN 'train'
             WHEN nu.rn <= CAST(floor((f.cut + 0.1) * nu.n) AS BIGINT) THEN 'test'
             ELSE NULL END AS part
      FROM numbered nu CROSS JOIN folds f
    )
    SELECT
      slice,
      {cnt("fold", "fold")},
      {cnt("sum(CASE WHEN part = 'train' THEN 1 ELSE 0 END)", "n_train")},
      {cnt("sum(CASE WHEN part = 'test' THEN 1 ELSE 0 END)", "n_test")},
      {dbl("sqrt(avg(CASE WHEN part = 'test' THEN (v - yhat) * (v - yhat) END))", "rmse_naive")},
      {dbl("avg(CASE WHEN part = 'test' THEN abs(v - yhat) END)", "mae_naive")}
    FROM assigned
    WHERE part IS NOT NULL
    GROUP BY slice, fold
    """


# PageRank (damping 0.85, 3 unrolled iterations, no dangling-mass
# redistribution) over the revenue-weighted customer-nation →
# supplier-nation trade graph.  Edge weights and per-iteration ranks
# are rounded to 8 dp so both engines iterate identical doubles
# (sums span ≤25 terms; accumulation noise ~1e-17 dies at 8 dp).
#
# SHARED-TEXT SPLIT (advisor repeated-scan fix): one generator for the
# heavy edge frame, one for the tiny node frame, one for the iteration
# body over named relations.  DuckDB gets the whole thing as one CTE
# chain (it materializes CTEs); Spark's run function materializes the
# edge/node frames ONCE via localCheckpoint — inlined CTEs would re-run
# the 5-table join per iteration reference (the r3 minhash disease).

_PAGERANK_EDGES_SQL = """
      SELECT
        src, dst,
        round(w / sum(w) OVER (PARTITION BY src) + 1e-12, 8) AS p
      FROM (
        SELECT
          cn.n_name AS src,
          sn.n_name AS dst,
          sum(l.l_extendedprice * (1 - l.l_discount)) AS w
        FROM customer c
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
        GROUP BY cn.n_name, sn.n_name
      ) edges_raw
"""

_PAGERANK_NODES_SQL = """
      SELECT n_name AS node, CAST(cnt AS DOUBLE) AS cnt
      FROM nation CROSS JOIN (SELECT count(*) AS cnt FROM nation) t
"""


def _pagerank_body(edges_rel: str, nodes_rel: str) -> str:
    iter_tmpl = """
    r{i} AS (
      SELECT
        n.node,
        round(0.15 / n.cnt + 0.85 * coalesce(sum(p.rank * e.p), 0.0), 8) AS rank
      FROM {nodes} n
      LEFT JOIN {edges} e ON e.dst = n.node
      LEFT JOIN r{prev} p ON p.node = e.src
      GROUP BY n.node, n.cnt
    )"""
    iters = ",".join(
        iter_tmpl.format(i=i, prev=i - 1, nodes=nodes_rel, edges=edges_rel)
        for i in (1, 2, 3)
    )
    return f"""
    r0 AS (
      SELECT node, round(1.0 / cnt, 8) AS rank FROM {nodes_rel}
    ),
    {iters}
    SELECT
      node AS nation,
      CAST(round(rank * 1000.0 + 1e-9, 4) + 0.0 AS DOUBLE) AS pagerank_x1000
    FROM r3
    """


def _nation_pagerank_sql(d: str) -> str:
    return f"""
    WITH edges AS ({_PAGERANK_EDGES_SQL}),
    nodes AS ({_PAGERANK_NODES_SQL}),
    {_pagerank_body("edges", "nodes")}
    """


def _pagerank_run(spark, sf_dir):
    """Spark side of the pagerank split: materialize the 5-table edge
    frame and the 25-row node frame once, then run the iteration body
    against the checkpointed views."""
    from fiveg_spark.plans.registry import ensure_views

    ensure_views(spark, ("customer", "nation", "orders", "lineitem", "supplier"), sf_dir)
    spark.sql(_PAGERANK_EDGES_SQL).localCheckpoint().createOrReplaceTempView(
        "_pr_edges"
    )
    spark.sql(_PAGERANK_NODES_SQL).localCheckpoint().createOrReplaceTempView(
        "_pr_nodes"
    )
    return spark.sql(f"WITH {_pagerank_body('_pr_edges', '_pr_nodes')}")


def _arr_sorted(d: str, arr: str) -> str:
    return f"array_sort({arr})" if d == "spark" else f"list_sort({arr})"


def _arr_at(d: str, arr: str, i: str) -> str:
    return f"element_at({arr}, {i})" if d == "spark" else f"{arr}[{i}]"


def _arr_median(d: str, arr: str) -> str:
    """Lower+upper middle average over a sorted copy — exact median of
    an array of ANY length ≥1, identical arithmetic in both engines."""
    n = f"size({arr})" if d == "spark" else f"len({arr})"
    lo = _arr_at(d, _arr_sorted(d, arr), f"CAST(floor(({n} + 1) / 2.0) AS INT)")
    hi = _arr_at(d, _arr_sorted(d, arr), f"CAST(floor({n} / 2.0) AS INT) + 1")
    return f"(({lo}) + ({hi})) / 2.0"


def _hampel_sql(d: str) -> str:
    # Hampel filter on the hourly per-slice throughput series: rolling
    # window of 7 (±3 h), center x flagged when |x - med| exceeds
    # 3 * 1.4826 * MAD.  Both the rolling median and the rolling MAD
    # depend on the CENTER row's window, so this is NOT two chained
    # window aggs — the frame is materialized as an array (7 doubles,
    # constant memory) and both statistics come from array HOFs.
    # Scale: the window runs on the hourly reduced frame (≤ thousands
    # of rows per slice at any SF), one shuffle on slice.
    la = "x -> abs(x - m)" if d == "spark" else "x -> abs(x - m)"
    xform = "transform" if d == "spark" else "list_transform"
    collect = "collect_list" if d == "spark" else "list"
    frame = (
        f"{collect}(throughput_bps) OVER (PARTITION BY slice ORDER BY h "
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
    )
    return f"""
    {_hourly_cte(d)},
    win AS (
      SELECT slice, h, throughput_bps, {frame} AS arr FROM hourly
    ),
    med AS (
      SELECT slice, h, throughput_bps, arr,
             round({_arr_median(d, "arr")}, 4) AS m
      FROM win
    ),
    madded AS (
      SELECT slice, h, throughput_bps, m,
             round({_arr_median(d, f"{xform}(arr, {la})")}, 4) AS mad
      FROM med
    )
    SELECT
      slice,
      h AS window_start,
      {dbl("throughput_bps", "throughput")},
      {dbl("m", "rolling_median")},
      {dbl("mad", "rolling_mad")},
      {cnt("CASE WHEN round(abs(throughput_bps - m), 4) > round(3 * 1.4826 * mad, 4) THEN 1 ELSE 0 END", "is_outlier")}
    FROM madded
    ORDER BY slice, window_start
    """


# Triangle counting + local clustering coefficient on the (undirected)
# nation-trade graph.  Edges are oriented a<b and triangles joined
# a<b<c — the degree-orientation trick that bounds join fanout at
# scale (each triangle enumerated exactly once, no 6x duplication).
# Split like pagerank (advisor repeated-scan fix): the edge frame is
# referenced 5× by the body, so Spark materializes it once.

_TRIANGLE_EDGES_SQL = """
      SELECT DISTINCT
        least(cn.n_name, sn.n_name) AS a,
        greatest(cn.n_name, sn.n_name) AS b
      FROM customer c
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
"""


def _tris_sql(edges_rel: str) -> str:
    return f"""
      SELECT e1.a, e1.b, e2.b AS c
      FROM {edges_rel} e1
      JOIN {edges_rel} e2 ON e2.a = e1.b
      JOIN {edges_rel} e3 ON e3.a = e1.a AND e3.b = e2.b
"""


def _triangle_tail(edges_rel: str, tris_rel: str) -> str:
    return f"""
    tri_per_node AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS node FROM {tris_rel}
        UNION ALL SELECT b FROM {tris_rel}
        UNION ALL SELECT c FROM {tris_rel}
      ) t GROUP BY node
    ),
    degree AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT a AS node FROM {edges_rel} UNION ALL SELECT b FROM {edges_rel}
      ) t GROUP BY node
    )
    SELECT
      d.node AS nation,
      {cnt("d.deg", "degree")},
      {cnt("coalesce(t.n_tri, 0)", "n_triangles")},
      {dbl(
          "CASE WHEN d.deg > 1 THEN 2.0 * coalesce(t.n_tri, 0) / (d.deg * (d.deg - 1.0)) ELSE 0.0 END",
          "clustering_coeff",
      )}
    FROM degree d
    LEFT JOIN tri_per_node t ON t.node = d.node
    ORDER BY n_triangles DESC, nation
    """


K_CORE = 6  # strong-trade graph core numbers span 1..10: 6 cuts mid-shell
KCORE_ITERS = 8
KCORE_W_QUANTILE = 0.6  # edge keeps if its lineitem count >= this quantile

# weighted trade graph restricted to STRONG edges (volume >= the 60th
# percentile): the raw nation graph is a uniform near-clique (every
# node shares the same core number — nothing to decompose); the strong
# subgraph has genuine shell structure at every SF
_KCORE_PAIRS_SQL = """
      SELECT
        least(cn.n_name, sn.n_name) AS a,
        greatest(cn.n_name, sn.n_name) AS b,
        count(*) AS w
      FROM customer c
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
      GROUP BY least(cn.n_name, sn.n_name), greatest(cn.n_name, sn.n_name)
"""


def _kcore_edges_from(pairs_rel: str, d: str) -> str:
    """Strong-edge filter over an ALREADY-BUILT weighted pair relation
    (the Spark run materializes it once; the oracle marks it
    MATERIALIZED) — the fact join never runs twice."""
    from fiveg_spark.plans.registry import pct

    q = pct("w", KCORE_W_QUANTILE, d)
    return f"""
      SELECT a, b FROM {pairs_rel} w CROSS JOIN (
        SELECT round({q} + 1e-9, 4) + 0.0 AS med FROM {pairs_rel}
      ) m
      WHERE w.w >= m.med
    """


def _kcore_oracle() -> str:
    # chained fixed-iteration peel (the C34 PageRank precedent: a fixed
    # number of rounds run IDENTICALLY on both engines): s_{i+1} = nodes
    # of s_i whose degree within s_i is >= k.  Every CTE is MATERIALIZED
    # — each d_i references s_{i-1} TWICE, so DuckDB's default inlining
    # doubles the plan per round (measured: 2 minutes for 8 rounds on a
    # 25-node graph; materialized: milliseconds).
    ctes = [
        f"pairs AS MATERIALIZED ({_KCORE_PAIRS_SQL})",
        f"edges AS MATERIALIZED ({_kcore_edges_from('pairs', 'duckdb')})",
        "sym AS MATERIALIZED "
        "(SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges)",
        "s0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym)",
    ]
    for i in range(1, KCORE_ITERS + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
              SELECT s.a AS node, count(*) AS c
              FROM sym s
              JOIN s{i - 1} x ON s.a = x.node
              JOIN s{i - 1} y ON s.b = y.node
              GROUP BY s.a
            )"""
        )
        ctes.append(
            f"s{i} AS MATERIALIZED "
            f"(SELECT node FROM d{i} WHERE c >= {K_CORE})"
        )
    t = KCORE_ITERS
    joined = ",\n".join(ctes)
    return f"""
    WITH {joined},
    final_deg AS (
      SELECT s.a AS node, count(*) AS c
      FROM sym s
      JOIN s{t} x ON s.a = x.node
      JOIN s{t} y ON s.b = y.node
      GROUP BY s.a
    )
    SELECT node AS nation, CAST(c AS BIGINT) AS core_degree
    FROM final_deg
    ORDER BY nation
    """


def _kcore_run(spark, sf_dir):
    # C73 — k-core decomposition of the nation trade graph (Seidman
    # 1983; Batagelj-Zaversnik peel): iteratively remove nodes whose
    # degree within the survivors is < k — the densely-interconnected
    # trading bloc that simple degree thresholds overstate (a hub whose
    # neighbours all vanish vanishes too).  Spark runs the peel as a
    # driver loop over a CHECKPOINTED symmetric edge list (each round:
    # two semi-joins + one count agg, shuffle bounded by the edge list,
    # the C53/E15 iterative discipline); the oracle replays the same
    # fixed-round peel as chained CTEs.  At 100 TB-scale graphs the
    # loop's per-round cost is one edge-list pass — the standard
    # distributed k-core shape.
    from pyspark.sql import functions as F

    from fiveg_spark.plans.registry import ensure_views

    ensure_views(
        spark, ("customer", "nation", "orders", "lineitem", "supplier"), sf_dir
    )
    spark.sql(_KCORE_PAIRS_SQL).localCheckpoint().createOrReplaceTempView(
        "_kcore_pairs"
    )
    edges = spark.sql(_kcore_edges_from("_kcore_pairs", "spark"))
    sym = (
        edges.selectExpr("a", "b")
        .union(edges.selectExpr("b AS a", "a AS b"))
        .localCheckpoint()
    )
    nodes = sym.select(F.col("a").alias("node")).distinct().localCheckpoint()
    for _ in range(KCORE_ITERS):
        deg = (
            sym.join(nodes.withColumnRenamed("node", "a"), "a")
            .join(nodes.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.count("*").alias("c"))
        )
        nodes = (
            deg.filter(F.col("c") >= K_CORE)
            .select(F.col("a").alias("node"))
            .localCheckpoint()
        )
    final = (
        sym.join(nodes.withColumnRenamed("node", "a"), "a")
        .join(nodes.withColumnRenamed("node", "b"), "b")
        .groupBy("a")
        .agg(F.count("*").cast("long").alias("core_degree"))
        .select(F.col("a").alias("nation"), "core_degree")
        .orderBy("nation")
    )
    return final


def _triangle_count_sql(d: str) -> str:
    return f"""
    WITH edges_raw AS ({_TRIANGLE_EDGES_SQL}),
    tris AS ({_tris_sql("edges_raw")}),
    {_triangle_tail("edges_raw", "tris")}
    """


def _triangle_run(spark, sf_dir):
    """Spark side of the triangle split: the edge frame (5 references in
    the body) and the triangle frame (3 references) each materialize
    ONCE via localCheckpoint before the counting tail runs."""
    from fiveg_spark.plans.registry import ensure_views

    ensure_views(spark, ("customer", "nation", "orders", "lineitem", "supplier"), sf_dir)
    spark.sql(_TRIANGLE_EDGES_SQL).localCheckpoint().createOrReplaceTempView(
        "_tri_edges"
    )
    spark.sql(_tris_sql("_tri_edges")).localCheckpoint().createOrReplaceTempView(
        "_tri_tris"
    )
    return spark.sql(f"WITH {_triangle_tail('_tri_edges', '_tri_tris')}")


def _khop_sql(d: str) -> str:
    # C53 oracle — BFS shortest-hop distances from the
    # lexicographically-first nation over the directed trade graph.
    # CROSS-ALGORITHM check: Spark runs the iterative frontier loop in
    # `_khop_run` (cached edges, broadcast frontiers, anti-join on
    # seen), DuckDB answers with a genuinely RECURSIVE CTE + min(dist).
    # Agreement means the loop is a correct BFS, not just
    # self-consistent.
    edges = """
    edges AS (
      SELECT DISTINCT cn.n_name AS src, sn.n_name AS dst
      FROM customer c
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
    ),
    src0 AS (SELECT min(n_name) AS node FROM nation)"""
    # the text is fully portable: Spark 4 executes WITH RECURSIVE
    # natively (UnionLoop), DuckDB always has — so the same SQL serves
    # as the DuckDB oracle for the iterative loop (C53) AND as the
    # Spark-native recursive query (C59, `khop_recursive`).
    return f"""
    WITH RECURSIVE {edges},
    reach(node, dist) AS (
      SELECT node, 0 FROM src0
      UNION ALL
      SELECT e.dst, r.dist + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.dist < 4
    )
    SELECT node, CAST(min(dist) AS BIGINT) AS hops
    FROM reach
    GROUP BY node
    ORDER BY hops, node
    """


def _khop_run(spark, sf_dir):
    """Spark side of C53: edges computed ONCE and materialized, then ≤4
    frontier-expansion rounds — each a broadcast join of the (≤ nations)
    frontier against the cached edge set + an anti-join on seen nodes.
    The SQL-unroll alternative re-inlines the 5-table edge CTE at every
    level (Spark inlines WITH), quadrupling the heavy join; this loop
    is the idiomatic bounded-iteration BFS."""
    from pyspark.sql import functions as F

    from fiveg_spark.plans.registry import ensure_views

    ensure_views(spark, ("customer", "nation", "orders", "lineitem", "supplier"), sf_dir)
    edges = spark.sql(
        """
        SELECT DISTINCT cn.n_name AS src, sn.n_name AS dst
        FROM customer c
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
        """
    ).localCheckpoint()  # eager: materializes NOW, so every loop round
    # (and the final plan's multiple references) reads the stored edge
    # partitions instead of re-running the 5-table join; a lazy .cache()
    # + pre-action unpersist() pair would never populate (graph.py:38
    # uses the same pattern)
    # localCheckpoint: the BFS union chain references src once per level,
    # which would re-scan nation per reference (tiny, but the advisor's
    # repeated-scan rule rightly flags the shape)
    src = spark.sql("SELECT min(n_name) AS node FROM nation").localCheckpoint()
    seen = src.withColumn("hops", F.lit(0))
    frontier = seen
    for k in range(1, 5):
        frontier = (
            edges.join(F.broadcast(frontier), edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(F.broadcast(seen.select("node")), "node", "left_anti")
            .withColumn("hops", F.lit(k))
        )
        if not frontier.take(1):
            break
        seen = seen.unionByName(frontier)
    return seen.select("node", F.col("hops").cast("long").alias("hops")).orderBy(
        "hops", "node"
    )


_LP_ITERS = 3


def _lp_edges_sql() -> str:
    """Symmetric distinct nation trade edges (both directions — LP needs
    an undirected neighborhood), shared by both engines."""
    return """
    SELECT DISTINCT cn.n_name AS a, sn.n_name AS b
    FROM customer c
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_name <> sn.n_name
    UNION
    SELECT DISTINCT sn.n_name AS a, cn.n_name AS b
    FROM customer c
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_name <> sn.n_name
    """


def _lp_oracle() -> str:
    # C58 oracle — synchronous label propagation, UNROLLED per iteration
    # (DuckDB materializes CTEs, so the edge frame computes once).  Fully
    # deterministic: each node takes the MODE of its neighbors' labels
    # with lexicographic-min tie-break; fixed iteration count sidesteps
    # the oscillation classical async LP tolerates.
    steps = []
    prev = "init"
    for k in range(1, _LP_ITERS + 1):
        steps.append(f"""
    iter{k} AS (
      SELECT node, lbl FROM (
        SELECT e.a AS node, l.lbl,
               row_number() OVER (PARTITION BY e.a
                                  ORDER BY count(*) DESC, l.lbl) AS rn
        FROM edges e JOIN {prev} l ON e.b = l.node
        GROUP BY e.a, l.lbl
      ) x WHERE rn = 1
    )""")
        prev = f"iter{k}"
    steps_sql = ",".join(steps)
    return f"""
    WITH edges AS (
      {_lp_edges_sql()}
    ),
    init AS (
      SELECT DISTINCT a AS node, a AS lbl FROM edges
    ),{steps_sql}
    SELECT node, lbl AS community FROM {prev}
    """


def _lp_run(spark, sf_dir):
    """Spark side of C58: the khop pattern — edges computed ONCE and
    materialized, then {_LP_ITERS} synchronous mode-of-neighbors rounds (each
    one groupBy + one row_number window on a 25-node frame).  The SQL
    unroll would re-inline the 5-table edge CTE per round."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from fiveg_spark.plans.registry import ensure_views

    ensure_views(spark, ("customer", "nation", "orders", "lineitem", "supplier"), sf_dir)
    # eager localCheckpoint (not lazy cache): the loop only builds
    # lineage, so a cache would never populate before the caller's
    # single action, and the final plan references edges _LP_ITERS+1
    # times — each must read the materialized partitions, not re-run
    # the 5-table join
    edges = spark.sql(_lp_edges_sql()).localCheckpoint()
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    w = Window.partitionBy("a").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(_LP_ITERS):
        labels = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a", "lbl")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("a").alias("node"), "lbl")
        )
    return labels.select("node", F.col("lbl").alias("community")).orderBy("node")


CCF_MAX_LAG = 6  # hours each direction


def _ccf_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D35 — cross-correlation function between slice PAIRS at hourly
    # lags ±CCF_MAX_LAG: the lead-lag discovery companion to D13's ACF
    # ("does URLLC load lead eMBB by two hours?") — the diagnostic that
    # justifies including cross-slice lag features in the VAR design
    # (D5 currently lags each series against itself only).
    #
    # Correlation is corr_safe (native corr banned: ANSI div-by-zero on
    # constant eras); the lag join keys on exact integer-derived epoch
    # seconds (engine-identical doubles), so pairs align bit-exactly.
    # A rank window marks each pair's strongest |lag| on ROUNDED scores.
    #
    # Scale: the hourly SERIES frame materializes ONCE (the advisor
    # sweep measured the inlined form rescanning events 4× — pairs
    # reads it twice and the alignment twice more); the lag alignment
    # is |lags| self-joins of that checkpointed rollup keyed on (pair,
    # epoch) — never on facts.
    from fiveg_spark.plans.registry import corr_safe

    if d == "spark":
        lags = (
            f"SELECT explode(sequence({-CCF_MAX_LAG}, {CCF_MAX_LAG})) AS lag"
        )
    else:
        lags = (
            f"SELECT unnest(generate_series({-CCF_MAX_LAG}, {CCF_MAX_LAG}))"
            " AS lag"
        )
    series_sql = f"""
      {_hourly_cte(d)}
      SELECT slice, {epoch("h", d)} AS t, throughput_bps AS v FROM hourly
    """
    tail = f"""
    WITH pairs AS (
      SELECT a.slice AS sa, b.slice AS sb
      FROM (SELECT DISTINCT slice FROM _mz_ccf_series) a
      JOIN (SELECT DISTINCT slice FROM _mz_ccf_series) b
        ON a.slice < b.slice
    ),
    aligned AS (
      SELECT
        p.sa, p.sb, lg.lag,
        x.v AS va, y.v AS vb
      FROM pairs p
      CROSS JOIN ({lags}) lg
      JOIN _mz_ccf_series x ON x.slice = p.sa
      JOIN _mz_ccf_series y
        ON y.slice = p.sb AND y.t = x.t + lg.lag * 3600.0
    ),
    scored AS (
      SELECT
        sa, sb, lag,
        count(*) AS n,
        round({corr_safe("va", "vb")} + {NUDGE}, 4) + 0.0 AS ccf
      FROM aligned
      GROUP BY sa, sb, lag
    )
    SELECT
      sa AS slice_a,
      sb AS slice_b,
      {cnt("lag", "lag_hours")},
      {cnt("n", "n_aligned")},
      CAST(ccf AS DOUBLE) AS ccf,
      {cnt(
          "row_number() OVER (PARTITION BY sa, sb "
          "ORDER BY abs(ccf) DESC, lag)",
          "strength_rank",
      )}
    FROM scored
    ORDER BY slice_a, slice_b, lag_hours
    """
    return [("_mz_ccf_series", series_sql)], tail


SPECTRAL_PERIODS = (6, 12, 24, 48)  # candidate cycles, hours


def _spectral_proj_ctes(d: str, with_ss: bool = False) -> str:
    """The indexed + Goertzel-projection CTE pair SHARED by D32
    (dominant period) and D41 (spectral entropy): one spectrum
    definition, so a change to the candidate periods, centering, or
    projection moves both certified rows together instead of
    desynchronizing two near-verbatim copies (r7 self-review).
    ``with_ss`` adds the centered sum of squares D32's R² needs."""
    if d == "spark":
        periods = "SELECT explode(array{}) AS period".format(SPECTRAL_PERIODS)
    else:
        periods = "SELECT unnest([{}]) AS period".format(
            ", ".join(str(p) for p in SPECTRAL_PERIODS)
        )
    ss_col = (
        ",\n        sum((i.v - i.vbar) * (i.v - i.vbar)) AS ss"
        if with_ss
        else ""
    )
    return f"""indexed AS (
      SELECT
        slice,
        throughput_bps AS v,
        CAST(row_number() OVER (PARTITION BY slice ORDER BY h) - 1 AS DOUBLE) AS t,
        avg(throughput_bps) OVER (PARTITION BY slice) AS vbar,
        count(*) OVER (PARTITION BY slice) AS n
      FROM hourly
    ),
    proj AS (
      SELECT
        i.slice,
        p.period,
        sum((i.v - i.vbar) * cos(2.0 * pi() * i.t / p.period)) AS a,
        sum((i.v - i.vbar) * sin(2.0 * pi() * i.t / p.period)) AS b,
        max(i.n) AS n{ss_col}
      FROM indexed i CROSS JOIN ({periods}) p
      GROUP BY i.slice, p.period
    )"""


def _dominant_period_sql(d: str) -> str:
    # D32 — dominant-period detection via single-frequency DFT power
    # (the Goertzel projection a seasonality-aware forecaster runs
    # BEFORE committing to Holt-Winters' period=24 assumption): for each
    # candidate period P, project the mean-centered hourly series onto
    # cos/sin at frequency 1/P and report the explained-variance share
    #   R²(P) = (2/n)·(a² + b²) / Σ(v−v̄)²,
    # exact when n is a whole number of cycles, a tight diagnostic
    # otherwise.  All candidates emit (with a rank window), so the
    # contract certifies the whole spectrum slice, not just the argmax.
    #
    # Determinism: cos/sin may differ in the last ulp across libm
    # implementations and Spark's partition-order float sums are
    # non-associative — both effects are ~1e-8 relative against a
    # 4-decimal rounded R², and the rank orders by the ROUNDED score
    # with the period as tiebreak.
    #
    # Scale: one scan; vbar/n ride as window aggregates on the indexed
    # frame so nothing is referenced twice; the projection is one
    # grouped agg over |series|×|periods| rows, keyed by slice.
    return f"""
    {_hourly_cte(d)},
    {_spectral_proj_ctes(d, with_ss=True)},
    scored AS (
      SELECT
        slice,
        period,
        n,
        round(CASE WHEN ss > 0
                   THEN (2.0 / n) * (a * a + b * b) / ss
                   ELSE 0.0 END + 1e-9, 4) + 0.0 AS r2
      FROM proj
    )
    SELECT
      slice,
      {cnt("period", "period_hours")},
      {cnt("n", "n_hours")},
      CAST(r2 AS DOUBLE) AS power_share,
      {cnt("row_number() OVER (PARTITION BY slice ORDER BY r2 DESC, period)",
           "rank")}
    FROM scored
    ORDER BY slice, rank
    """


def _spectral_entropy_sql(d: str) -> str:
    # D41 — normalized spectral entropy over the D32 candidate-period
    # power spectrum (Inouye 1991; the 'forecastability' feature in
    # tsfeatures/catch22): H = −Σ p·ln p / ln K over the normalized
    # power shares at the SPECTRAL_PERIODS projections.  H → 0 means
    # one period owns the variance (seasonal, forecastable); H → 1
    # means the spectrum is flat (noise-like) — the one-number summary
    # a model-selection sweep reads before paying for Holt-Winters.
    # Shares normalize over the ROUNDED per-period powers (identical
    # 4-dp inputs both engines → identical ratios; ln ulps die in the
    # final rounding).  Zero total power (constant series) reports
    # H = 0 with zero top share.
    #
    # Scale: same physique as D32 — one scan, |series|×|periods|
    # grouped projection, entropy over K=4 rows per slice.
    k = len(SPECTRAL_PERIODS)
    return f"""
    {_hourly_cte(d)},
    {_spectral_proj_ctes(d)},
    powered AS (
      SELECT
        slice,
        period,
        n,
        round((a * a + b * b) / n + {NUDGE}, 4) + 0.0 AS pw
      FROM proj
    ),
    tot AS (
      SELECT slice, max(n) AS n, sum(pw) AS pw_total, max(pw) AS pw_max
      FROM powered GROUP BY slice
    ),
    shares AS (
      SELECT
        p.slice,
        max(t.n) AS n,
        max(t.pw_total) AS pw_total,
        max(t.pw_max) AS pw_max,
        sum(CASE WHEN p.pw > 0 AND t.pw_total > 0
                 THEN -(p.pw / t.pw_total) * ln(p.pw / t.pw_total)
                 ELSE 0.0 END) AS h_raw
      FROM powered p JOIN tot t ON t.slice = p.slice
      GROUP BY p.slice
    )
    SELECT
      slice,
      {cnt("n", "n_hours")},
      {dbl(f"CASE WHEN pw_total > 0 THEN h_raw / ln({k}.0) ELSE 0.0 END",
           "spectral_entropy")},
      {dbl("CASE WHEN pw_total > 0 THEN pw_max / pw_total ELSE 0.0 END",
           "top_period_share")}
    FROM shares
    ORDER BY slice
    """


def _seasonal_strength_sql(d: str) -> str:
    # D42 — seasonal strength per slice (Hyndman's tsfeatures measure,
    # FPP3 §4.3, on the B11 classical additive decomposition):
    # F_s = max(0, 1 − Var(residual)/Var(value)) — the share of
    # variance the hour-of-day profile explains, with the profile's
    # peak-to-trough amplitude alongside.  This is the scalar deciding
    # whether the D21→D22 Holt → Holt-Winters upgrade pays: F_s near 0
    # says the period-24 seasonal state is dead weight.
    #
    # Parity: seasonal means round before residuals form (B11's
    # discipline), variances come from explicit Σ/Σ² over identical
    # rounded inputs, and the max(0, ·) clamp works on the rounded
    # ratio so both engines clamp the same double.
    #
    # Scale: one scan → hourly rollup; the hour-of-day window and the
    # per-slice agg both run on the tiny series frame.
    return f"""
    {_hourly_cte(d)},
    seasonal AS (
      SELECT
        slice,
        throughput_bps AS v,
        round(avg(throughput_bps) OVER (PARTITION BY slice, hour(h)) + {NUDGE}, 4)
          + 0.0 AS seas
      FROM hourly
    ),
    resid AS (
      SELECT slice, v, seas, round(v - seas, 4) AS r FROM seasonal
    )
    SELECT
      slice,
      {cnt("count(*)", "n_hours")},
      {dbl("avg(v * v) - avg(v) * avg(v)", "var_total")},
      {dbl("avg(r * r) - avg(r) * avg(r)", "var_resid")},
      {dbl(
          "greatest(0.0, CASE WHEN avg(v * v) - avg(v) * avg(v) > 0"
          " THEN round(1.0 - (avg(r * r) - avg(r) * avg(r))"
          " / (avg(v * v) - avg(v) * avg(v)) + {NUDGE}, 4)"
          " ELSE 0.0 END)".format(NUDGE=NUDGE),
          "seasonal_strength",
      )},
      {dbl("max(seas) - min(seas)", "seasonal_amplitude")}
    FROM resid
    GROUP BY slice
    ORDER BY slice
    """


HURST_SIZES = (8, 16, 32)  # dyadic R/S block sizes, hours


def _hurst_sql(d: str) -> str:
    # D43 — Hurst exponent per slice via rescaled-range (R/S) analysis
    # (Hurst 1951; Mandelbrot & Wallis 1969): at block sizes
    # {HURST_SIZES}, R/S = (max−min of within-block cumulative
    # deviations) / block σ, and H is the log-log OLS slope of the
    # mean R/S against block size.  H ≈ 0.5 is memoryless, H > 0.5
    # long-range persistent (bursty networks classically ≈ 0.7-0.9 —
    # the self-similar-traffic literature, Leland et al. 1994), H < 0.5
    # anti-persistent/mean-reverting.  The long-memory companion to
    # D38's short-range memory coefficient.
    #
    # Parity: block stats from explicit Σ/Σ² over pre-rounded hourly
    # values; cumulative deviations evaluate in identical frame order;
    # mean R/S rounds BEFORE ln so both engines regress identical
    # points; complete blocks only (a ragged tail block would make the
    # estimate depend on series length mod size).
    #
    # Scale: one scan → hourly rollup; the |sizes|× expansion and all
    # windows run on the tiny per-slice series.
    if d == "spark":
        sizes = "SELECT explode(array{}) AS sz".format(HURST_SIZES)
    else:
        sizes = "SELECT unnest([{}]) AS sz".format(
            ", ".join(str(s) for s in HURST_SIZES)
        )
    return f"""
    {_hourly_cte(d)},
    indexed AS (
      SELECT
        slice,
        throughput_bps AS v,
        row_number() OVER (PARTITION BY slice ORDER BY h) - 1 AS rn
      FROM hourly
    ),
    blocked AS (
      SELECT
        i.slice,
        s.sz,
        CAST(floor(i.rn / s.sz) AS BIGINT) AS blk,
        i.rn,
        i.v,
        count(*) OVER (PARTITION BY i.slice, s.sz, CAST(floor(i.rn / s.sz) AS BIGINT)) AS blk_n,
        avg(i.v) OVER (PARTITION BY i.slice, s.sz, CAST(floor(i.rn / s.sz) AS BIGINT)) AS blk_mean
      FROM indexed i CROSS JOIN ({sizes}) s
    ),
    complete AS (
      SELECT * FROM blocked WHERE blk_n = sz
    ),
    walked AS (
      SELECT
        slice,
        sz,
        blk,
        v,
        blk_mean,
        sum(v - blk_mean) OVER (
          PARTITION BY slice, sz, blk ORDER BY rn
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS cum_dev
      FROM complete
    ),
    block_rs AS (
      SELECT
        slice,
        sz,
        blk,
        max(cum_dev) - min(cum_dev) AS r_range,
        sqrt(avg(v * v) - avg(v) * avg(v)) AS s_dev
      FROM walked
      GROUP BY slice, sz, blk
    ),
    size_rs AS (
      SELECT
        slice,
        sz,
        count(*) AS n_blocks,
        round(avg(CASE WHEN s_dev > 0 THEN r_range / s_dev END) + {NUDGE}, 4)
          + 0.0 AS avg_rs
      FROM block_rs
      GROUP BY slice, sz
    ),
    fit AS (
      SELECT
        slice,
        count(*) AS n_pts,
        sum(ln(CAST(sz AS DOUBLE))) AS sx,
        sum(ln(avg_rs)) AS sy,
        sum(ln(CAST(sz AS DOUBLE)) * ln(CAST(sz AS DOUBLE))) AS sxx,
        sum(ln(CAST(sz AS DOUBLE)) * ln(avg_rs)) AS sxy
      FROM size_rs
      WHERE avg_rs > 0
      GROUP BY slice
    )
    SELECT
      sr.slice,
      {cnt("sr.sz", "block_size")},
      {cnt("sr.n_blocks", "n_blocks")},
      CAST(sr.avg_rs AS DOUBLE) AS avg_rs,
      {dbl(
          "CASE WHEN f.n_pts >= 2"
          " AND f.n_pts * f.sxx - f.sx * f.sx > 1e-12"
          " THEN (f.n_pts * f.sxy - f.sx * f.sy)"
          " / (f.n_pts * f.sxx - f.sx * f.sx)"
          " ELSE 0.5 END",
          "hurst",
      )}
    FROM size_rs sr JOIN fit f ON f.slice = sr.slice
    ORDER BY sr.slice, block_size
    """


HC_MAX_HOPS = 3  # truncated-horizon harmonic centrality (dense graph)

_HC_EDGES_SQL = """
        SELECT DISTINCT cn.n_name AS src, sn.n_name AS dst
        FROM customer c
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
"""


def _harmonic_run(spark, sf_dir):
    """C78 — harmonic centrality of every nation in the directed trade
    graph (Marchiori & Latora 2000; Boldi & Vigna 2014 argue it over
    closeness for disconnected graphs): HC(u) = Σ_{v≠u} 1/d(u,v) with
    1/∞ = 0, normalized by N−1.  Generalizes C53's single-source BFS to
    ALL sources by carrying (root, node) state through the same bounded
    frontier loop: per round one equi-join of the deduped pair frontier
    against the once-materialized edge set + an anti-join on seen pairs
    — at most HC_MAX_HOPS rounds (the trade graph's diameter is 1-2; a
    truncated horizon is the standard large-graph variant since exact
    all-pairs BFS is the textbook non-scalable shape).  State is
    |nations|² pairs max — broadcast-small at every round even on a
    100 TB fact table, because the edge frame collapses to ≤|nations|²
    rows before any iteration begins.

    Oracle: a genuinely RECURSIVE CTE over the same edge set with
    UNION-distinct level dedup — cross-ALGORITHM agreement like C53."""
    from pyspark.sql import functions as F

    from fiveg_spark.plans.registry import ensure_views

    ensure_views(spark, ("customer", "nation", "orders", "lineitem", "supplier"), sf_dir)
    edges = spark.sql(_HC_EDGES_SQL).localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
        .localCheckpoint()
    )
    n_total = nodes.count()
    seen = nodes.select(
        F.col("node").alias("root"), F.col("node"), F.lit(0).alias("dist")
    ).localCheckpoint()
    frontier = seen
    for k in range(1, HC_MAX_HOPS + 1):
        frontier = (
            frontier.join(edges, frontier.node == edges.src)
            .select("root", F.col("dst").alias("node"))
            .distinct()
            .join(seen.select("root", "node"), ["root", "node"], "left_anti")
            .withColumn("dist", F.lit(k))
            .localCheckpoint()
        )
        if not frontier.take(1):
            break
        seen = seen.unionByName(frontier).localCheckpoint()
    return (
        seen.filter(F.col("dist") > 0)
        .groupBy("root")
        .agg(
            F.count("*").cast("long").alias("n_reachable"),
            F.round(F.sum(1.0 / F.col("dist")) + 1e-9, 4).alias("harmonic_sum"),
            F.round(F.sum(1.0 / F.col("dist")) / (n_total - 1) + 1e-9, 4).alias(
                "harmonic_centrality"
            ),
        )
        .select(
            F.col("root").alias("nation"),
            "n_reachable",
            (F.col("harmonic_sum") + 0.0).alias("harmonic_sum"),
            (F.col("harmonic_centrality") + 0.0).alias("harmonic_centrality"),
        )
        .orderBy("nation")
    )


def _harmonic_oracle() -> str:
    return f"""
    WITH RECURSIVE edges AS ({_HC_EDGES_SQL}),
    nodes AS (
      -- explicit DISTINCT: inside a WITH RECURSIVE chain DuckDB runs
      -- this CTE's bare UNION through the recursive-union operator,
      -- which does NOT collapse the two branches (measured 480 rows
      -- from 25 nations; same family as the AS MATERIALIZED landmine)
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges
      ) u
    ),
    reach(root, node, dist) AS (
      SELECT node, node, 0 FROM nodes
      UNION
      SELECT r.root, e.dst, r.dist + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.dist < {HC_MAX_HOPS}
    ),
    dmin AS (
      SELECT root, node, min(dist) AS dd
      FROM reach GROUP BY root, node HAVING min(dist) > 0
    ),
    n_tot AS (SELECT count(*) AS n FROM nodes)
    SELECT
      dm.root AS nation,
      CAST(count(*) AS BIGINT) AS n_reachable,
      round(sum(1.0 / dm.dd) + 1e-9, 4) + 0.0 AS harmonic_sum,
      round(sum(1.0 / dm.dd) / (max(nt.n) - 1) + 1e-9, 4) + 0.0
        AS harmonic_centrality
    FROM dmin dm CROSS JOIN n_tot nt
    GROUP BY dm.root
    ORDER BY nation
    """


def _reciprocity_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C83 — per-nation degree + reciprocity of the directed trade graph
    # (Garlaschelli & Loffredo 2004: reciprocity separates mutual-trade
    # partnerships from one-way supply flows — the directional question
    # C34's PageRank and C78's harmonic centrality both average away):
    # out/in degree, the count of out-edges whose REVERSE edge exists,
    # and the per-node reciprocity share, plus the graph-level share on
    # every row for context.
    #
    # materialized_backed: the 5-table edge derivation is referenced
    # three times (self-join + both degree sides) — inlined, Spark
    # would run the heavy join thrice; materialized it runs ONCE and
    # the reciprocity self-join is |edges|² bucket-local on ≤|nations|²
    # rows.  Integer-ratio math only.
    tail = f"""
    WITH recips AS (
      SELECT
        a.src,
        a.dst,
        CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END AS recip
      FROM _mz_recip_edges a
      LEFT JOIN _mz_recip_edges b ON b.src = a.dst AND b.dst = a.src
    ),
    outd AS (
      SELECT src AS nation, count(*) AS out_degree, sum(recip) AS n_recip
      FROM recips GROUP BY src
    ),
    ind AS (
      SELECT dst AS nation, count(*) AS in_degree
      FROM _mz_recip_edges GROUP BY dst
    ),
    overall AS (
      SELECT sum(recip) / CAST(count(*) AS DOUBLE) AS graph_reciprocity
      FROM recips
    )
    SELECT
      coalesce(o.nation, i.nation) AS nation,
      {cnt("coalesce(o.out_degree, 0)", "out_degree")},
      {cnt("coalesce(i.in_degree, 0)", "in_degree")},
      {cnt("coalesce(o.n_recip, 0)", "n_reciprocal")},
      {dbl(
          "CASE WHEN coalesce(o.out_degree, 0) > 0"
          " THEN o.n_recip / CAST(o.out_degree AS DOUBLE) ELSE 0.0 END",
          "reciprocity",
      )},
      {dbl("ov.graph_reciprocity", "graph_reciprocity")}
    FROM outd o
    FULL OUTER JOIN ind i ON i.nation = o.nation
    CROSS JOIN overall ov
    ORDER BY nation
    """
    return [("_mz_recip_edges", _HC_EDGES_SQL)], tail


def _assortativity_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C85 — directed degree assortativity of the trade graph (Newman
    # 2003 "Mixing patterns in networks": the four (out/in)×(out/in)
    # degree correlations over edges).  Positive out-in assortativity =
    # big exporters sell to big importers (hub-to-hub concentration,
    # a skew-risk signal for the C57 diagnostic); negative = hub-spoke.
    # Complements C83's reciprocity (same edge frame, orthogonal
    # question: WHO you trade with vs whether they trade back).
    #
    # materialized_backed: the edge set is referenced by both degree
    # aggs and the edge-level join — materialized once, everything
    # downstream is ≤|nations|² rows.  Correlations are corr_safe
    # (native corr is ANSI-fragile and banned); the excess-degree
    # convention (degree minus the edge itself) is folded in by using
    # the raw degree on BOTH ends — the shift cancels in Pearson r.
    from fiveg_spark.plans.registry import corr_safe

    tail = f"""
    WITH outd AS (
      SELECT src AS nation, count(*) AS od FROM _mz_da_edges GROUP BY src
    ),
    ind AS (
      SELECT dst AS nation, count(*) AS idg FROM _mz_da_edges GROUP BY dst
    ),
    decorated AS (
      SELECT
        CAST(coalesce(so.od, 0) AS DOUBLE) AS src_out,
        CAST(coalesce(si.idg, 0) AS DOUBLE) AS src_in,
        CAST(coalesce(do_.od, 0) AS DOUBLE) AS dst_out,
        CAST(coalesce(di.idg, 0) AS DOUBLE) AS dst_in
      FROM _mz_da_edges e
      LEFT JOIN outd so ON so.nation = e.src
      LEFT JOIN ind si ON si.nation = e.src
      LEFT JOIN outd do_ ON do_.nation = e.dst
      LEFT JOIN ind di ON di.nation = e.dst
    )
    SELECT
      {cnt("count(*)", "n_edges")},
      {dbl(corr_safe("src_out", "dst_in"), "r_out_in")},
      {dbl(corr_safe("src_out", "dst_out"), "r_out_out")},
      {dbl(corr_safe("src_in", "dst_in"), "r_in_in")},
      {dbl(corr_safe("src_in", "dst_out"), "r_in_out")}
    FROM decorated
    """
    return [("_mz_da_edges", _HC_EDGES_SQL)], tail


def _anomaly_consensus_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D46 — detector-ensemble anomaly consensus per (slice, hour): the
    # three certified single-detector views (C30 z-score, C36 MAD, B11
    # seasonal-residual z) VOTE, and only hours with ≥ 1 vote emit —
    # consensus ≥ 2 is the page, a single vote is the FYI.  Ensemble
    # voting is the standard production answer to each detector's
    # blind spot (z misses under heavy tails where MAD fires; a diurnal
    # spike is normal to the seasonal detector but anomalous to both
    # globals).
    #
    # Parity: every statistic rounds before its threshold compare (the
    # B11 flag discipline), medians interpolate via the pct helper,
    # zero-spread guards (sd/MAD/resid-sd = 0) suppress that detector's
    # vote.  One scan → hourly rollup; all three detectors are windows
    # or grouped stats on the same tiny per-slice frame.
    #
    # materialized_backed: the residual frame feeds FOUR downstream
    # relations (median, MAD, global stats, and the vote join) —
    # inlined, Spark re-ran the events scan + hourly rollup 5×.  The
    # residual frame (and the per-slice median it shares with the MAD
    # and the vote) now materialize once.
    z = "(v - mean_v) / nullif(sd_v, 0.0)"
    mz = "0.6745 * (v - med_v) / nullif(mad_v, 0.0)"
    rz = "(r - mean_r) / nullif(sd_r, 0.0)"
    resid_sql = f"""
    {_hourly_cte(d)},
    seasonal AS (
      SELECT
        slice,
        h,
        throughput_bps AS v,
        round(avg(throughput_bps) OVER (PARTITION BY slice, hour(h)) + {NUDGE}, 4)
          + 0.0 AS seas
      FROM hourly
    )
    SELECT slice, h, v, round(v - seas, 4) AS r FROM seasonal
    """
    med_sql = f"""
    SELECT slice, round({pct("v", 0.5, d)} + {NUDGE}, 4) + 0.0 AS med_v
    FROM _mz_ac_resid GROUP BY slice
    """
    tail = f"""
    WITH mad AS (
      SELECT r.slice,
             round({pct("abs(r.v - m.med_v)", 0.5, d)} + {NUDGE}, 4) + 0.0 AS mad_v
      FROM _mz_ac_resid r JOIN _mz_ac_med m ON m.slice = r.slice
      GROUP BY r.slice
    ),
    stats AS (
      SELECT slice,
             avg(v) AS mean_v,
             sqrt(avg(v * v) - avg(v) * avg(v)) AS sd_v,
             avg(r) AS mean_r,
             sqrt(avg(r * r) - avg(r) * avg(r)) AS sd_r
      FROM _mz_ac_resid GROUP BY slice
    ),
    voted AS (
      SELECT
        re.slice,
        re.h,
        re.v,
        CASE WHEN st.sd_v > 0
             AND abs(round({z} + {NUDGE}, 4)) > 3.0 THEN 1 ELSE 0 END AS vote_z,
        CASE WHEN md.mad_v > 0
             AND abs(round({mz} + {NUDGE}, 4)) > 3.5 THEN 1 ELSE 0 END AS vote_mad,
        CASE WHEN st.sd_r > 0
             AND abs(round({rz} + {NUDGE}, 4)) > 3.0 THEN 1 ELSE 0 END AS vote_seasonal
      FROM _mz_ac_resid re
      JOIN stats st ON st.slice = re.slice
      JOIN _mz_ac_med me ON me.slice = re.slice
      JOIN mad md ON md.slice = re.slice
    )
    SELECT
      slice,
      h AS window_start,
      CAST(v AS DOUBLE) AS throughput_bps,
      CAST(vote_z AS INT) AS vote_z,
      CAST(vote_mad AS INT) AS vote_mad,
      CAST(vote_seasonal AS INT) AS vote_seasonal,
      CAST(vote_z + vote_mad + vote_seasonal AS INT) AS votes,
      CAST(vote_z + vote_mad + vote_seasonal >= 2 AS BOOLEAN) AS consensus
    FROM voted
    WHERE vote_z + vote_mad + vote_seasonal >= 1
    ORDER BY slice, window_start
    """
    return [("_mz_ac_resid", resid_sql), ("_mz_ac_med", med_sql)], tail


def _edge_jaccard_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C98 — neighborhood-overlap LINK PREDICTION screen on the
    # undirected trade graph: for every nation pair with ≥1 common
    # neighbor, the neighbor-set Jaccard and the Adamic-Adar score
    # (Σ 1/ln deg(w) over common neighbors w — rare intermediaries
    # weigh more).  The edge-level structural-similarity companion to
    # C58's communities: two nations with high overlap but NO direct
    # edge are the predicted next trade link.  Shares C58's symmetric
    # edge derivation (_lp_edges_sql) — one edge convention across the
    # graph family.
    #
    # Scale: the 5-table edge build materializes once; pair counts
    # come from exploding each hub's neighbor list (posting-list shape,
    # bounded by degree ≤ |nations|) — never an edge-frame self-join;
    # Adamic-Adar rides the same explode (deg(hub) = posting size).
    edges_sql = _lp_edges_sql()
    if d == "spark":
        inter = """
      SELECT p.sa AS sa, p.sb AS sb,
             count(*) AS n_common,
             sum(1.0 / ln(CAST(deg_w AS DOUBLE))) AS adamic_adar
      FROM (
        SELECT sort_array(collect_set(a)) AS nbrs, count(DISTINCT a) AS deg_w
        FROM _mz_ej_edges
        GROUP BY b
        HAVING count(DISTINCT a) > 1
      ) posting
      LATERAL VIEW explode(flatten(transform(nbrs, (x, i) ->
        transform(slice(nbrs, i + 2, size(nbrs)), y ->
          named_struct('sa', x, 'sb', y))))) t AS p
      GROUP BY p.sa, p.sb
        """
    else:
        inter = """
      SELECT x.a AS sa, y.a AS sb,
             count(*) AS n_common,
             sum(1.0 / ln(CAST(g.deg_w AS DOUBLE))) AS adamic_adar
      FROM _mz_ej_edges x
      JOIN _mz_ej_edges y ON y.b = x.b AND x.a < y.a
      JOIN (SELECT b, count(DISTINCT a) AS deg_w
            FROM _mz_ej_edges GROUP BY b) g ON g.b = x.b
      GROUP BY x.a, y.a
        """
    tail = f"""
    WITH deg AS (
      SELECT a AS node, count(*) AS degree FROM _mz_ej_edges GROUP BY a
    ),
    inter AS ({inter}),
    direct AS (
      SELECT a, b FROM _mz_ej_edges
    )
    SELECT
      i.sa AS nation_a,
      i.sb AS nation_b,
      {cnt("da.degree", "degree_a")},
      {cnt("db.degree", "degree_b")},
      {cnt("i.n_common", "n_common_neighbors")},
      {dbl("i.n_common / CAST(da.degree + db.degree - i.n_common AS DOUBLE)",
           "neighbor_jaccard")},
      {dbl("i.adamic_adar", "adamic_adar")},
      (dd.a IS NOT NULL) AS edge_exists
    FROM inter i
    JOIN deg da ON da.node = i.sa
    JOIN deg db ON db.node = i.sb
    LEFT JOIN direct dd ON dd.a = i.sa AND dd.b = i.sb
    ORDER BY i.sa, i.sb
    """
    return [("_mz_ej_edges", edges_sql)], tail


def _graph_density_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C99 — regional subgraph density of the directed trade graph:
    # per region, the within-region node/edge counts, density
    # edges/(n·(n−1)), and the share of each region's total out-trade
    # that stays INSIDE the region (trade introversion) — the
    # meso-scale readout between C83's per-node degrees and C73's
    # global k-core.  Shares the C78 directed edge derivation
    # (_HC_EDGES_SQL text, both engines).
    #
    # materialized_backed (r8 advisor catch): the region-tagged edge
    # frame feeds both the within and outbound rollups — inlined,
    # Spark re-ran the 5-table edge join per reference; materialized,
    # the heavy join runs ONCE and the rollups read ≤|edges| rows.
    # The nation→region map is a broadcast-sized dim join.
    tagged_sql = f"""
      WITH edges AS ({_HC_EDGES_SQL}),
      nr AS (
        SELECT n.n_name AS nation, r.r_name AS region
        FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
      )
      SELECT
        sr.region AS src_region,
        dr.region AS dst_region
      FROM edges e
      JOIN nr sr ON sr.nation = e.src
      JOIN nr dr ON dr.nation = e.dst
    """
    tail = f"""
    WITH nodes AS (
      SELECT r.r_name AS region, count(*) AS n_nations
      FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name
    ),
    within AS (
      SELECT src_region AS region, count(*) AS n_within
      FROM _mz_gd_tagged WHERE src_region = dst_region GROUP BY src_region
    ),
    outbound AS (
      SELECT src_region AS region, count(*) AS n_out_total
      FROM _mz_gd_tagged GROUP BY src_region
    )
    SELECT
      n.region,
      {cnt("n.n_nations", "n_nations")},
      {cnt("coalesce(w.n_within, 0)", "n_within_edges")},
      {cnt("coalesce(o.n_out_total, 0)", "n_total_out_edges")},
      {dbl(
          "CASE WHEN n.n_nations > 1 THEN coalesce(w.n_within, 0)"
          " / (CAST(n.n_nations AS DOUBLE) * (n.n_nations - 1.0))"
          " ELSE 0.0 END",
          "density",
      )},
      {dbl(
          "coalesce(w.n_within, 0)"
          " / CAST(nullif(coalesce(o.n_out_total, 0), 0) AS DOUBLE)",
          "introversion",
      )}
    FROM nodes n
    LEFT JOIN within w ON w.region = n.region
    LEFT JOIN outbound o ON o.region = n.region
    ORDER BY n.region
    """
    return [("_mz_gd_tagged", tagged_sql)], tail


def _transfer_entropy_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D54 — pairwise TRANSFER ENTROPY between slice throughput series
    # (Schreiber 2000): the directed-information sibling of D53's
    # Granger screen and D35's symmetric CCF.  Granger detects LINEAR
    # lagged influence; TE is model-free — it reads any predictive
    # coupling, including the nonlinear kind a VAR design (ref
    # train.py's multivariate framing) would miss.  Series are
    # binarized at the per-slice median (above/below load state) and
    #   TE(X→Y) = Σ p(y⁺,y,x)·log₂[ p(y⁺|y,x) / p(y⁺|y) ]
    # over consecutive-hour triples (y⁺ at t+1h, y and x at t).  Rows
    # per ORDERED pair: triple count, te_bits, the conditional entropy
    # H(Y⁺|Y) (TE's ceiling), and te_share = TE/H (0 on deterministic
    # or constant targets — the dbl convention).
    #
    # Engine parity: counts are exact integers; each pair sums ≤ 8
    # log terms of exact-integer ratios (sum-order drift far below the
    # 4-decimal rounding).  H(Y⁺|Y) rides the SAME per-(x,y,y⁺) cell
    # frame via c3/c_ypy reweighting — Σ (c3/n)·log(c_ypy/c_y) ≡
    # Σ_{y,y⁺} (c_ypy/n)·log(c_ypy/c_y) — so no second aggregation
    # granularity is needed.
    #
    # Scale: the hourly series materializes ONCE (the D35 discipline);
    # binarization joins the |slices|-row median frame back; triples
    # are |slices|²·|hours| rows via epoch-equi joins of the tiny
    # materialized series; every entropy stage is ≤ 8·|slices|² rows.
    series_sql = f"""
      {_hourly_cte(d)},
      ser AS (
        SELECT slice, {epoch("h", d)} AS t, throughput_bps AS v FROM hourly
      ),
      med AS (
        SELECT slice, {pct("v", 0.5, d)} AS med FROM ser GROUP BY slice
      )
      SELECT s.slice, s.t,
        CASE WHEN s.v > m.med THEN 1 ELSE 0 END AS b
      FROM ser s JOIN med m ON m.slice = s.slice
    """
    log2 = "ln(2.0)"
    tail = f"""
    WITH triples AS (
      SELECT
        x.slice AS src, y.slice AS dst,
        x.b AS xb, y.b AS yb, yp.b AS ypb
      FROM _mz_te_series x
      JOIN _mz_te_series y  ON y.t = x.t AND y.slice <> x.slice
      JOIN _mz_te_series yp ON yp.slice = y.slice AND yp.t = x.t + 3600.0
    ),
    c3 AS (
      SELECT src, dst, xb, yb, ypb, count(*) AS c
      FROM triples
      GROUP BY src, dst, xb, yb, ypb
    ),
    marg AS (
      SELECT
        src, dst, c,
        sum(c) OVER (PARTITION BY src, dst) AS n,
        sum(c) OVER (PARTITION BY src, dst, xb, yb) AS c_yx,
        sum(c) OVER (PARTITION BY src, dst, yb, ypb) AS c_ypy,
        sum(c) OVER (PARTITION BY src, dst, yb) AS c_y
      FROM c3
    ),
    scored AS (
      SELECT
        src, dst,
        sum(c) AS n_triples,
        sum((c / CAST(n AS DOUBLE))
            * ln((c * c_y) / (CAST(c_yx AS DOUBLE) * c_ypy)) / {log2})
          AS te_bits,
        -sum((c / CAST(n AS DOUBLE))
             * ln(c_ypy / CAST(c_y AS DOUBLE)) / {log2})
          AS h_cond_bits
      FROM marg
      GROUP BY src, dst
    )
    SELECT
      src AS slice_src,
      dst AS slice_dst,
      {cnt("n_triples", "n_triples")},
      {dbl("te_bits", "te_bits")},
      {dbl("h_cond_bits", "h_cond_bits")},
      {dbl(
          "CASE WHEN h_cond_bits > 1e-12 THEN te_bits / h_cond_bits END",
          "te_share",
      )}
    FROM scored
    ORDER BY src, dst
    """
    return [("_mz_te_series", series_sql)], tail


VT_SCALES = (1, 2, 4, 8)  # block sizes in hours


def _variance_time_sql(d: str) -> str:
    # D66 — variance-time curve per slice (the aggregated-variance
    # plot, Beran 1994 ch. 4): var of m-hour block means vs m on a
    # log-log scale; slope β estimates long-range dependence with
    # H = 1 + β/2 — the classic ALTERNATIVE estimator to D43's R/S
    # Hurst (two estimators agreeing is the evidence; one alone is
    # folklore).  The hourly series cross-joins a 4-row scale literal
    # (ONE pass — a UNION per scale would rescan), blocks keep only
    # full m-hour windows (partial blocks bias the variance), vars
    # round to 6 dp before ln (the E75 discipline), and the slope is
    # the OLS closed form over ≤|scales| points.
    scales = ", ".join(str(m) for m in VT_SCALES)
    mexp = (f"explode(array({scales}))" if d == "spark"
            else f"unnest([{scales}])")
    lv = "ln(round(v, 6))"
    n = "CAST(count(*) AS DOUBLE)"
    sx = "sum(ln(CAST(m AS DOUBLE)))"
    sy = f"sum({lv})"
    sxx = "sum(ln(CAST(m AS DOUBLE)) * ln(CAST(m AS DOUBLE)))"
    sxy = f"sum(ln(CAST(m AS DOUBLE)) * {lv})"
    slope = (f"CASE WHEN {n} >= 2.0 AND {n} * {sxx} - {sx} * {sx} > 1e-12 "
             f"THEN ({n} * {sxy} - {sx} * {sy})"
             f" / ({n} * {sxx} - {sx} * {sx}) ELSE 0.0 END")
    var_cols = ",\n      ".join(
        dbl(f"max(CASE WHEN m = {m} THEN v END)", f"var_{m}h")
        for m in VT_SCALES
    )
    return f"""
    {_hourly_cte(d)},
    idxd AS (
      SELECT slice,
        CAST(floor({epoch("h", d)} / 3600.0) AS BIGINT) AS idx,
        throughput_bps AS tv
      FROM hourly
    ),
    blocks AS (
      SELECT s.slice, s.m,
        CAST(floor(s.idx / s.m) AS BIGINT) AS b,
        avg(s.tv) AS mv,
        count(*) AS n_in
      FROM (SELECT i.*, sc.m FROM idxd i
            CROSS JOIN (SELECT {mexp} AS m) sc) s
      GROUP BY s.slice, s.m, CAST(floor(s.idx / s.m) AS BIGINT)
    ),
    vars_by_scale AS (
      SELECT slice, m, var_samp(mv) AS v
      FROM blocks
      WHERE n_in = m
      GROUP BY slice, m
      HAVING count(*) >= 2
    ),
    points AS (
      -- zero/NULL variances never reach ln() (ANSI codegen evaluates
      -- CASE branches eagerly — guard by exclusion, not by CASE)
      SELECT slice, m, v FROM vars_by_scale WHERE v > 1e-12
    )
    SELECT
      slice,
      {var_cols},
      {dbl(slope, "vt_slope")},
      {dbl(f"CASE WHEN {n} >= 2.0 THEN 1.0 + ({slope}) / 2.0 ELSE 0.0 END",
           "hurst_vt")}
    FROM points
    GROUP BY slice
    ORDER BY slice
    """


DURATION_POINTS = (0.01, 0.05, 0.10, 0.25, 0.50, 0.75, 0.90, 0.99)


def _load_duration_sql(d: str) -> str:
    # D68 — load-duration curve per slice (the utility-engineering
    # exceedance curve: load exceeded x% of the time — capacity is
    # bought at the 1% point, efficiency is judged at the 75% point):
    # exact hourly-throughput quantiles at a fixed exceedance ladder
    # plus the peak-to-base ratio.  One hourly agg, one |slices| rollup
    # of exact percentiles — scale-free after the first shuffle.
    q_cols = ",\n      ".join(
        dbl(pct("throughput_bps", 1.0 - p, d), f"exceeded_{int(p * 100):02d}pct")
        for p in DURATION_POINTS
    )
    return f"""
    {_hourly_cte(d)}
    SELECT
      slice,
      {cnt("count(*)", "n_hours")},
      {q_cols},
      {dbl(
          f"{pct('throughput_bps', 0.99, d)}"
          f" / nullif({pct('throughput_bps', 0.25, d)}, 0.0)",
          "peak_to_base_ratio",
      )}
    FROM hourly
    GROUP BY slice
    ORDER BY slice
    """


ACF_HALF_MAX_LAG = 24


def _acf_half_life_sql(d: str) -> str:
    # D69 — ACF memory length per slice: the smallest lag whose
    # autocorrelation falls below 1/e (the "how far back does the past
    # matter" scalar D13's full ACF table makes the reader eyeball;
    # feeds D5's lag choice next to D49's information criteria).  All
    # 24 lag correlations ride ONE self-join of the hourly frame on
    # shifted epochs (lag literal cross join — no per-lag rescans),
    # each via the corr_safe decomposable form; the half-life is a
    # conditional min over the ≤|slices|·24 correlation frame.
    lags = ", ".join(str(k) for k in range(1, ACF_HALF_MAX_LAG + 1))
    kexp = (f"explode(array({lags}))" if d == "spark"
            else f"unnest([{lags}])")
    corr = corr_safe("a.v", "b.v")
    return f"""
    {_hourly_cte(d)},
    ser AS (
      SELECT slice, {epoch("h", d)} AS t, throughput_bps AS v FROM hourly
    ),
    lagged AS (
      SELECT a.slice, k.k, {dbl(corr, "rho")}
      FROM ser a
      CROSS JOIN (SELECT {kexp} AS k) k
      JOIN ser b ON b.slice = a.slice AND b.t = a.t + k.k * 3600.0
      GROUP BY a.slice, k.k
    )
    SELECT
      slice,
      {cnt("count(*)", "n_lags")},
      {dbl("max(CASE WHEN k = 1 THEN rho END)", "rho_lag1")},
      {cnt(
          f"coalesce(min(CASE WHEN rho < {1.0 / 2.718281828459045!r}"
          f" THEN k END), {ACF_HALF_MAX_LAG + 1})",
          "half_life_hours",
      )},
      (min(CASE WHEN rho < {1.0 / 2.718281828459045!r} THEN k END)
         IS NOT NULL) AS decayed_within_window
    FROM lagged
    GROUP BY slice
    ORDER BY slice
    """




def _weekly_slice_corr_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D70 — ROLLING weekly correlation between slice pairs (D35's CCF
    # is one static number per pair; regime changes live in the TIME
    # AXIS of the relationship — a coupling that breaks mid-corpus
    # averages into a bland 0.4): hourly-throughput corr_safe per
    # (pair, ISO-ish week), weeks keyed on epoch/604800 so both
    # engines bucket identically.  The hourly series materializes once
    # (both join sides read it); output ≤ |pairs|·|weeks|.
    corr = corr_safe("a.v", "b.v")
    ser_sql = f"""
      {_hourly_cte(d)}
      SELECT slice, {epoch("h", d)} AS t, throughput_bps AS v FROM hourly
    """
    tail = f"""
    SELECT
      a.slice AS slice_a,
      b.slice AS slice_b,
      CAST(floor(a.t / 604800.0) AS BIGINT) AS week_idx,
      {cnt("count(*)", "n_hours")},
      {dbl(corr, "weekly_corr")}
    FROM _mz_wsc_ser a
    JOIN _mz_wsc_ser b ON b.t = a.t AND a.slice < b.slice
    GROUP BY a.slice, b.slice, CAST(floor(a.t / 604800.0) AS BIGINT)
    HAVING count(*) >= 24
    ORDER BY slice_a, slice_b, week_idx
    """
    return [("_mz_wsc_ser", ser_sql)], tail


def _diurnal_amplitude_sql(d: str) -> str:
    # D71 — diurnal-cycle amplitude TREND per slice: is the daily
    # swing growing?  Per (slice, day): relative amplitude
    # (max−min)/mean of hourly throughput; then the C44 OLS closed
    # form over day index — the seasonal-STRENGTH time axis (D42
    # scores the cycle once; capacity planning needs its derivative).
    amp = "(mx - mn) / mu"
    slope = ols_slope("CAST(day_idx AS DOUBLE)", amp)
    return f"""
    {_hourly_cte(d)},
    daily AS (
      SELECT
        slice,
        CAST(floor({epoch("h", d)} / 86400.0) AS BIGINT) AS day_idx,
        max(throughput_bps) AS mx,
        min(throughput_bps) AS mn,
        avg(throughput_bps) AS mu
      FROM hourly
      GROUP BY slice, CAST(floor({epoch("h", d)} / 86400.0) AS BIGINT)
      -- all-zero days (mu = 0) are EXCLUDED, not NULL-skipped: a NULL
      -- amplitude would poison the OLS (x-sums count the day, y-sums
      -- skip it — the r9 review finding), so the day leaves the fit
      -- entirely and n_days stays consistent with every aggregate
      HAVING count(*) >= 12 AND avg(throughput_bps) > 0.0
    )
    SELECT
      slice,
      {cnt("count(*)", "n_days")},
      {dbl(f"avg({amp})", "mean_rel_amplitude")},
      {dbl(slope, "amplitude_trend_per_day")},
      (round({slope} + {NUDGE}, 4) > 0.0) AS amplitude_growing
    FROM daily
    GROUP BY slice
    ORDER BY slice
    """




def _reciprocity_by_year_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C137 — trade-graph reciprocity TREND: C83's graph-level
    # reciprocity per order year (is the network becoming mutual or
    # one-way — the structural complement of C134's rank churn).  The
    # per-year directed edge set materializes once from the 5-table
    # chain; the reverse-edge census is a (year, reversed-pair)
    # self-equi-join of the ≤|years|·|nations|² frame.
    edges_sql = """
      SELECT DISTINCT
        CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        sn.n_name AS src,
        cn.n_name AS dst
      FROM customer c
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
    """
    tail = f"""
    WITH recips AS (
      SELECT
        a.yr,
        CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END AS recip
      FROM _mz_rby_edges a
      LEFT JOIN _mz_rby_edges b
        ON b.yr = a.yr AND b.src = a.dst AND b.dst = a.src
    ),
    nations AS (
      SELECT yr, count(DISTINCT src) AS n_src FROM _mz_rby_edges GROUP BY yr
    )
    SELECT
      r.yr AS order_year,
      {cnt("count(*)", "n_edges")},
      {cnt("sum(r.recip)", "n_reciprocal")},
      {dbl("sum(r.recip) / CAST(count(*) AS DOUBLE)", "reciprocity")},
      {cnt("max(n.n_src)", "n_supplying_nations")}
    FROM recips r
    JOIN nations n ON n.yr = r.yr
    GROUP BY r.yr
    ORDER BY order_year
    """
    return [("_mz_rby_edges", edges_sql)], tail


QUERIES = [
    sql_backed("variance_time_curve", _variance_time_sql, ("events",)),
    sql_backed("load_duration_curve", _load_duration_sql, ("events",)),
    sql_backed("acf_half_life", _acf_half_life_sql, ("events",)),
    materialized_backed("weekly_slice_correlation", _weekly_slice_corr_parts,
                        ("events",)),
    sql_backed("diurnal_amplitude_trend", _diurnal_amplitude_sql,
               ("events",)),
    materialized_backed(
        "reciprocity_by_year", _reciprocity_by_year_parts,
        ("customer", "nation", "orders", "lineitem", "supplier"),
    ),
    sql_backed("dominant_period", _dominant_period_sql, ("events",)),
    materialized_backed("transfer_entropy", _transfer_entropy_parts, ("events",)),
    materialized_backed(
        "edge_jaccard_similarity", _edge_jaccard_parts,
        ("customer", "nation", "orders", "lineitem", "supplier"),
    ),
    materialized_backed(
        "graph_density_by_region", _graph_density_parts,
        ("customer", "nation", "region", "orders", "lineitem", "supplier"),
    ),
    materialized_backed("anomaly_consensus", _anomaly_consensus_parts, ("events",)),
    sql_backed("hopping_window_volume", _hopping_window_sql, ("events",)),
    sql_backed("hampel_outliers", _hampel_sql, ("events",)),
    # Spark run = materialize-once split (advisor repeated-scan fix);
    # DuckDB oracle = the single shared CTE chain (DuckDB materializes)
    Query("triangle_count", _triangle_run, _triangle_count_sql("duckdb")),
    sql_backed("seasonal_decomposition", _seasonal_decomposition_sql, ("events",)),
    sql_backed("rolling_origin_cv", _rolling_origin_cv_sql, ("events",)),
    Query("nation_pagerank", _pagerank_run, _nation_pagerank_sql("duckdb")),
    Query("khop_distances", _khop_run, _khop_sql("duckdb")),
    Query("label_propagation", _lp_run, _lp_oracle()),
    # C59: the SAME recursive SQL on BOTH engines — Spark 4 native
    # WITH RECURSIVE vs DuckDB recursion; cross-checks the C53 loop
    sql_backed("khop_recursive", _khop_sql,
               ("customer", "nation", "orders", "lineitem", "supplier")),
    Query("kcore_trade_bloc", _kcore_run, _kcore_oracle()),
    materialized_backed("cross_correlation", _ccf_parts, ("events",)),
    Query("harmonic_centrality", _harmonic_run, _harmonic_oracle()),
    materialized_backed(
        "graph_reciprocity", _reciprocity_parts,
        ("customer", "nation", "orders", "lineitem", "supplier"),
    ),
    materialized_backed(
        "degree_assortativity", _assortativity_parts,
        ("customer", "nation", "orders", "lineitem", "supplier"),
    ),
    sql_backed("spectral_entropy", _spectral_entropy_sql, ("events",)),
    sql_backed("seasonal_strength", _seasonal_strength_sql, ("events",)),
    sql_backed("hurst_exponent", _hurst_sql, ("events",)),
]


_PC_SLICES = ("eMBB", "URLLC", "mMTC")  # kpi.packet_projection's fixed set


def _slice_pivot_sql(d: str) -> str:
    """Complete-case hourly pivot (h, v_embb, v_urllc, v_mmtc) — the
    shared frame of the D80 partial-correlation and D81 cointegration
    screens: one text, so a pivot change moves both certified rows
    together (review catch r10w2: the first D81 draft copied it)."""
    cols = {s: f"v_{s.lower()}" for s in _PC_SLICES}
    pivots = ",\n        ".join(
        f"max(CASE WHEN slice = '{s}' THEN throughput_bps END) AS {c}"
        for s, c in cols.items()
    )
    return f"""
      WITH {_hourly_cte(d).lstrip().removeprefix("WITH ")},
      pivoted AS (
        SELECT h,
        {pivots}
        FROM hourly GROUP BY h
      )
      SELECT * FROM pivoted
      WHERE v_embb IS NOT NULL AND v_urllc IS NOT NULL
        AND v_mmtc IS NOT NULL
    """


def _partial_corr_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D80 — partial correlation between slice pairs CONTROLLING the
    # third (r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))): D35's
    # raw pairwise CCF confounds shared load — two slices that both
    # follow the diurnal cycle look coupled even if independent given
    # it; partialing out the third slice (the best available proxy for
    # the common driver) is the standard screen before reading a
    # pairwise correlation as direct coupling.
    #
    # The hourly frame pivots to (h, v_eMBB, v_URLLC, v_mMTC) on hours
    # where ALL THREE slices report (complete cases — a partial corr
    # over mismatched supports is incoherent); the three corr_safe
    # aggregates reduce to ONE row, materialized, and the 3-branch
    # pair union reads that 1-row frame (inlined, Spark would re-run
    # the pivot+corr per branch).  The pivot itself has exactly one
    # consumer (this corr agg) so it rides INSIDE the corr job (r13
    # fold).  Raw correlations are rounded before the partial formula
    # (round-before-reuse discipline).
    r = {}
    for a, b in (("embb", "urllc"), ("embb", "mmtc"), ("urllc", "mmtc")):
        r[(a, b)] = (
            f"round({corr_safe(f'v_{a}', f'v_{b}')} + {NUDGE}, 4) + 0.0"
        )
    corr_sql = f"""
      WITH pc_pivot AS (
        {_slice_pivot_sql(d)}
      )
      SELECT
        CAST(count(*) AS BIGINT) AS n_hours,
        {r[("embb", "urllc")]} AS r_eu,
        {r[("embb", "mmtc")]} AS r_em,
        {r[("urllc", "mmtc")]} AS r_um
      FROM pc_pivot
    """

    def branch(pair: str, rxy: str, rxz: str, ryz: str, ctrl: str) -> str:
        part = (
            f"CASE WHEN (1.0 - {rxz} * {rxz}) * (1.0 - {ryz} * {ryz}) "
            f"> 1e-12 THEN ({rxy} - {rxz} * {ryz}) "
            f"/ sqrt((1.0 - {rxz} * {rxz}) * (1.0 - {ryz} * {ryz})) "
            f"ELSE 0.0 END"
        )
        return f"""
      SELECT
        '{pair}' AS slice_pair,
        '{ctrl}' AS controlling,
        {cnt("n_hours", "n_hours")},
        {dbl(rxy, "r_raw")},
        {dbl(part, "r_partial")},
        {dbl(f"({rxy}) - ({part})", "confound_shift")}
      FROM _mz_pc_corr"""

    tail = f"""
    {branch("eMBB~URLLC", "r_eu", "r_em", "r_um", "mMTC")}
    UNION ALL {branch("eMBB~mMTC", "r_em", "r_eu", "r_um", "URLLC")}
    UNION ALL {branch("URLLC~mMTC", "r_um", "r_eu", "r_em", "eMBB")}
    ORDER BY slice_pair
    """
    return [("_mz_pc_corr", corr_sql)], tail


QUERIES.extend([
    materialized_backed("partial_corr_slices", _partial_corr_parts,
                        ("events",)),
])


def _cointegration_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D81 — Engle-Granger cointegration screen per slice pair (Engle &
    # Granger 1987 two-step, residual-based): D80 asks whether a
    # pairwise CORRELATION is direct; this asks whether two load
    # LEVELS share a long-run equilibrium — stage 1 fits y = a + b·x
    # over the complete-case hourly pivot, stage 2 tests the residual
    # for mean reversion via the no-constant ADF regression
    # Δe_t = γ·e_{t−1} (γ significantly < 0 ⇒ the spread snaps back;
    # capacity can then plan the PAIR, not two independent series).
    # The t-stat compares against the no-constant DF 5% point (−1.95),
    # reported as an approximation — the exact critical value depends
    # on sample size and the estimated-residual correction.
    #
    # Scale: the pivot materializes once (bounded by calendar); the
    # pair long-frame materializes once (3 pair branches would re-run
    # the pivot inlined); stage-1 coefficients are a ≤3-row agg joined
    # back broadcast; the lag window rides the tiny long frame.
    # Stage-1 (a, b) round before the residuals (reuse discipline).
    pivot_sql = _slice_pivot_sql(d)
    branches = "\n      UNION ALL ".join(
        f"SELECT '{a}~{b}' AS pair, h, v_{a.lower()} AS x, "
        f"v_{b.lower()} AS y FROM _mz_cg_pivot"
        for a, b in (("eMBB", "URLLC"), ("eMBB", "mMTC"),
                     ("URLLC", "mMTC"))
    )
    long_sql = f"""
      {branches}
    """
    slope = ols_slope("x", "y")
    tail = f"""
    WITH fit1 AS (
      SELECT pair,
        round({slope} + {NUDGE}, 4) + 0.0 AS b,
        round(avg(y) - ({slope}) * avg(x) + {NUDGE}, 4) + 0.0 AS a,
        CAST(count(*) AS DOUBLE) AS n
      FROM _mz_cg_long GROUP BY pair
    ),
    resid AS (
      SELECT l.pair,
        round(l.y - f.a - f.b * l.x + {NUDGE}, 4) + 0.0 AS e,
        lag(round(l.y - f.a - f.b * l.x + {NUDGE}, 4) + 0.0) OVER (
          PARTITION BY l.pair ORDER BY l.h
        ) AS e_prev,
        f.b AS beta, f.n AS n
      FROM _mz_cg_long l JOIN fit1 f ON f.pair = l.pair
    ),
    stage2 AS (
      SELECT pair, max(beta) AS beta, max(n) AS n_hours,
        sum(CASE WHEN e_prev IS NOT NULL THEN e_prev * (e - e_prev)
                 ELSE 0.0 END) AS sxy,
        sum(CASE WHEN e_prev IS NOT NULL THEN e_prev * e_prev
                 ELSE 0.0 END) AS sxx,
        sum(CASE WHEN e_prev IS NOT NULL
                 THEN (e - e_prev) * (e - e_prev) ELSE 0.0 END) AS sdd,
        sum(CASE WHEN e_prev IS NOT NULL THEN 1.0 ELSE 0.0 END) AS m
      FROM resid GROUP BY pair
    ),
    se AS (
      -- SSR closed form for the no-constant regression (review catch
      -- r10w2: a second resid pass re-ran the lag window + join):
      -- SSR = Σ(Δe − γe₋₁)² = sdd − 2γ·sxy + γ²·sxx, all from the
      -- SAME rounded residuals, so both engines subtract identically
      SELECT pair, beta, n_hours, m, sxx,
        CASE WHEN sxx > 1e-12 THEN sxy / sxx ELSE 0.0 END AS gamma,
        CASE WHEN sxx > 1e-12
             THEN sdd - 2.0 * (sxy / sxx) * sxy
                  + (sxy / sxx) * (sxy / sxx) * sxx
             ELSE 0.0 END AS ssr
      FROM stage2
    )
    SELECT
      pair AS slice_pair,
      {cnt("n_hours", "n_hours")},
      {dbl("beta", "hedge_beta")},
      {dbl("gamma", "adf_gamma")},
      {dbl(
          "CASE WHEN m > 2.0 AND sxx > 1e-12 AND ssr > 0.0 "
          "THEN gamma / sqrt((ssr / (m - 1.0)) / sxx) ELSE 0.0 END",
          "adf_t_stat",
      )},
      {dbl(
          "CASE WHEN gamma < 0.0 AND gamma > -2.0 "
          "AND 1.0 + gamma > 1e-12 "
          "THEN -0.6931471805599453 / ln(round(1.0 + gamma + "
          f"{NUDGE}, 4) + 0.0) ELSE 0.0 END",
          "half_life_hours",
      )},
      CAST(CASE WHEN m > 2.0 AND sxx > 1e-12 AND ssr > 0.0
                THEN gamma / sqrt((ssr / (m - 1.0)) / sxx) < -1.95
                ELSE FALSE END AS BOOLEAN) AS mean_reverting
    FROM se
    ORDER BY slice_pair
    """
    return [("_mz_cg_pivot", pivot_sql), ("_mz_cg_long", long_sql)], tail


QUERIES.extend([
    materialized_backed("cointegration_screen", _cointegration_parts,
                        ("events",)),
])
