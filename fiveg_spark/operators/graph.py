"""Connected components for dedup clustering (SURVEY §2 E15).

Near-dup candidate pairs are edges; the dedup decision needs the
transitive closure — A~B, B~C ⇒ {A,B,C} is one cluster with one keeper.
This is the standard last step of large-scale corpus dedup.

Spark-first: iterative minimum-label propagation (the large-star/
small-star simplification).  Each round is one join + one groupBy on
the edge list; the label of every vertex converges to the component's
minimum doc_id in O(log diameter) rounds.  Convergence is checked with
a cheap count per round — at 100 TB the edge list after LSH blocking is
a tiny fraction of the corpus, and each round is shuffle-bounded by it.

Oracle: a DuckDB RECURSIVE CTE enumerating reachability and taking the
min reachable id — a completely different algorithm that must land on
identical cluster roots (min-id is algorithm-independent).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.operators.dedup import JACCARD_THRESHOLD, _ngram_jaccard_sql, _shingles_cte
from fiveg_spark.plans.registry import Query, cnt, ensure_views


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """(src, dst) edge list → (node, component) with component = min
    node id in the connected component.

    Converges early: each round already materializes the label frame
    (lineage truncation), so the changed-label count is one cheap
    aggregate on it, and label propagation + pointer doubling stabilize
    in O(log diameter) rounds — the loop exits then instead of running
    all ``max_iter`` joined rounds.  Pass ``stats`` to observe
    ``stats["rounds"]`` (tests pin the early exit with it)."""
    sym = edges.selectExpr(f"{src} AS a", f"{dst} AS b").union(
        edges.selectExpr(f"{dst} AS a", f"{src} AS b")
    )
    # materialize once: every propagation round re-reads the edge list,
    # which must not re-run the (possibly expensive) upstream pair plan
    sym = sym.localCheckpoint()
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node"))
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        msgs = (
            sym.join(labels, sym["a"] == labels["node"])
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("component").alias("msg"))
        )
        new_labels = (
            labels.join(msgs, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("msg"), F.col("component"))
                ).alias("component"),
            )
        )
        # pointer doubling: component ← component(component).  Neighbor
        # propagation alone needs O(diameter) rounds; the shortcut makes
        # long chains collapse in O(log diameter).
        as_parent = new_labels.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        new_labels = (
            new_labels.join(
                as_parent, new_labels["component"] == as_parent["p_node"], "left"
            )
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint()  # truncate the iterative lineage
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from exact-Jaccard pairs: (root, n_docs)."""
    ensure_views(spark, ("documents",), sf_dir)
    pairs = spark.sql(_ngram_jaccard_sql("spark")).select("doc_a", "doc_b")
    comps = connected_components(pairs, "doc_a", "doc_b")
    return (
        comps.groupBy("component")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.col("component").cast("long").alias("cluster_root"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )


def _dedup_clusters_oracle() -> str:
    return f"""
    {_shingles_cte("duckdb")},
    blocked AS (
      SELECT s.doc_id, doc.lang, doc.source, s.shingle
      FROM shingles s JOIN documents doc ON s.doc_id = doc.doc_id
    ),
    sizes AS (
      SELECT doc_id, lang, source, count(*) AS n_sh
      FROM blocked GROUP BY doc_id, lang, source
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM blocked a
      JOIN blocked b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
      WHERE i.n_common / CAST(sa.n_sh + sb.n_sh - i.n_common AS DOUBLE)
            >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    nodes AS (
      SELECT DISTINCT a AS node FROM edges
    ),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT rc.node, e.b FROM reach rc JOIN edges e ON e.a = rc.r
    ),
    comp AS (
      SELECT node, min(r) AS component FROM reach GROUP BY node
    )
    SELECT
      CAST(component AS BIGINT) AS cluster_root,
      {cnt("count(*)", "n_docs")}
    FROM comp
    GROUP BY component
    """


def cluster_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E55 — count-based downweighting ("soft dedup"): instead of
    dropping near-duplicates, give every document the sampling weight
    1 / |its near-dup cluster|, so each distinct content unit
    contributes equal expected mass to training (the alternative to
    hard dedup several pretraining pipelines use; singletons keep
    weight 1).  Extends E15's transitive closure with the join-back to
    the full corpus — at 100 TB the comps/sizes side is bounded by the
    (LSH-pruned) near-dup population, a small fraction of the corpus,
    and broadcasts."""
    from fiveg_spark.sources.tables import load_table

    ensure_views(spark, ("documents",), sf_dir)
    pairs = spark.sql(_ngram_jaccard_sql("spark")).select("doc_a", "doc_b")
    comps = connected_components(pairs, "doc_a", "doc_b")
    sizes = comps.groupBy("component").agg(F.count("*").alias("n"))
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    return (
        docs.join(comps, docs["doc_id"] == comps["node"], "left")
        .join(sizes, "component", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce(F.col("component"), F.col("doc_id"))
            .cast("long")
            .alias("cluster_root"),
            F.coalesce(F.col("n"), F.lit(1)).cast("long").alias("cluster_size"),
            (
                F.round(
                    1.0 / F.coalesce(F.col("n"), F.lit(1)).cast("double") + 1e-9, 4
                )
                + 0.0
            ).alias("weight"),
        )
        .orderBy("doc_id")
    )


def _cluster_weights_oracle() -> str:
    return f"""
    {_dedup_clusters_oracle().lstrip().removeprefix("WITH ").rsplit("SELECT", 1)[0]}
    , csizes AS (
      SELECT component, count(*) AS n FROM comp GROUP BY component
    )
    SELECT
      CAST(d.doc_id AS BIGINT) AS doc_id,
      CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster_root,
      CAST(coalesce(s.n, 1) AS BIGINT) AS cluster_size,
      round(1.0 / coalesce(s.n, 1) + 1e-9, 4) + 0.0 AS weight
    FROM documents d
    LEFT JOIN comp c ON d.doc_id = c.node
    LEFT JOIN csizes s ON c.component = s.component
    ORDER BY d.doc_id
    """


def _doc_quality_sql(d: str) -> str:
    """Per-doc rounded quality key shared by the Spark path and the
    oracle — the SAME score text_quality (E9) reports, rounded to 4
    decimals BEFORE it becomes an ordering key so both engines rank
    identical doubles (the repo's boundary discipline)."""
    from fiveg_spark.operators.text import _marker_count, _tok
    from fiveg_spark.plans.registry import arr_len

    n_toks = arr_len(_tok(d), d)
    stop = _marker_count(d, ("the", "a", "of", "and"))
    qs = (
        "CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.5 END"
        " * (1.0 - n_stopwords / CAST(n_tokens AS DOUBLE))"
    )
    return f"""
    SELECT doc_id, source, round({qs} + 1e-9, 4) + 0.0 AS q
    FROM (
      SELECT
        doc_id,
        source,
        CAST({n_toks} AS BIGINT) AS n_tokens,
        CAST({stop} AS BIGINT) AS n_stopwords
      FROM documents
    ) m
    """


def dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E59 — canonical-document selection: the KEEP decision that
    follows clustering.  Hard dedup usually keeps the min-id doc;
    production curation keeps the HIGHEST-QUALITY member of each
    near-dup cluster (quality = the E9 score), tie-broken by doc_id.
    Reports per source: doc/cluster/dropped counts, the kept quality
    mass, and an md5 over the kept doc_id list (the strongest possible
    certification — the oracle must select the exact same documents).

    Scale: the components frame is bounded by the LSH-pruned near-dup
    population (a small fraction of the corpus) and broadcasts into the
    corpus-side left join; the argmax is one window partitioned by
    cluster_id — high-cardinality key, no skew.  Quality is map-only
    arithmetic on token counts (integer inputs → bit-identical doubles
    in both engines; rounded anyway before ordering)."""
    ensure_views(spark, ("documents",), sf_dir)
    from pyspark.sql import Window

    pairs = spark.sql(_ngram_jaccard_sql("spark")).select("doc_a", "doc_b")
    comps = connected_components(pairs, "doc_a", "doc_b")
    docs = spark.sql(_doc_quality_sql("spark"))
    labeled = docs.join(comps, docs["doc_id"] == comps["node"], "left").select(
        "doc_id",
        "source",
        "q",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("q"), F.asc("doc_id"))
    ranked = labeled.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
            F.sum(F.when(F.col("rk") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            (
                F.round(
                    F.sum(F.when(F.col("rk") == 1, F.col("q")).otherwise(0.0))
                    + 1e-9,
                    4,
                )
                + 0.0
            ).alias("kept_quality_sum"),
            F.expr(
                "md5(concat_ws(',', transform(sort_array("
                "collect_list(CASE WHEN rk = 1 THEN doc_id END)), "
                "x -> cast(x AS string))))"
            ).alias("kept_ids_hash"),
        )
        .orderBy("source")
    )


def _dedup_representatives_oracle() -> str:
    prefix = (
        _dedup_clusters_oracle().lstrip().removeprefix("WITH ").rsplit("SELECT", 1)[0]
    )
    return f"""
    {prefix}
    , qual AS ({_doc_quality_sql("duckdb")}),
    labeled AS (
      SELECT
        qual.doc_id,
        qual.source,
        qual.q,
        coalesce(c.component, qual.doc_id) AS cluster_id
      FROM qual LEFT JOIN comp c ON qual.doc_id = c.node
    ),
    ranked AS (
      SELECT
        *,
        row_number() OVER (
          PARTITION BY cluster_id ORDER BY q DESC, doc_id
        ) AS rk
      FROM labeled
    )
    SELECT
      source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
      CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      round(sum(CASE WHEN rk = 1 THEN q ELSE 0.0 END) + 1e-9, 4) + 0.0
        AS kept_quality_sum,
      md5(string_agg(
        CASE WHEN rk = 1 THEN CAST(doc_id AS VARCHAR) END, ','
        ORDER BY doc_id)) AS kept_ids_hash
    FROM ranked
    GROUP BY source
    ORDER BY source
    """


QUERIES = [
    Query("dedup_clusters", dedup_clusters, "WITH RECURSIVE " + _dedup_clusters_oracle().lstrip().removeprefix("WITH ")),
    Query(
        "cluster_weights",
        cluster_weights,
        "WITH RECURSIVE " + _cluster_weights_oracle().lstrip().removeprefix("WITH "),
    ),
    Query(
        "dedup_representatives",
        dedup_representatives,
        "WITH RECURSIVE "
        + _dedup_representatives_oracle().lstrip().removeprefix("WITH "),
    ),
]


# --------------------------------------------------------------------------
# C184 (né C166) — recursive-CTE BFS reach over the thresholded trade graph
# (Spark 4's WITH RECURSIVE: the first ITERATIVE query the engine runs
# natively in SQL instead of a driver-side loop)
# --------------------------------------------------------------------------

_REACH_DEPTH = 4

# revenue-weighted nation→nation trade edges, thresholded at the mean
# edge weight.  Weights are rounded on the /1e6 grid BEFORE the mean
# and the comparison: raw sums reach ~1e7 where engine summation-order
# noise (~1e-2 absolute) would flip a threshold tie, while the rounded
# grid is 100× coarser than the noise (the artifacts.py cents-grid
# discipline).  The mean rides a global window over the ≤|nations|²
# post-agg frame (allow-listed).
_REACH_EDGES_SQL = """
      SELECT src, dst FROM (
        SELECT src, dst, wm, round(avg(wm) OVER () + 1e-9, 4) AS mwm
        FROM (
          SELECT
            cn.n_name AS src,
            sn.n_name AS dst,
            round(sum(l.l_extendedprice * (1 - l.l_discount)) / 1e6
                  + 1e-9, 4) AS wm
          FROM customer c
          JOIN nation cn ON c.c_nationkey = cn.n_nationkey
          JOIN orders o ON o.o_custkey = c.c_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation sn ON s.s_nationkey = sn.n_nationkey
          WHERE cn.n_name <> sn.n_name
          GROUP BY cn.n_name, sn.n_name
        ) raw
      ) banded
      WHERE wm >= mwm
"""


def _reach_tail(edges_rel: str) -> str:
    """The SHARED recursive text (Spark 4.1 and DuckDB both execute it
    verbatim): depth-bounded BFS from the lexicographic-min source.
    Spark's recursion supports UNION ALL only, so cycles re-emit nodes
    at longer depths and the outer min(d) collapses them — the frontier
    is bounded by out-degree^depth on the ≤25-node thresholded graph,
    never by fact volume."""
    return f"""
    WITH RECURSIVE reach(node, d) AS (
      SELECT seed.node, 0 FROM (
        SELECT min(src) AS node FROM {edges_rel}
      ) seed
      UNION ALL
      SELECT e.dst, r.d + 1
      FROM reach r JOIN {edges_rel} e ON e.src = r.node
      WHERE r.d < {_REACH_DEPTH}
    )
    SELECT
      n.n_name AS nation,
      CAST(coalesce(min(r.d), -1) AS BIGINT) AS hops,
      min(r.d) IS NOT NULL AS reached
    FROM nation n
    LEFT JOIN reach r ON r.node = n.n_name
    GROUP BY n.n_name
    ORDER BY nation
    """


def trade_reach_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C184: hop distance (≤4) from the lexicographic-min trading
    nation over mean-thresholded trade edges, computed by Spark's
    NATIVE recursive CTE (UnionLoop execution).  The edge frame — the
    only fact-scale work — materializes ONCE via localCheckpoint, so
    each loop iteration joins the ≤|nations|² checkpointed frame, never
    the 5-table join (the pagerank discipline applied to recursion).
    The oracle runs the IDENTICAL recursive text over the same edge SQL
    in DuckDB — two independent recursive executors must agree on every
    hop count."""
    ensure_views(spark, ("customer", "nation", "orders", "lineitem",
                         "supplier"), sf_dir)
    edges = spark.sql(_REACH_EDGES_SQL).localCheckpoint()
    # Per-run unique view name, dropped immediately after analysis (r12
    # advice: a fixed name silently overwrote concurrent runs and the view
    # leaked for the session's lifetime).  spark.sql analyzes eagerly, so
    # the returned frame keeps its resolved plan after the drop; the
    # checkpointed blocks are reclaimed by the ContextCleaner once the
    # caller releases the frame.
    view = f"_mz_reach_edges_{uuid.uuid4().hex}"
    edges.createOrReplaceTempView(view)
    try:
        return spark.sql(_reach_tail(view))
    finally:
        spark.catalog.dropTempView(view)


def _trade_reach_oracle() -> str:
    return _reach_tail(f"({_REACH_EDGES_SQL})")


QUERIES.append(
    Query("trade_reach_hops", trade_reach_hops, _trade_reach_oracle())
)


def dedup_adjusted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E140 — dedup-adjusted source mixture (the E55 → mixture_weights
    composition the sampling pipeline actually consumes): soft-dedup
    weights (1/cluster-size from the E15 transitive closure) convert
    each source's RAW token mass into its EFFECTIVE mass, and the
    mixture share re-derives from effective tokens — a source whose
    volume is mostly near-dup boilerplate loses exactly its duplicated
    mass.  The comps/sizes side is bounded by the LSH-pruned near-dup
    population (broadcastable); the global share denominators come from
    a 1-row aggregate of the ≤|sources| frame, never a corpus window."""
    from fiveg_spark.operators.dedup import _ngram_jaccard_sql
    from fiveg_spark.plans.registry import ensure_views

    ensure_views(spark, ("documents",), sf_dir)
    pairs = spark.sql(_ngram_jaccard_sql("spark")).select("doc_a", "doc_b")
    comps = connected_components(pairs, "doc_a", "doc_b")
    sizes = comps.groupBy("component").agg(F.count("*").alias("n"))
    docs = spark.sql(
        "SELECT doc_id, source,"
        " CAST(size(split(text, ' +')) AS DOUBLE) AS toks"
        " FROM documents"
    )
    weighted = (
        docs.join(comps, docs["doc_id"] == comps["node"], "left")
        .join(sizes, "component", "left")
        .select(
            "source", "toks",
            (F.col("toks") / F.coalesce(F.col("n"), F.lit(1)).cast("double"))
            .alias("eff_toks"),
        )
    )
    per_source = weighted.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").alias("raw_tokens"),
        F.sum("eff_toks").alias("eff_tokens"),
    )
    totals = per_source.agg(
        F.sum("raw_tokens").alias("tot_raw"),
        F.sum("eff_tokens").alias("tot_eff"),
    )
    r4 = lambda c: (F.round(c + F.lit(1e-9), 4) + F.lit(0.0)).cast("double")
    return (
        per_source.crossJoin(totals)
        .select(
            "source",
            "n_docs",
            F.col("raw_tokens").cast("long").alias("raw_tokens"),
            r4(F.col("eff_tokens")).alias("eff_tokens"),
            r4(F.col("raw_tokens") / F.col("tot_raw")).alias("raw_share"),
            r4(F.col("eff_tokens") / F.col("tot_eff")).alias("eff_share"),
            r4(F.col("eff_tokens") / F.col("raw_tokens")).alias(
                "dedup_discount"
            ),
        )
        .orderBy("source")
    )


def _dedup_adjusted_mixture_oracle() -> str:
    return f"""
    {_dedup_clusters_oracle().lstrip().removeprefix("WITH ").rsplit("SELECT", 1)[0]}
    , csizes AS (
      SELECT component, count(*) AS n FROM comp GROUP BY component
    ),
    docs AS (
      SELECT d.doc_id, d.source,
        CAST(len(string_split_regex(d.text, ' +')) AS DOUBLE) AS toks,
        coalesce(s.n, 1) AS csize
      FROM documents d
      LEFT JOIN comp c ON d.doc_id = c.node
      LEFT JOIN csizes s ON c.component = s.component
    ),
    per_source AS (
      SELECT source,
        CAST(count(*) AS BIGINT) AS n_docs,
        sum(toks) AS raw_tokens,
        sum(toks / csize) AS eff_tokens
      FROM docs GROUP BY source
    ),
    totals AS (
      SELECT sum(raw_tokens) AS tot_raw, sum(eff_tokens) AS tot_eff
      FROM per_source
    )
    SELECT
      p.source,
      p.n_docs,
      CAST(p.raw_tokens AS BIGINT) AS raw_tokens,
      round(p.eff_tokens + 1e-9, 4) + 0.0 AS eff_tokens,
      round(p.raw_tokens / t.tot_raw + 1e-9, 4) + 0.0 AS raw_share,
      round(p.eff_tokens / t.tot_eff + 1e-9, 4) + 0.0 AS eff_share,
      round(p.eff_tokens / p.raw_tokens + 1e-9, 4) + 0.0 AS dedup_discount
    FROM per_source p CROSS JOIN totals t
    ORDER BY p.source
    """


QUERIES.append(
    Query(
        "dedup_adjusted_mixture",
        dedup_adjusted_mixture,
        "WITH RECURSIVE "
        + _dedup_adjusted_mixture_oracle().lstrip().removeprefix("WITH "),
    )
)
