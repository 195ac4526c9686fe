"""Similarity search over the embeddings table (SURVEY §2 E5-E7, E12).

Brute-force cosine top-k is the exact baseline (map-only against a
broadcast query vector + one top-k); embedding near-dup pairs are
blocked by label (the standard ANN-blocking shape); label centroids are
the posexplode/unnest aggregation.

Cosine math runs in DOUBLE on both engines (float32 inputs are exactly
representable in double), so cross-engine drift is ~1e-15 — absorbed by
the shared round-with-nudge discipline.
"""

from __future__ import annotations

from fiveg_spark.operators.text import _bm25_ranked_ctes, _tok, _tf_frame_sql
from fiveg_spark.plans.registry import (
    NUDGE,
    Query,
    cnt,
    dbl,
    materialized_backed,
    pct,
    sql_backed,
)

COSINE_DUP_THRESHOLD = 0.30  # synthetic embeddings: p99 within-label ≈ 0.295
DEDUP_N_PROBE = 6  # lists each vector indexes into for dedup blocking (of N_LISTS=16)
KNN_K = 10


def _cos(d: str, a: str, b: str) -> str:
    if d == "spark":
        dot = (
            f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>), "
            f"(x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )
        na = (
            f"sqrt(aggregate(CAST({a} AS ARRAY<DOUBLE>), 0D, (acc, x) -> acc + x * x))"
        )
        nb = (
            f"sqrt(aggregate(CAST({b} AS ARRAY<DOUBLE>), 0D, (acc, x) -> acc + x * x))"
        )
    else:
        dot = f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        na = f"sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
        nb = f"sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))"
    return f"({dot} / ({na} * {nb} + 1e-12))"


TRUNC_DIMS = (8, 16, 32)  # evaluated prefixes of the 64-dim embeddings
TRUNC_SAMPLE = 50  # pair sample: vec_id < 50 -> 1225 pairs


def _slice(d: str, a: str, n: int) -> str:
    if d == "spark":
        return f"slice(CAST({a} AS ARRAY<DOUBLE>), 1, {n})"
    return f"list_slice(CAST({a} AS DOUBLE[]), 1, {n})"


def _truncation_eval_sql(d: str) -> str:
    # E66 — embedding TRUNCATION quality eval (the Matryoshka/MRL
    # deployment question: how much retrieval/dedup fidelity survives
    # keeping only the first d dimensions?).  Per candidate prefix dim:
    # cosine error stats over a deterministic pair sample, plus the
    # DECISION-level metric that actually matters to the dedup pipeline
    # — the fraction of pairs where the truncated embedding makes the
    # SAME duplicate call (cos > threshold) as the full vector.  An
    # operator run before shrinking the E5/E20 index to a prefix.
    #
    # Determinism: both cosines round (NUDGE) BEFORE the threshold
    # agreement so engines compare identical doubles; error stats are
    # IEEE-identical raw arithmetic rounded at the edge.
    #
    # Scale: the pair frame is a bounded sample (TRUNC_SAMPLE rows each
    # side, filter pushed to the scan) — the eval cost is O(sample²·
    # |dims|) regardless of corpus size; production would sample ids by
    # hash instead of prefix, same shape.
    if d == "spark":
        dims = "SELECT explode(array{}) AS dim".format(TRUNC_DIMS)
    else:
        dims = "SELECT unnest([{}]) AS dim".format(
            ", ".join(str(x) for x in TRUNC_DIMS)
        )
    cos_full = _cos(d, "p.ea", "p.eb")
    # truncated cosine per dim: built per candidate dim via CASE so the
    # slice length stays a literal (both engines fold it)
    trunc_cases = " ".join(
        f"WHEN {n} THEN ({_cos(d, _slice(d, 'p.ea', n), _slice(d, 'p.eb', n))})"
        for n in TRUNC_DIMS
    )
    return f"""
    WITH pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             a.embedding AS ea, b.embedding AS eb
      FROM embeddings a
      JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < {TRUNC_SAMPLE} AND b.vec_id < {TRUNC_SAMPLE}
    ),
    scored AS (
      SELECT
        dm.dim,
        round({cos_full} + 1e-9, 4) + 0.0 AS cf,
        round(CASE dm.dim {trunc_cases} END + 1e-9, 4) + 0.0 AS ct
      FROM pairs p CROSS JOIN ({dims}) dm
    )
    SELECT
      {cnt("dim", "dim")},
      {cnt("count(*)", "n_pairs")},
      {dbl("avg(abs(ct - cf))", "mean_abs_err")},
      {dbl("max(abs(ct - cf))", "max_abs_err")},
      {dbl(
          f"avg(CASE WHEN (ct > {COSINE_DUP_THRESHOLD}) = "
          f"(cf > {COSINE_DUP_THRESHOLD}) THEN 1.0 ELSE 0.0 END)",
          "dup_decision_agreement",
      )}
    FROM scored
    GROUP BY dim
    ORDER BY dim
    """


def _knn_sql(d: str) -> str:
    # E6: exact top-k against the query vector (vec_id = 0).  At scale the
    # query side is a broadcast and the scan is embarrassingly parallel;
    # ORDER BY + LIMIT compiles to TakeOrdered (per-partition partial
    # top-k, no single-partition window shuffle); ordering on the ROUNDED
    # similarity + unique id keeps the cut deterministic.
    cos = _cos(d, "e.embedding", "q.embedding")
    return f"""
    WITH q AS (
      SELECT embedding FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT
        e.vec_id,
        e.label,
        {dbl(cos, "cosine")}
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cosine
    FROM scored
    ORDER BY cosine DESC, vec_id
    LIMIT {KNN_K}
    """


def _embedding_dedup_sql(d: str) -> str:
    # E5: near-dup candidate pairs, blocked by label.
    cos = _cos(d, "a.embedding", "b.embedding")
    return f"""
    WITH pairs AS (
      SELECT
        a.vec_id AS vec_a,
        b.vec_id AS vec_b,
        a.label,
        {dbl(cos, "cosine")}
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, label, cosine
    FROM pairs
    WHERE cosine >= {COSINE_DUP_THRESHOLD}
    """


def embedding_dedup_ivf(spark, sf_dir):
    """E5 scale path (r3 VERDICT): the exact `embedding_dedup_pairs`
    blocks on raw `label`, whose low cardinality makes within-block pairs
    O(n²/L) — fine as a small-corpus exact tool, lethal at 1e9 vectors.
    This variant re-blocks through IVF cluster ids (ann_ivf fit/assign,
    √n-ish lists) so the quadratic is bounded by CLUSTER size, with
    multi-probe assignment so boundary-straddling near-dups still share a
    block.  The probe count is the recall knob: this corpus' dup
    threshold sits at the within-label p99 (weak pairs, cosine ~0.30),
    and on it 2 probes miss 34/82 exact pairs, 6 probes miss none while
    keeping the largest block at half the largest label block.  At 1e9
    vectors with the usual sqrt(n) lists, the constant probe factor stays
    put while label blocks grow linearly — the quadratic is tamed.

    Shape at scale: centroid fit on a sample → map-only multi-assign
    (ids only, no vectors in the shuffle) → bucket-local pair explode
    from sorted posting lists (same one-scan pattern as the minhash
    banding fix) → exact cosine on candidate pairs via two hash joins on
    unique vec_id.  Certified against the EXACT pair SQL as its DuckDB
    oracle (6 probes recover the full pair set on this corpus); the
    pytest gate additionally asserts pair-set equality at test scale
    plus the block-size bound.
    """
    from pyspark.sql import functions as F

    from fiveg_spark.operators.ann_ivf import (
        assign_lists_multi,
        fit_centroids,
    )
    from fiveg_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    centroids_bc = spark.sparkContext.broadcast(fit_centroids(spark, emb))
    assigned = assign_lists_multi(emb, centroids_bc, n_assign=DEDUP_N_PROBE)
    pairs = (
        assigned.groupBy("label", "list_id")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            "label",
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> "
                    "named_struct('vec_a', x, 'vec_b', y))))"
                )
            ).alias("p"),
        )
        .select("label", "p.vec_a", "p.vec_b")
        .distinct()  # multi-assign can emit a pair in two shared blocks
    )
    cos = _cos("spark", "ea.embedding", "eb.embedding")
    scored = (
        pairs.join(emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding")).alias("ea"), "vec_a")
        .join(emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding")).alias("eb"), "vec_b")
        .selectExpr("vec_a", "vec_b", "label", f"{dbl(cos, 'cosine')}")
    )
    return scored.filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)


def _label_centroids_sql(d: str) -> str:
    # E12: per-label centroid, one row per (label, dimension).
    if d == "spark":
        exploded = (
            "SELECT label, posexplode(CAST(embedding AS ARRAY<DOUBLE>)) AS (pos0, v) "
            "FROM embeddings"
        )
        pos = "pos0 + 1"
    else:
        exploded = (
            "SELECT label, unnest(generate_series(1, len(embedding))) AS pos0, "
            "unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings"
        )
        pos = "pos0"
    return f"""
    WITH exploded AS (
      {exploded}
    )
    SELECT
      label,
      CAST({pos} AS INT) AS dim,
      {dbl("avg(v)", "centroid")},
      {cnt("count(*)", "n_vectors")}
    FROM exploded
    GROUP BY label, CAST({pos} AS INT)
    """


def _quantization_sql(d: str) -> str:
    # E27 — per-vector uint8 quantization (the vector-compression step
    # before ANN at scale: 4× smaller than float32, 75% less shuffle).
    # code(x) = floor((x - mn)/s + 0.5) with explicit half-up floor so
    # both engines agree without relying on round()'s tie semantics;
    # all math in DOUBLE from identical float32 inputs → bit-identical.
    # Constant vectors (s = 0) degrade to code 0 via the s guard.
    if d == "spark":
        arr = "CAST(embedding AS ARRAY<DOUBLE>)"
        mn, mx = "array_min(arr)", "array_max(arr)"
        code = "CAST(floor((x - mn) / s + 0.5) AS BIGINT)"
        code_sum = f"aggregate(transform(arr, x -> {code}), 0L, (a, x) -> a + x)"
        err = "abs(x - (mn + CAST(floor((x - mn) / s + 0.5) AS BIGINT) * s))"
        err_sum = f"aggregate(transform(arr, x -> {err}), 0D, (a, x) -> a + x)"
        n_dims = "size(arr)"
    else:
        arr = "CAST(embedding AS DOUBLE[])"
        mn, mx = "list_min(arr)", "list_max(arr)"
        code = "CAST(floor((x - mn) / s + 0.5) AS BIGINT)"
        code_sum = f"list_sum(list_transform(arr, x -> {code}))"
        err = "abs(x - (mn + CAST(floor((x - mn) / s + 0.5) AS BIGINT) * s))"
        err_sum = f"list_sum(list_transform(arr, x -> {err}))"
        n_dims = "len(arr)"
    return f"""
    WITH base AS (
      SELECT vec_id, label, {arr} AS arr FROM embeddings
    ),
    ranged AS (
      SELECT *, {mn} AS mn, {mx} AS mx FROM base
    ),
    scaled AS (
      SELECT *, CASE WHEN mx = mn THEN 1.0 ELSE (mx - mn) / 255.0 END AS s
      FROM ranged
    )
    SELECT
      vec_id,
      {cnt(n_dims, "n_dims")},
      {dbl("mn", "v_min")},
      {dbl("mx", "v_max")},
      {cnt(code_sum, "code_sum")},
      {dbl(f"{err_sum} / {n_dims}", "mean_abs_error")}
    FROM scaled
    """


def _dot(d: str, a: str, b: str) -> str:
    if d == "spark":
        return (
            f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>), "
            f"(x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )
    return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def _rrf_sql(d: str) -> str:
    # E40 — reciprocal-rank fusion (Cormack 2009) of two retrieval
    # rankings against the query vector (vec_id = 0): cosine (angle)
    # and euclidean (magnitude-sensitive, via the dot-product identity
    # so BOTH engines evaluate the same formula).  Scores are rounded
    # BEFORE ranking (tiebreak vec_id) so cross-engine summation noise
    # can't flip a rank; rrf = Σ 1/(60 + rank).  At scale each ranking
    # is a per-candidate map + TakeOrdered over the ANN candidate pool
    # (LSH/IVF/PQ output), not the full corpus — the fusion itself
    # touches only k rows per ranking.
    cos = _cos(d, "e.embedding", "q.embedding")
    dot_eq = _dot(d, "e.embedding", "q.embedding")
    na2 = _dot(d, "e.embedding", "e.embedding")
    nq2 = _dot(d, "q.embedding", "q.embedding")
    euclid = f"sqrt({na2} - 2.0 * {dot_eq} + {nq2})"
    return f"""
    WITH q AS (
      SELECT embedding FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT
        e.vec_id,
        e.label,
        round({cos} + 1e-9, 4) + 0.0 AS cosine_r,
        round({euclid} + 1e-9, 4) + 0.0 AS euclid_r
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    ),
    ranked AS (
      SELECT
        vec_id,
        label,
        cosine_r,
        euclid_r,
        row_number() OVER (ORDER BY cosine_r DESC, vec_id) AS rank_cos,
        row_number() OVER (ORDER BY euclid_r ASC, vec_id) AS rank_euc
      FROM scored
    )
    SELECT
      vec_id,
      label,
      {cnt("rank_cos", "rank_cos")},
      {cnt("rank_euc", "rank_euc")},
      {dbl("1.0 / (60.0 + rank_cos) + 1.0 / (60.0 + rank_euc)", "rrf_score")}
    FROM ranked
    ORDER BY round(1.0 / (60.0 + rank_cos) + 1.0 / (60.0 + rank_euc) + 1e-9, 6) DESC, vec_id
    LIMIT {KNN_K}
    """


RRF_K = 60  # the standard reciprocal-rank-fusion constant
RRF_POOL = 20  # per-modality candidate pool depth
HYBRID_TOPK = 5


def _hybrid_fusion_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E72 — hybrid lexical+dense retrieval fusion (Cormack et al. 2009
    # RRF; the two-tower production shape every RAG stack ships): for
    # each planted keyword query, the LEXICAL ranking is E64's BM25
    # chain verbatim (shared CTEs — a scoring regression breaks both
    # certified rows), the DENSE ranking is query-by-example cosine
    # seeded with the BM25 top-1 document's embedding (pseudo-relevance
    # feedback: keyword queries have no embedding, their best lexical
    # hit does), and the fused list is RRF over the two top-{RRF_POOL}
    # pools: score = Σ 1/({RRF_K}+rank), absent-modality ranks
    # contribute 0 (the standard convention).  E40 certifies RRF rank
    # arithmetic on synthetic ranks; this runs the REAL two-modality
    # pipeline end-to-end.
    #
    # Scale: one corpus scan builds the tf frame (materialized); the
    # dense side is |queries|×|corpus| with the 3-row query-vector
    # frame broadcast — the exact-scoring shape for small query sets
    # (a large query set swaps in ann_retrieval's IVF probe path);
    # fusion is a FULL OUTER join of two ≤|queries|·{RRF_POOL} pools.
    # RRF scores round (NUDGE) before the fused rank; doc_id tiebreak.
    tf_sql = _tf_frame_sql(d)
    cos = _cos(d, "q.qemb", "e.embedding")
    # r13 opt: the BM25 pool is materialized as its OWN checkpointed
    # frame — the tail referenced `ranked` twice (lex + seed), and Spark
    # inlines CTEs, so the whole doclen/df/scored/window chain over the
    # tf frame ran twice (the ledger showed 30 exchanges).  The pool is
    # ≤ |queries|·|matched docs| rows; both references are now filters.
    pool_sql = f"""
    WITH {_bm25_ranked_ctes("_mz_hyb_tf")}
    SELECT query_id, doc_id, rnk FROM ranked WHERE rnk <= {RRF_POOL}
    """
    tail = f"""
    WITH lex AS (
      SELECT query_id, doc_id, rnk AS rank_lex FROM _mz_hyb_pool
    ),
    seed AS (
      SELECT query_id, doc_id AS seed_doc FROM _mz_hyb_pool WHERE rnk = 1
    ),
    qvec AS (
      SELECT s.query_id, e.embedding AS qemb
      FROM seed s JOIN embeddings e ON e.vec_id = s.seed_doc
    ),
    dense_scored AS (
      SELECT
        q.query_id,
        e.vec_id AS doc_id,
        round({cos} + {NUDGE}, 4) + 0.0 AS cosine
      FROM qvec q CROSS JOIN embeddings e
    ),
    dense AS (
      SELECT query_id, doc_id, rank_dense FROM (
        SELECT *,
          row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, doc_id
          ) AS rank_dense
        FROM dense_scored
      ) t WHERE rank_dense <= {RRF_POOL}
    ),
    fused AS (
      SELECT
        coalesce(l.query_id, dn.query_id) AS query_id,
        coalesce(l.doc_id, dn.doc_id) AS doc_id,
        coalesce(l.rank_lex, 0) AS rank_lex,
        coalesce(dn.rank_dense, 0) AS rank_dense,
        round(
          CASE WHEN l.rank_lex IS NULL THEN 0.0
               ELSE 1.0 / ({RRF_K} + l.rank_lex) END
          + CASE WHEN dn.rank_dense IS NULL THEN 0.0
                 ELSE 1.0 / ({RRF_K} + dn.rank_dense) END
          + {NUDGE}, 4) + 0.0 AS rrf_score
      FROM lex l
      FULL OUTER JOIN dense dn
        ON dn.query_id = l.query_id AND dn.doc_id = l.doc_id
    )
    SELECT
      query_id,
      {cnt("fr", "rnk")},
      {cnt("doc_id", "doc_id")},
      CAST(rrf_score AS DOUBLE) AS rrf_score,
      {cnt("rank_lex", "rank_lex")},
      {cnt("rank_dense", "rank_dense")},
      CAST(rank_lex > 0 AND rank_dense > 0 AS BOOLEAN) AS in_both
    FROM (
      SELECT *,
        row_number() OVER (
          PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
        ) AS fr
      FROM fused
    ) f
    WHERE fr <= {HYBRID_TOPK}
    ORDER BY query_id, rnk
    """
    return [("_mz_hyb_tf", tf_sql), ("_mz_hyb_pool", pool_sql)], tail


IF_K = 8  # frozen-index stand-in: the 8 earliest vectors seed the clusters


def _index_freshness_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # D48 — vector-index freshness audit (the maintenance question an
    # aging ANN index must answer: how far have the data drifted from
    # the frozen centroids, and how many vectors would a re-fit move?).
    # Frozen index = the IF_K earliest vectors by vec_id (a
    # deterministic stand-in the oracle can recompute; the production
    # path runs the SAME SQL with the E20 persisted-centroid parquet
    # registered as the seed view).  One Lloyd step: assign all vectors
    # to their nearest seed by cosine, recompute per-cluster means,
    # then re-assign against the fresh means — per cluster this reports
    # the centroid drift 1 − cos(seed, new_mean) and the fraction of
    # members a re-fit would move.  Rebuild triggers (e.g. drift > 0.1
    # or moved_frac > 0.3) read straight off the row.
    #
    # Scale: ONE embeddings scan builds the exploded (vec, dim, value)
    # frame; every cosine after that is a pos-join + hash-agg on it —
    # |vecs|·k·d intermediate rows, the same asymptotics as one IVF
    # assignment pass; the seed/centroid sides are k·d rows (broadcast
    # at any corpus size).  Norms fall out of the same group (Σv² within
    # a (vec, seed) group IS the vector norm²), so nothing rescans.
    # Parity: cosines round (NUDGE, 4 dp) BEFORE both argmax rankings,
    # ties break on cluster id; drift/fractions round via dbl.
    if d == "spark":
        exp = (
            "SELECT vec_id, pos0 + 1 AS pos, v FROM (SELECT vec_id, "
            "posexplode(CAST(embedding AS ARRAY<DOUBLE>)) AS (pos0, v) "
            "FROM embeddings) e"
        )
    else:
        exp = (
            "SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos, "
            "unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings"
        )
    seed_exp = (
        f"SELECT vec_id AS seed_id, pos, v AS sv FROM _mz_if_exp "
        f"WHERE vec_id IN (SELECT vec_id FROM "
        f"(SELECT DISTINCT vec_id FROM _mz_if_exp ORDER BY vec_id LIMIT {IF_K}) s)"
    )
    assign_sql = f"""
    WITH pair AS (
      SELECT
        e.vec_id,
        se.seed_id,
        sum(e.v * se.sv) AS dot,
        sum(e.v * e.v) AS nv2,
        sum(se.sv * se.sv) AS ns2
      FROM _mz_if_exp e
      JOIN ({seed_exp}) se ON se.pos = e.pos
      GROUP BY e.vec_id, se.seed_id
    ),
    scored AS (
      SELECT
        vec_id,
        seed_id,
        round(dot / (sqrt(nv2) * sqrt(ns2) + 1e-12) + {NUDGE}, 4) + 0.0 AS cos_old,
        row_number() OVER (PARTITION BY vec_id
                           ORDER BY round(dot / (sqrt(nv2) * sqrt(ns2) + 1e-12)
                                          + {NUDGE}, 4) DESC, seed_id) AS rk
      FROM pair
    )
    SELECT vec_id, seed_id AS cluster_id, cos_old FROM scored WHERE rk = 1
    """
    newcent_sql = """
    SELECT a.cluster_id, e.pos, avg(e.v) AS mv
    FROM _mz_if_exp e
    JOIN _mz_if_assign a ON a.vec_id = e.vec_id
    GROUP BY a.cluster_id, e.pos
    """
    tail = f"""
    WITH drift AS (
      SELECT
        nc.cluster_id,
        sum(nc.mv * se.sv) AS dot,
        sum(nc.mv * nc.mv) AS nm2,
        sum(se.sv * se.sv) AS ns2
      FROM _mz_if_newcent nc
      JOIN ({seed_exp}) se ON se.seed_id = nc.cluster_id AND se.pos = nc.pos
      GROUP BY nc.cluster_id
    ),
    repair AS (
      SELECT
        e.vec_id,
        nc.cluster_id,
        sum(e.v * nc.mv) AS dot,
        sum(e.v * e.v) AS nv2,
        sum(nc.mv * nc.mv) AS nm2
      FROM _mz_if_exp e
      JOIN _mz_if_newcent nc ON nc.pos = e.pos
      GROUP BY e.vec_id, nc.cluster_id
    ),
    rescored AS (
      SELECT
        vec_id,
        cluster_id,
        row_number() OVER (PARTITION BY vec_id
                           ORDER BY round(dot / (sqrt(nv2) * sqrt(nm2) + 1e-12)
                                          + {NUDGE}, 4) DESC, cluster_id) AS rk
      FROM repair
    ),
    moved AS (
      SELECT
        a.cluster_id,
        count(*) AS n_assigned,
        sum(CASE WHEN r.cluster_id <> a.cluster_id THEN 1 ELSE 0 END) AS n_moved,
        avg(a.cos_old) AS mean_cos_old
      FROM _mz_if_assign a
      JOIN rescored r ON r.vec_id = a.vec_id AND r.rk = 1
      GROUP BY a.cluster_id
    )
    SELECT
      {cnt("m.cluster_id", "cluster_id")},
      {cnt("m.n_assigned", "n_assigned")},
      {cnt("m.n_moved", "n_moved")},
      {dbl("m.n_moved / CAST(m.n_assigned AS DOUBLE)", "moved_frac")},
      {dbl("m.mean_cos_old", "mean_member_cos")},
      {dbl("1.0 - d.dot / (sqrt(d.nm2) * sqrt(d.ns2) + 1e-12)", "centroid_drift")}
    FROM moved m
    JOIN drift d ON d.cluster_id = m.cluster_id
    ORDER BY cluster_id
    """
    return (
        [
            ("_mz_if_exp", exp),
            ("_mz_if_assign", assign_sql),
            ("_mz_if_newcent", newcent_sql),
        ],
        tail,
    )



def _anisotropy_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E78 — embedding anisotropy: the EXACT mean pairwise cosine per
    # label and corpus-wide (Ethayarajh 2019 — anisotropic spaces
    # squeeze every vector into a cone, so cosine similarity loses
    # contrast; the representation-quality number to check BEFORE
    # trusting any cosine-based dedup/ANN threshold above).  The whole
    # point is the identity: over unit vectors,
    #   Σ_{i≠j} cos(v_i, v_j) = ‖Σ v̂_i‖² − n,
    # so the ALL-PAIRS statistic needs NO pair join — one normalize,
    # one per-(label, dim) sum, and a d-length reduction.  At 100 TB
    # that is two hash-aggs where the naive formulation is an n²
    # cartesian nobody can run.
    #
    # materialized_backed: the exploded (vec, dim, value) frame feeds
    # the norm agg and the normalized re-read — inlined, Spark would
    # scan embeddings twice.  Zero-norm vectors drop (no unit vector
    # exists), under-2-vector labels report the 0.0 no-information
    # convention.  Output: per-label rows + the 'ALL' corpus row from
    # the same sums (a UNION of two aggs over the tiny per-dim frame).
    if d == "spark":
        exp = (
            "SELECT vec_id, label, pos0 AS pos, v FROM (SELECT vec_id, "
            "label, posexplode(CAST(embedding AS ARRAY<DOUBLE>)) AS (pos0, v) "
            "FROM embeddings) e"
        )
    else:
        exp = (
            "SELECT vec_id, label, "
            "unnest(generate_series(1, len(embedding))) AS pos, "
            "unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings"
        )
    mean_cos = (
        "CASE WHEN n >= 2 THEN (ss - n) / (CAST(n AS DOUBLE) * (n - 1)) "
        "ELSE 0.0 END"
    )
    tail = f"""
    WITH nrm AS (
      SELECT vec_id, sqrt(sum(v * v)) AS n2
      FROM _mz_aniso_exp
      GROUP BY vec_id
    ),
    unit AS (
      SELECT e.vec_id, e.label, e.pos, e.v / n.n2 AS u
      FROM _mz_aniso_exp e
      JOIN nrm n ON n.vec_id = e.vec_id
      WHERE n.n2 > 0
    ),
    dim_sums AS (
      SELECT CAST(label AS STRING) AS grp, pos, sum(u) AS s,
             count(DISTINCT vec_id) AS n_part
      FROM unit
      GROUP BY label, pos
    ),
    grouped AS (
      SELECT grp, sum(s * s) AS ss, max(n_part) AS n
      FROM dim_sums
      GROUP BY grp
      UNION ALL
      SELECT 'ALL' AS grp, sum(ts * ts) AS ss, max(tn) AS n
      FROM (
        SELECT pos, sum(s) AS ts, sum(n_part) AS tn
        FROM dim_sums
        GROUP BY pos
      ) total
    )
    SELECT
      grp AS label_group,
      {cnt("n", "n_vectors")},
      {dbl(mean_cos, "mean_pairwise_cos")},
      {dbl("CASE WHEN n >= 1 THEN sqrt(ss) / n ELSE 0.0 END",
           "mean_vector_norm")}
    FROM grouped
    ORDER BY label_group
    """
    return [("_mz_aniso_exp", exp)], tail


def _outlier_docs_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E88 — per-label centroid-distance outliers: every vector's
    # euclidean distance to its OWN label centroid, z-scored within the
    # label, flagged at |z| > 2.5 — the mislabeled/contaminated-vector
    # screen a labeled embedding corpus runs before E12's centroids are
    # trusted (one mislabeled cluster member drags the centroid E34's
    # SemDeDup then prunes against).  Shares E12's per-(label, dim)
    # centroid convention (same avg, same explode layout).
    #
    # Parity: centroids are rounded to 4 dp before distances (so the
    # squared-difference sums run on engine-identical inputs);
    # distances and z-scores round at the usual 4 dp.
    #
    # Scale: the exploded (label, dim) shuffle builds |labels|·d
    # centroid rows (broadcast-sized); the distance pass re-joins them
    # to the exploded vectors on (label, dim) — at 1e9 vectors the
    # centroid frame broadcasts and the distance is a map-side
    # zip_with; the SQL join form here is the oracle-parity layout of
    # the same plan.
    if d == "spark":
        exploded = (
            "SELECT vec_id, label, posexplode(CAST(embedding AS ARRAY<DOUBLE>)) "
            "AS (pos0, v) FROM embeddings"
        )
        pos = "pos0 + 1"
    else:
        exploded = (
            "SELECT vec_id, label, unnest(generate_series(1, len(embedding))) "
            "AS pos0, unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings"
        )
        pos = "pos0"
    ex_sql = f"""
      SELECT vec_id, label, CAST({pos} AS INT) AS dim, v
      FROM ({exploded}) e
    """
    tail = f"""
    WITH cent AS (
      SELECT label, dim, round(avg(v) + {NUDGE}, 4) AS c
      FROM _mz_eo_dims
      GROUP BY label, dim
    ),
    dist AS (
      SELECT
        e.vec_id, e.label,
        round(sqrt(sum((e.v - c.c) * (e.v - c.c))) + {NUDGE}, 4) AS dist
      FROM _mz_eo_dims e
      JOIN cent c ON c.label = e.label AND c.dim = e.dim
      GROUP BY e.vec_id, e.label
    ),
    stats AS (
      SELECT
        label,
        round(avg(dist) + {NUDGE}, 4) AS mu,
        round(coalesce(stddev_samp(dist), 0.0) + {NUDGE}, 4) AS sd
      FROM dist GROUP BY label
    )
    SELECT
      d.vec_id,
      d.label,
      {dbl("d.dist", "centroid_dist")},
      {dbl("CASE WHEN s.sd > 1e-9 THEN (d.dist - s.mu) / s.sd END", "z_score")},
      (CASE WHEN s.sd > 1e-9
            THEN abs(round((d.dist - s.mu) / s.sd + {NUDGE}, 4)) > 2.5
            ELSE FALSE END) AS is_outlier
    FROM dist d JOIN stats s ON s.label = d.label
    ORDER BY d.vec_id
    """
    return [("_mz_eo_dims", ex_sql)], tail


def _rank_agreement_sql(d: str) -> str:
    # E92 — cosine-vs-euclidean RANK agreement per probe: the Spearman
    # ρ between the two metrics' full neighbor rankings, plus top-1
    # agreement — the calibration measurement behind E40's RRF fusion
    # (fusing two rankings only adds information when they DISAGREE
    # somewhere; ρ ≈ 1 means one metric is redundant) and behind every
    # "which metric should the ANN index use" decision.  For unit-norm
    # vectors the two orders coincide exactly; ρ < 1 here measures how
    # far the corpus is from that regime (cf. E16's norm spread).
    # ‖a−b‖² = ‖a‖² + ‖b‖² − 2a·b rides the SAME dot-product kernels
    # as cosine — identical float32→double casts, engine-identical.
    # Rankings order on (rounded score, vec_id) — the E6 rule.
    #
    # Scale: probe panel × corpus (the E6 broadcast layout); rank
    # windows partition per probe, never globally.
    cos = _cos(d, "q.embedding", "e.embedding")
    if d == "spark":
        def dot(a: str, b: str) -> str:
            return (
                f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), "
                f"CAST({b} AS ARRAY<DOUBLE>), (x, y) -> x * y), 0D, "
                f"(acc, x) -> acc + x)"
            )
    else:
        def dot(a: str, b: str) -> str:
            return (
                f"list_dot_product(CAST({a} AS DOUBLE[]), "
                f"CAST({b} AS DOUBLE[]))"
            )
    euc = (
        f"sqrt(greatest({dot('q.embedding', 'q.embedding')}"
        f" + {dot('e.embedding', 'e.embedding')}"
        f" - 2.0 * {dot('q.embedding', 'e.embedding')}, 0.0))"
    )
    return f"""
    WITH scored AS (
      SELECT
        q.vec_id AS probe_id,
        e.vec_id AS nbr_id,
        round({cos} + {NUDGE}, 4) AS cosine,
        round({euc} + {NUDGE}, 4) AS euclid
      FROM embeddings q
      JOIN embeddings e ON e.vec_id <> q.vec_id
      WHERE q.vec_id % {KNN_PROBE_MOD} = 0
    ),
    ranked AS (
      SELECT probe_id,
        CAST(row_number() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, nbr_id) AS DOUBLE)
          AS r_cos,
        CAST(row_number() OVER (PARTITION BY probe_id
                                ORDER BY euclid, nbr_id) AS DOUBLE)
          AS r_euc
      FROM scored
    )
    SELECT
      probe_id,
      {cnt("count(*)", "n_ranked")},
      {dbl(
          "1.0 - 6.0 * sum((r_cos - r_euc) * (r_cos - r_euc))"
          " / nullif(count(*) * (CAST(count(*) AS DOUBLE) * count(*) - 1.0),"
          " 0.0)",
          "spearman_rho",
      )},
      (sum(CASE WHEN r_cos = 1 AND r_euc = 1 THEN 1 ELSE 0 END) = 1)
        AS top1_agree
    FROM ranked
    GROUP BY probe_id
    ORDER BY probe_id
    """


def _label_separation_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E101 — label SEPARATION via E78's sum-vector identity, extended
    # to the between-class term: for label l with unit-vector sum S_l,
    #   within_l  = (‖S_l‖² − n_l) / (n_l(n_l−1))          (E78)
    #   between_l = S_l·(S − S_l) / (n_l(N − n_l))
    # — the EXACT within/between mean cosines (a silhouette-lite) with
    # NO pair join: one normalize, one per-(label, dim) sum, d-length
    # reductions.  E89's kNN purity answers "are neighbors same-
    # label"; this answers the global version — "are the classes cones
    # apart AT ALL" — and separation ≈ 0 predicts E89 failing before
    # any kNN runs.  The scale story is E78's: two hash-aggs where the
    # naive formulation is an N² cartesian.
    #
    # Zero-norm vectors drop; single-vector labels report within 0.0
    # (no pair exists, the dbl convention); between is guarded for a
    # single-label corpus (N = n_l).
    if d == "spark":
        exp = (
            "SELECT vec_id, label, pos0 AS pos, v FROM (SELECT vec_id, "
            "label, posexplode(CAST(embedding AS ARRAY<DOUBLE>)) AS (pos0, v) "
            "FROM embeddings) e"
        )
    else:
        exp = (
            "SELECT vec_id, label, "
            "unnest(generate_series(1, len(embedding))) AS pos, "
            "unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings"
        )
    tail = f"""
    WITH nrm AS (
      SELECT vec_id, sqrt(sum(v * v)) AS n2
      FROM _mz_sep_exp
      GROUP BY vec_id
    ),
    unit AS (
      SELECT e.vec_id, e.label, e.pos, e.v / n.n2 AS u
      FROM _mz_sep_exp e
      JOIN nrm n ON n.vec_id = e.vec_id
      WHERE n.n2 > 0
    ),
    dim_sums AS (
      SELECT label, pos, sum(u) AS s, count(DISTINCT vec_id) AS n_part
      FROM unit
      GROUP BY label, pos
    ),
    tot AS (
      SELECT pos, sum(s) AS ts, sum(n_part) AS tn
      FROM dim_sums GROUP BY pos
    ),
    reduced AS (
      SELECT
        ds.label,
        max(ds.n_part) AS n_l,
        max(t.tn) AS n_all,
        sum(ds.s * ds.s) AS ss_own,
        sum(ds.s * (t.ts - ds.s)) AS cross_dot
      FROM dim_sums ds JOIN tot t ON t.pos = ds.pos
      GROUP BY ds.label
    )
    SELECT
      label,
      {cnt("n_l", "n_vectors")},
      {dbl(
          "CASE WHEN n_l >= 2 THEN (ss_own - n_l)"
          " / (CAST(n_l AS DOUBLE) * (n_l - 1)) ELSE 0.0 END",
          "within_mean_cos",
      )},
      {dbl(
          "CASE WHEN n_all > n_l THEN cross_dot"
          " / (CAST(n_l AS DOUBLE) * (n_all - n_l)) ELSE 0.0 END",
          "between_mean_cos",
      )},
      {dbl(
          "CASE WHEN n_l >= 2 AND n_all > n_l THEN"
          " (ss_own - n_l) / (CAST(n_l AS DOUBLE) * (n_l - 1))"
          " - cross_dot / (CAST(n_l AS DOUBLE) * (n_all - n_l))"
          " ELSE 0.0 END",
          "separation",
      )},
      (round(CASE WHEN n_l >= 2 AND n_all > n_l THEN
          (ss_own - n_l) / (CAST(n_l AS DOUBLE) * (n_l - 1))
          - cross_dot / (CAST(n_l AS DOUBLE) * (n_all - n_l))
          ELSE 0.0 END + {NUDGE}, 4) > 0.05) AS separated
    FROM reduced
    ORDER BY label
    """
    return [("_mz_sep_exp", exp)], tail


def _dim_profile_sql(d: str) -> str:
    # E100 — per-DIMENSION variance profile + effective dimensionality
    # of the embedding space: per dim mean/variance (rogue dims — one
    # coordinate carrying most of the variance — are the usual cause
    # of the anisotropy E78 measures), the share of total variance,
    # and the participation ratio PR = (Σλ)²/Σλ² repeated in-row (the
    # model-free effective-dimension estimate D15's PCA refines with
    # actual eigenvalues; per-dim variances are the diagonal
    # approximation).  Explicit Σ/Σ² variance (C30 discipline) over
    # the exploded (dim, value) frame.
    #
    # Scale: one explode (n·d rows, map-only) → one hash-agg on dim →
    # d-row window math.
    if d == "spark":
        exploded = (
            "SELECT posexplode(CAST(embedding AS ARRAY<DOUBLE>)) AS (pos0, v) "
            "FROM embeddings"
        )
        pos = "pos0 + 1"
    else:
        exploded = (
            "SELECT unnest(generate_series(1, len(embedding))) AS pos0, "
            "unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings"
        )
        pos = "pos0"
    return f"""
    WITH dims AS (
      SELECT CAST({pos} AS BIGINT) AS dim, v FROM ({exploded}) e
    ),
    stats AS (
      SELECT
        dim,
        CAST(count(*) AS DOUBLE) AS n,
        avg(v) AS mu,
        round(greatest(CASE WHEN count(*) <= 1 THEN 0.0
          ELSE (sum(v * v) - sum(v) * sum(v) / count(*)) / (count(*) - 1)
          END, 0.0) + {NUDGE}, 6) AS var_d
      FROM dims
      GROUP BY dim
    ),
    pr AS (
      SELECT *,
        sum(var_d) OVER () AS s1,
        sum(var_d * var_d) OVER () AS s2
      FROM stats
    )
    SELECT
      dim,
      {dbl("mu", "dim_mean")},
      {dbl("var_d", "dim_variance")},
      {dbl("var_d / nullif(s1, 0.0)", "variance_share")},
      {dbl("s1 * s1 / nullif(s2, 0.0)", "participation_ratio")}
    FROM pr
    ORDER BY dim
    """


KNN_CONSISTENCY_K = 5  # neighbors per probe
KNN_PROBE_MOD = 10  # probes = vec_id % 10 = 0 (a 10% deterministic panel)


def _knn_consistency_sql(d: str) -> str:
    # E89 — kNN LABEL CONSISTENCY: for a deterministic 10% probe panel
    # (vec_id % {KNN_PROBE_MOD} = 0), the top-{KNN_CONSISTENCY_K}
    # cosine neighbors' label agreement, rolled per label — the
    # labeled-corpus quality audit behind every "embeddings separate
    # the classes" claim, and the ground-truth side of what E45's
    # recall matrix measures for ANN indexes.  Neighbor ranking on
    # (rounded cosine DESC, vec_id) — the E6 determinism rule.
    #
    # Scale: probe panel × corpus brute scoring (the E6 broadcast
    # layout: panel broadcasts, corpus scan is embarrassingly
    # parallel); per-probe top-k is a rank window partitioned by probe
    # (never global).  At 1e9 vectors the panel rides E20's IVF probes
    # instead — this exact form is the calibration baseline.
    cos = _cos(d, "q.embedding", "e.embedding")
    k = KNN_CONSISTENCY_K
    return f"""
    WITH scored AS (
      SELECT
        q.vec_id AS probe_id,
        q.label AS probe_label,
        e.vec_id AS nbr_id,
        e.label AS nbr_label,
        round({cos} + {NUDGE}, 4) AS cosine
      FROM embeddings q
      JOIN embeddings e ON e.vec_id <> q.vec_id
      WHERE q.vec_id % {KNN_PROBE_MOD} = 0
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY probe_id
                           ORDER BY cosine DESC, nbr_id) AS rk
      FROM scored
    ),
    per_probe AS (
      SELECT
        probe_id,
        probe_label,
        avg(CAST(CASE WHEN nbr_label = probe_label THEN 1 ELSE 0 END AS DOUBLE)) AS purity,
        max(CASE WHEN rk = 1 AND nbr_label = probe_label
                 THEN 1 ELSE 0 END) AS top1_match
      FROM ranked
      WHERE rk <= {k}
      GROUP BY probe_id, probe_label
    )
    SELECT
      probe_label AS label,
      {cnt("count(*)", "n_probes")},
      {dbl("avg(purity)", "mean_purity")},
      {dbl("avg(CAST(top1_match AS DOUBLE))", "top1_accuracy")},
      {dbl("min(purity)", "min_purity")}
    FROM per_probe
    GROUP BY probe_label
    ORDER BY probe_label
    """


def _component_moments_sql(d: str) -> str:
    # E109 — per-label COMPONENT moments of the raw embedding values:
    # mean/std/skewness/kurtosis + min/max/p1/p99 over every scalar in
    # the label's vectors — the table read before fixing E27's uint8
    # quantization range (clip points come from p1/p99; a heavy-tailed
    # kurtosis says per-vector ranges beat a global one) and beside
    # E100's per-DIMENSION variances (same values, orthogonal grain).
    # Moments come from power sums in one explode-agg; centrals derive
    # in closed form with the σ>0 guard.
    if d == "spark":
        exploded = ("SELECT label, explode(CAST(embedding AS ARRAY<DOUBLE>))"
                    " AS v FROM embeddings")
    else:
        exploded = ("SELECT label, unnest(CAST(embedding AS DOUBLE[]))"
                    " AS v FROM embeddings")
    # central moments from raw power sums (exact algebra, one pass)
    n = "CAST(count(*) AS DOUBLE)"
    m = f"sum(v) / {n}"
    s2 = f"sum(v * v) / {n} - ({m}) * ({m})"
    m3 = (f"sum(v * v * v) / {n} - 3.0 * ({m}) * (sum(v * v) / {n})"
          f" + 2.0 * power({m}, 3)")
    m4 = (f"sum(v * v * v * v) / {n} - 4.0 * ({m}) * (sum(v * v * v) / {n})"
          f" + 6.0 * power({m}, 2) * (sum(v * v) / {n}) - 3.0 * power({m}, 4)")
    return f"""
    WITH sized AS ({exploded})
    SELECT
      label,
      {cnt("count(*)", "n_components")},
      {dbl(m, "mean_component")},
      {dbl(f"sqrt(greatest({s2}, 0.0))", "std_component")},
      {dbl(
          f"CASE WHEN {s2} > 1e-24 THEN ({m3}) / power({s2}, 1.5)"
          " ELSE 0.0 END",
          "skewness",
      )},
      {dbl(
          f"CASE WHEN {s2} > 1e-24 THEN ({m4}) / (({s2}) * ({s2})) - 3.0"
          " ELSE 0.0 END",
          "excess_kurtosis",
      )},
      {dbl("min(v)", "min_v")},
      {dbl("max(v)", "max_v")},
      {dbl(_pct_v(d, 0.01), "p01_v")},
      {dbl(_pct_v(d, 0.99), "p99_v")}
    FROM sized
    GROUP BY label
    ORDER BY label
    """


def _pct_v(d: str, p: float) -> str:
    from fiveg_spark.plans.registry import pct

    return pct("v", p, d)


def _label_centroid_matrix_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E106 — pairwise COSINE matrix between label centroids: E101
    # certifies the scalar separation statistic; this ships the full
    # confusion GEOMETRY — which label pairs sit close (the pairs a
    # classifier or an IVF router will confuse first).  The per-
    # (label, dim) centroid frame reduces in one explode-agg and
    # materializes once (self-join + norms re-read it); everything
    # downstream is ≤|labels|·|dims| rows.  Components round to 6 dp
    # before the products (the E75 parity discipline) so both engines
    # multiply identical doubles.
    if d == "spark":
        exploded = (
            "SELECT label, posexplode(CAST(embedding AS ARRAY<DOUBLE>))"
            " AS (pos0, v) FROM embeddings"
        )
        pos = "pos0 + 1"
    else:
        exploded = (
            "SELECT label, unnest(generate_series(1, len(embedding))) AS pos0,"
            " unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings"
        )
        pos = "pos0"
    cent_sql = f"""
      WITH exploded AS ({exploded})
      SELECT
        label,
        CAST({pos} AS INT) AS dim,
        round(avg(v), 6) AS c,
        count(*) AS n_vec
      FROM exploded
      GROUP BY label, CAST({pos} AS INT)
    """
    tail = f"""
    WITH norms AS (
      SELECT label, sqrt(sum(c * c)) AS nrm, max(n_vec) AS n_vec
      FROM _mz_lcm_cent
      GROUP BY label
    ),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b, sum(a.c * b.c) AS dot
      FROM _mz_lcm_cent a
      JOIN _mz_lcm_cent b ON b.dim = a.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT
      {cnt("d.label_a", "label_a")},
      {cnt("d.label_b", "label_b")},
      {cnt("na.n_vec", "n_vectors_a")},
      {cnt("nb.n_vec", "n_vectors_b")},
      {dbl("d.dot / nullif(na.nrm * nb.nrm, 0.0)", "centroid_cosine")}
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    ORDER BY label_a, label_b
    """
    return [("_mz_lcm_cent", cent_sql)], tail




def _source_coherence_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E114 — embedding COHERENCE per document source: the exact mean
    # pairwise cosine within each source via E78's sum-vector identity
    # (Σ_{i≠j} cos = ‖Σ v̂‖² − n over unit vectors — NO pair join at
    # any scale), computed over the documents↔embeddings id join.
    # E78 groups by embedding LABEL; this crosses tables to the
    # CURATION grain: a source whose vectors barely cohere above the
    # corpus base rate is a grab-bag (mixture weighting and SemDeDup
    # both read that), one far above is near-duplicate sprawl.
    #
    # materialized_backed: the exploded (vec, source, dim, v) frame
    # feeds the norm agg and the normalized re-read.
    if d == "spark":
        exp = (
            "SELECT e.vec_id, doc.source, pos0 AS pos, v FROM "
            "(SELECT vec_id, posexplode(CAST(embedding AS ARRAY<DOUBLE>))"
            " AS (pos0, v) FROM embeddings) e "
            "JOIN documents doc ON doc.doc_id = e.vec_id"
        )
    else:
        exp = (
            "SELECT e.vec_id, doc.source, "
            "unnest(generate_series(1, len(e.embedding))) AS pos, "
            "unnest(CAST(e.embedding AS DOUBLE[])) AS v FROM embeddings e "
            "JOIN documents doc ON doc.doc_id = e.vec_id"
        )
    mean_cos = (
        "CASE WHEN n >= 2 THEN (ss - n) / (CAST(n AS DOUBLE) * (n - 1.0)) "
        "ELSE 0.0 END"
    )
    tail = f"""
    WITH nrm AS (
      SELECT vec_id, sqrt(sum(v * v)) AS n2
      FROM _mz_scoh_exp
      GROUP BY vec_id
    ),
    unit AS (
      SELECT e.vec_id, e.source, e.pos, e.v / n.n2 AS u
      FROM _mz_scoh_exp e
      JOIN nrm n ON n.vec_id = e.vec_id
      WHERE n.n2 > 0
    ),
    dims AS (
      SELECT source, pos, sum(u) AS su FROM unit GROUP BY source, pos
    ),
    sums AS (
      SELECT source, sum(su * su) AS ss FROM dims GROUP BY source
    ),
    counts AS (
      SELECT source, count(DISTINCT vec_id) AS n FROM unit GROUP BY source
    )
    SELECT
      c.source,
      {cnt("c.n", "n_vectors")},
      {dbl(mean_cos, "mean_within_cosine")}
    FROM counts c
    JOIN sums s ON s.source = c.source
    ORDER BY c.source
    """
    return [("_mz_scoh_exp", exp)], tail




def _quant_clip_eval_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E115 — GLOBAL-range uint8 quantization clip eval: the E109→E27
    # loop closed as a certified row.  E27 quantizes per-vector (each
    # vector carries its own range); a columnar store wants ONE global
    # range — and E109's heavy tails say minmax ranges waste the code
    # space on outliers.  This scores both candidates (raw min/max vs
    # the p1/p99 clip) on reconstruction error and clipped mass, so
    # the range choice is a measured decision (the UNCLIPPED mean is
    # the readable axis: total mean buries the bulk win under the one
    # huge clip error the strategy deliberately accepts).  Explode once
    # (materialized — the range agg and the scoring both read it);
    # ranges broadcast back; the verdict frame is 2 rows.
    #
    # Determinism: same half-up floor(+0.5) code as E27; step guarded
    # for degenerate ranges.
    if d == "spark":
        exp = ("SELECT explode(CAST(embedding AS ARRAY<DOUBLE>)) AS v"
               " FROM embeddings")
    else:
        exp = ("SELECT unnest(CAST(embedding AS DOUBLE[])) AS v"
               " FROM embeddings")

    def row(name: str, lo: str, hi: str) -> str:
        clip = f"least(greatest(e.v, r.{lo}), r.{hi})"
        step = f"nullif((r.{hi} - r.{lo}) / 255.0, 0.0)"
        code = f"floor(({clip} - r.{lo}) / {step} + 0.5)"
        recon = f"(r.{lo} + {code} * {step})"
        err = f"abs(e.v - coalesce({recon}, r.{lo}))"
        inside = f"e.v >= r.{lo} AND e.v <= r.{hi}"
        return f"""
    SELECT
      '{name}' AS strategy,
      {cnt("count(*)", "n_components")},
      {dbl(f"avg({err})", "mean_abs_err")},
      {dbl(f"avg(CASE WHEN {inside} THEN {err} END)",
           "mean_abs_err_unclipped")},
      {dbl(f"max({err})", "max_abs_err")},
      {dbl(
          f"avg(CAST(CASE WHEN e.v < r.{lo} OR e.v > r.{hi}"
          " THEN 1 ELSE 0 END AS DOUBLE))",
          "clipped_share",
      )}
    FROM _mz_qce_exp e
    CROSS JOIN ranges r"""

    tail = f"""
    WITH ranges AS (
      -- percentile INTERPOLATION differs by ulps between engines and
      -- feeds discontinuous floor(+0.5) code arithmetic: round the
      -- clip bounds first so both engines quantize identical ranges
      -- (min/max are bit-identical and need no rounding)
      SELECT
        min(v) AS lo_mm,
        max(v) AS hi_mm,
        round({pct("v", 0.01, d)} + 1e-9, 6) AS lo_p,
        round({pct("v", 0.99, d)} + 1e-9, 6) AS hi_p
      FROM _mz_qce_exp
    )
    SELECT * FROM (
    {row("a_minmax", "lo_mm", "hi_mm")}
    UNION ALL
    {row("b_p1p99_clip", "lo_p", "hi_p")}
    ) s
    ORDER BY strategy
    """
    return [("_mz_qce_exp", exp)], tail




def _quant_component_clip_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E129 -- PER-COMPONENT uint8 quantization clip eval: the decision
    # E115 left open.  E109's heavy per-component kurtosis says one
    # GLOBAL range wastes the 8-bit code space on whichever component
    # has the widest tails; the columnar fix is one range PER component
    # (still O(d) metadata, unlike E27's per-vector ranges which cost
    # O(n)).  This scores all four candidates -- global/per-component x
    # minmax/p1p99-clip -- on E115's axes (mean abs error, UNCLIPPED
    # mean, max, clipped mass), so "do per-component ranges earn their
    # metadata?" is a measured row, not a hunch.
    #
    # ONE posexplode materializes once and is scored in ONE fused pass:
    # every row joins its <=d-row component range (broadcast) and the
    # 1-row global range, computes all four strategies' errors side by
    # side, and a single aggregate reduces them -- at 100 TB the n*d
    # exploded frame is read once, not once per strategy.  The 4-row
    # verdict unpivots from the 1-row aggregate.  Same half-up floor
    # code and rounded-clip-bound determinism discipline as E115.
    if d == "spark":
        exp = ("SELECT posexplode(CAST(embedding AS ARRAY<DOUBLE>))"
               " AS (pos0, v) FROM embeddings")
        pos = "pos0 + 1"
    else:
        exp = ("SELECT unnest(generate_series(1, len(embedding))) AS pos0, "
               "unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings")
        pos = "pos0"
    exp_sql = f"SELECT CAST({pos} AS BIGINT) AS idx, v FROM ({exp}) e0"

    strategies = (
        ("a_global_minmax", "g.lo_mm", "g.hi_mm"),
        ("b_global_p1p99", "g.lo_p", "g.hi_p"),
        ("c_component_minmax", "c.lo_mm", "c.hi_mm"),
        ("d_component_p1p99", "c.lo_p", "c.hi_p"),
    )

    def err_cols(name: str, lo: str, hi: str) -> str:
        clip = f"least(greatest(e.v, {lo}), {hi})"
        step = f"nullif(({hi} - {lo}) / 255.0e0, 0.0e0)"
        code = f"floor(({clip} - {lo}) / {step} + 0.5e0)"
        recon = f"({lo} + {code} * {step})"
        return (
            f"abs(e.v - coalesce({recon}, {lo})) AS err_{name},\n"
            f"      CASE WHEN e.v >= {lo} AND e.v <= {hi} THEN 1 ELSE 0 END"
            f" AS in_{name}"
        )

    scored = ",\n      ".join(err_cols(n, lo, hi) for n, lo, hi in strategies)
    aggs = ",\n        ".join(
        f"avg(err_{n}) AS m_{n},\n"
        f"        avg(CASE WHEN in_{n} = 1 THEN err_{n} END) AS mu_{n},\n"
        f"        max(err_{n}) AS mx_{n},\n"
        f"        avg(1.0e0 - in_{n}) AS cs_{n}"
        for n, _lo, _hi in strategies
    )
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT '{n}' AS strategy,
      {cnt("n_all", "n_components")},
      {dbl(f"m_{n}", "mean_abs_err")},
      {dbl(f"mu_{n}", "mean_abs_err_unclipped")},
      {dbl(f"mx_{n}", "max_abs_err")},
      {dbl(f"cs_{n}", "clipped_share")}
    FROM _mz_qcc_agg"""
        for n, _lo, _hi in strategies
    )
    # the 1-row aggregate MATERIALIZES (_mz_ stage): the 4-row unpivot
    # references it 4x, and Spark would inline a CTE and re-run the
    # whole scored pass per strategy row
    agg_sql = f"""
    WITH g AS (
      SELECT
        min(v) AS lo_mm, max(v) AS hi_mm,
        round({pct("v", 0.01, d)} + 1e-9, 6) AS lo_p,
        round({pct("v", 0.99, d)} + 1e-9, 6) AS hi_p
      FROM _mz_qcc_exp
    ),
    c AS (
      SELECT idx,
        min(v) AS lo_mm, max(v) AS hi_mm,
        round({pct("v", 0.01, d)} + 1e-9, 6) AS lo_p,
        round({pct("v", 0.99, d)} + 1e-9, 6) AS hi_p
      FROM _mz_qcc_exp GROUP BY idx
    ),
    scored AS (
      SELECT
      {scored}
      FROM _mz_qcc_exp e
      JOIN c ON e.idx = c.idx
      CROSS JOIN g
    )
    SELECT count(*) AS n_all,
      {aggs}
    FROM scored
    """
    tail = f"""
    SELECT * FROM (
{rows}
    ) s
    ORDER BY strategy
    """
    return [("_mz_qcc_exp", exp_sql), ("_mz_qcc_agg", agg_sql)], tail


def _int8_scored_sql(d: str) -> str:
    """One embeddings scan producing BOTH similarity channels per
    candidate: exact float cosine and the cosine computed entirely in
    the dequantized uint8 domain (E27's per-vector scheme — explicit
    half-up floor, s=0 guard — applied to candidates AND the query
    vector).  Rounded to the 4-decimal grid here so the top-k cut
    downstream is deterministic in both engines."""
    if d == "spark":
        arr = "CAST(embedding AS ARRAY<DOUBLE>)"
        mn, mx = "array_min(arr)", "array_max(arr)"
        deq = (
            "transform(arr, x -> mn +"
            " CAST(floor((x - mn) / s + 0.5) AS BIGINT) * s)"
        )
    else:
        arr = "CAST(embedding AS DOUBLE[])"
        mn, mx = "list_min(arr)", "list_max(arr)"
        deq = (
            "list_transform(arr, x -> mn +"
            " CAST(floor((x - mn) / s + 0.5) AS BIGINT) * s)"
        )
    cos_f = _cos(d, "e.arr", "q.qf")
    cos_q = _cos(d, "e.qarr", "q.qq")
    return f"""
    WITH base AS (
      SELECT vec_id, {arr} AS arr FROM embeddings
    ),
    scaled AS (
      SELECT vec_id, arr, {mn} AS mn,
        CASE WHEN {mx} = {mn} THEN 1.0 ELSE ({mx} - {mn}) / 255.0 END AS s
      FROM base
    ),
    deq AS (
      SELECT vec_id, arr, {deq} AS qarr FROM scaled
    ),
    q AS (
      SELECT arr AS qf, qarr AS qq FROM deq WHERE vec_id = 0
    )
    SELECT
      e.vec_id,
      {dbl(cos_f, "cos_float")},
      {dbl(cos_q, "cos_quant")}
    FROM deq e CROSS JOIN q
    WHERE e.vec_id <> 0
    """


def _int8_ann_recall_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E138 — does retrieval quality SURVIVE uint8 quantization?  The
    # r12 verdict's composition ask: E27 (quantization) feeds the E6
    # brute-force ranking and the top-k overlap against the exact float
    # ranking is measured END-TO-END.  Unlike the ann_* boolean rows,
    # EVERY column here is value-certified: the quantize→dequantize→
    # cosine chain is closed-form two-dialect SQL, so both engines
    # compute identical rounded scores, identical top-k cuts, identical
    # recall — a divergence pinpoints the engine, not sketch luck.
    #
    # Scale: ONE corpus scan (the scored frame materializes once, both
    # top-k cuts and the error profile read it); each cut is ORDER BY +
    # LIMIT = TakeOrdered, no global sort, no window.
    tail = f"""
    WITH topf AS (
      SELECT vec_id FROM _mz_i8r_scored
      ORDER BY cos_float DESC, vec_id LIMIT {KNN_K}
    ),
    topq AS (
      SELECT vec_id FROM _mz_i8r_scored
      ORDER BY cos_quant DESC, vec_id LIMIT {KNN_K}
    ),
    h AS (
      SELECT count(*) AS n FROM topf JOIN topq USING (vec_id)
    ),
    err AS (
      SELECT
        count(*) AS n_cand,
        avg(abs(cos_float - cos_quant)) AS mae,
        max(abs(cos_float - cos_quant)) AS maxe
      FROM _mz_i8r_scored
    )
    SELECT
      {cnt(str(KNN_K), "k")},
      {cnt("err.n_cand", "n_candidates")},
      {cnt("h.n", "n_hits")},
      {dbl(f"h.n / {KNN_K}.0", "recall")},
      {dbl("err.mae", "mean_abs_cos_err")},
      {dbl("err.maxe", "max_abs_cos_err")},
      h.n / {KNN_K}.0 >= 0.5 AS recall_ok
    FROM h CROSS JOIN err
    """
    return [("_mz_i8r_scored", _int8_scored_sql(d))], tail


QUERIES = [
    sql_backed("knn_bruteforce", _knn_sql, ("embeddings",)),
    materialized_backed("embedding_outlier_docs", _outlier_docs_parts, ("embeddings",)),
    sql_backed("knn_label_consistency", _knn_consistency_sql, ("embeddings",)),
    sql_backed("metric_rank_agreement", _rank_agreement_sql, ("embeddings",)),
    materialized_backed(
        "hybrid_retrieval_fusion", _hybrid_fusion_parts,
        ("documents", "embeddings"),
    ),
    sql_backed("embedding_truncation_eval", _truncation_eval_sql, ("embeddings",)),
    materialized_backed("index_freshness_audit", _index_freshness_parts, ("embeddings",)),
    sql_backed("rrf_fusion", _rrf_sql, ("embeddings",)),
    sql_backed("embedding_quantization", _quantization_sql, ("embeddings",)),
    sql_backed("embedding_dedup_pairs", _embedding_dedup_sql, ("embeddings",)),
    # oracle = the EXACT pair SQL: at 6 probes the IVF blocking recovers
    # the full exact pair set (pytest-asserted at sf0.001, driver-checked
    # at sf0.01), so the iterative k-means path certifies against the
    # same DuckDB query as the exact variant — recall failures surface
    # as a hash mismatch, not a silent quality drop.
    Query("embedding_dedup_ivf", embedding_dedup_ivf, _embedding_dedup_sql("duckdb")),
    sql_backed("label_centroids", _label_centroids_sql, ("embeddings",)),
    materialized_backed(
        "embedding_anisotropy", _anisotropy_parts, ("embeddings",),

    ),
    sql_backed("embedding_dim_profile", _dim_profile_sql, ("embeddings",)),
    materialized_backed(
        "embedding_label_separation", _label_separation_parts, ("embeddings",),
    ),
    materialized_backed(
        "label_centroid_matrix", _label_centroid_matrix_parts, ("embeddings",),
    ),
    sql_backed("embedding_component_moments", _component_moments_sql,
               ("embeddings",)),
    materialized_backed("source_embedding_coherence", _source_coherence_parts,
                        ("documents", "embeddings")),
    materialized_backed("quantization_clip_eval", _quant_clip_eval_parts,
                        ("embeddings",)),
    materialized_backed("quantization_component_clip_eval",
                        _quant_component_clip_parts, ("embeddings",)),
    # E138 — quantized-domain retrieval recall, end-to-end
    materialized_backed("int8_ann_recall", _int8_ann_recall_parts,
                        ("embeddings",)),
]
