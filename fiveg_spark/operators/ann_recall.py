"""Driver-certified ANN recall: per-method rows + the full matrix
(SURVEY §2 E45; certifies the E7 LSH → E20 IVF → E38 PQ → D12 MLlib
BRP ladder).

The ANN ladder returns approximate top-k lists that no SQL oracle can
reproduce — the raw top-k surfaces stay pinned by recall-vs-bruteforce
pytests at sf0.001.  These queries lift that evidence to DRIVER scale:
each runs an ANN method AND the exact brute-force top-k in one plan,
computes recall against the exact id set, and emits a row with the
tolerance-boolean the driver can hash-certify (the approx_variants
pattern: Spark checks ITS OWN approximation, the oracle states the
invariant).  ``ann_recall_matrix`` covers all four methods in one
plan; the ``ann_*_recall`` twins give each method its own driver hash
stamp so a single method regressing is attributable from CORRECTNESS
alone.

recall_ok threshold = 0.5, the same bound the pytests enforce; measured
recalls on this corpus are 0.6-1.0 across methods and scale factors, so
a regression below the bound is a real quality break, not noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.plans.plan_ledger import note_precollect
from fiveg_spark.plans.registry import Query

K = 10
RECALL_FLOOR = 0.5


def _methods():
    from fiveg_spark.ml.mllib_models import mllib_ann_topk
    from fiveg_spark.operators.ann_ivf import ann_ivf
    from fiveg_spark.operators.ann_lsh import ann_lsh
    from fiveg_spark.operators.ann_pq import ann_pq

    return {
        "ivf": ann_ivf,
        "lsh": ann_lsh,
        "mllib_brp": mllib_ann_topk,
        "pq": ann_pq,
    }


def _exact_topk_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.operators.similarity import _knn_sql
    from fiveg_spark.plans.registry import ensure_views

    ensure_views(spark, ("embeddings",), sf_dir)
    return spark.sql(_knn_sql("spark")).select("vec_id")


def _recall_row(spark: SparkSession, sf_dir: str, name: str, fn, exact: DataFrame) -> DataFrame:
    """One certification row for one ANN method: recall of its top-k id
    set vs the exact brute-force set (broadcast: k rows).

    ``approx`` is localCheckpoint'd: it is a K-row id frame referenced
    twice (n_returned agg + hits join) whose subtree is the method's
    whole ANN pipeline — without the checkpoint Spark re-inlines the
    pipeline per reference and the embeddings table is scanned twice
    per method (r14, verdict item 8)."""
    approx = fn(spark, sf_dir).select("vec_id").localCheckpoint()
    hits = approx.join(F.broadcast(exact), "vec_id")
    return (
        approx.agg(
            F.lit(name).alias("method"),
            F.lit(K).cast("long").alias("k"),
            F.count("*").alias("n_returned"),
        )
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "method",
            "k",
            "n_returned",
            (F.col("n_hits") / F.col("k") >= RECALL_FLOOR).alias("recall_ok"),
        )
    )


def ann_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # K-row frame read by all 4 method rows; checkpointed so the exact
    # brute-force knn subtree runs once, not once per broadcast (r14)
    exact = _exact_topk_ids(spark, sf_dir).localCheckpoint()
    summaries = [
        _recall_row(spark, sf_dir, name, fn, exact)
        for name, fn in _methods().items()
    ]
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionByName(s)
    return out.orderBy("method")


def _method_query(method: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # exact is consumed ONCE here (single broadcast) — no
        # checkpoint, per the r13 single-consumer fold rule
        exact = _exact_topk_ids(spark, sf_dir)
        return _recall_row(spark, sf_dir, method, _methods()[method], exact)

    return run


def _row_oracle(method: str) -> str:
    return f"""
    SELECT * FROM (VALUES
      ('{method}', CAST({K} AS BIGINT), CAST({K} AS BIGINT), TRUE)
    ) AS t(method, k, n_returned, recall_ok)
    """


_ANN_RECALL_ORACLE = f"""
SELECT * FROM (VALUES
  ('ivf', CAST({K} AS BIGINT), CAST({K} AS BIGINT), TRUE),
  ('lsh', CAST({K} AS BIGINT), CAST({K} AS BIGINT), TRUE),
  ('mllib_brp', CAST({K} AS BIGINT), CAST({K} AS BIGINT), TRUE),
  ('pq', CAST({K} AS BIGINT), CAST({K} AS BIGINT), TRUE)
) AS t(method, k, n_returned, recall_ok)
ORDER BY method
"""

PROBE_LADDER = (1, 2, 4, 6)  # last rung = ann_ivf.N_PROBE


def probe_ladder_hits(spark: SparkSession, sf_dir: str) -> list[tuple[int, int]]:
    """(n_probe, exact-top-k hits) per rung — ONE fit + ONE assignment;
    the raw measurement behind ann_ivf_probe_ladder's theorem booleans
    (pytest pins these values at sf0.001)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fiveg_spark.operators.ann_ivf import assign_lists, fit_centroids
    from fiveg_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    centroids = fit_centroids(spark, emb)
    centroids_bc = spark.sparkContext.broadcast(centroids)
    assigned = assign_lists(emb, centroids_bc).localCheckpoint()

    q_emb = np.asarray(
        emb.filter(F.col("vec_id") == 0).select("embedding").head()[0],
        dtype=np.float64,
    )
    q_emb = q_emb / (np.linalg.norm(q_emb) + 1e-12)
    d2 = (centroids**2).sum(axis=1) - 2.0 * (centroids @ q_emb)
    order = [int(i) for i in np.argsort(d2)]

    exact = _exact_topk_ids(spark, sf_dir)
    out = []
    for p in PROBE_LADDER:
        cand = note_precollect(assigned.filter(
            F.col("list_id").isin(order[:p]) & (F.col("vec_id") != 0)
        ).select("vec_id").distinct())
        out.append((p, cand.join(F.broadcast(exact), "vec_id").count()))
    return out


def ann_ivf_probe_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E98 — IVF recall-vs-nprobe ladder (minhash_band_curve's ANN
    twin: the measured latency/recall trade-off an operator reads
    before picking nprobe, instead of trusting the default).  ONE
    centroid fit + ONE assignment serve every rung; candidates at
    nprobe=p are the union of the p nearest lists, so the rung sets
    are NESTED and two theorems certify: (1) recall is monotone
    non-decreasing in nprobe — a global-top-k member inside any
    candidate set is always selected (fewer than k vectors outrank it
    anywhere), so recall_p = |top-k ∩ candidates_p|/k; (2) the full-
    probe rung meets E20's certified floor.  Raw per-rung recalls are
    fit-dependent and stay OFF the hashed row (the D6 doctrine); the
    pytest pins them at sf0.001.
    """
    hits = [h for _p, h in probe_ladder_hits(spark, sf_dir)]
    rows = []
    prev = -1
    for p, h in zip(PROBE_LADDER, hits):
        rows.append(
            (
                p,
                K,
                bool(h >= prev),
                bool(p < PROBE_LADDER[-1] or h / K >= RECALL_FLOOR),
            )
        )
        prev = h
    return spark.createDataFrame(
        rows, "n_probe BIGINT, k BIGINT, monotone_ok BOOLEAN, floor_ok BOOLEAN"
    )


_PROBE_LADDER_ORACLE = f"""
SELECT * FROM (VALUES
  {", ".join(f"(CAST({p} AS BIGINT), CAST({K} AS BIGINT), TRUE, TRUE)"
             for p in PROBE_LADDER)}
) AS t(n_probe, k, monotone_ok, floor_ok)
ORDER BY n_probe
"""


RERANK_LADDER = (10, 20, 40, 80)  # ADC shortlist depths; 40 = ann_pq's 4k


def rerank_ladder_hits(spark: SparkSession, sf_dir: str) -> list[tuple[int, int]]:
    """(shortlist_depth, exact-top-k hits) per rung — ONE codebook fit
    + ONE encode + ONE ADC pass; the raw measurement behind
    ann_pq_rerank_ladder's theorem booleans (pytest pins the values at
    sf0.001)."""
    from fiveg_spark.operators.ann_pq import pq_query_adc

    # deepest shortlist once (TakeOrdered — bounded rows to the driver);
    # shallower rungs are PREFIXES of it, so the sets nest by
    # construction and the per-rung hit counts come from one frame.
    # The fit→encode→LUT pipeline is THE shared pq_query_adc — the
    # ladder measures exactly the index the E38-certified method runs.
    deepest = [
        int(r["vec_id"])
        for r in pq_query_adc(spark, sf_dir, query_vec_id=0)
        .orderBy(F.asc("adc_d2"), F.asc("vec_id"))
        .limit(RERANK_LADDER[-1])
        .transform(note_precollect).collect()
    ]
    exact = {int(r["vec_id"]) for r in note_precollect(_exact_topk_ids(spark, sf_dir)).collect()}
    return [
        (s, len(exact.intersection(deepest[:s]))) for s in RERANK_LADDER
    ]


def ann_pq_rerank_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E107 — PQ recall-vs-shortlist ladder (E98's PQ twin: nprobe is
    IVF's knob, the ADC shortlist depth is PQ's — how many
    quantized-distance candidates must the exact reranker rescore to
    recover the true top-k?).  ONE codebook fit + ONE ADC pass serve
    every rung; shallower shortlists are PREFIXES of the deepest, so
    the candidate sets NEST and the two E98 theorems carry over: (1)
    hits are monotone non-decreasing in depth, (2) the deepest rung
    meets the E38-certified recall floor.  Raw per-rung recalls are
    fit-dependent and stay OFF the hashed row (the D6 doctrine); the
    pytest pins them at sf0.001."""
    hits = [h for _s, h in rerank_ladder_hits(spark, sf_dir)]
    rows = []
    prev = -1
    for s, h in zip(RERANK_LADDER, hits):
        rows.append(
            (
                s,
                K,
                bool(h >= prev),
                bool(s < RERANK_LADDER[-1] or h / K >= RECALL_FLOOR),
            )
        )
        prev = h
    return spark.createDataFrame(
        rows, "shortlist BIGINT, k BIGINT, monotone_ok BOOLEAN, floor_ok BOOLEAN"
    )


_RERANK_LADDER_ORACLE = f"""
SELECT * FROM (VALUES
  {", ".join(f"(CAST({s} AS BIGINT), CAST({K} AS BIGINT), TRUE, TRUE)"
             for s in RERANK_LADDER)}
) AS t(shortlist, k, monotone_ok, floor_ok)
ORDER BY shortlist
"""


QUERIES = [
    Query("ann_recall_matrix", ann_recall_matrix, _ANN_RECALL_ORACLE),
    Query(
        "ann_ivf_probe_ladder", ann_ivf_probe_ladder, _PROBE_LADDER_ORACLE,
    ),
    Query(
        "ann_pq_rerank_ladder", ann_pq_rerank_ladder, _RERANK_LADDER_ORACLE,
    ),
    # per-method driver stamps (the raw ann_*_topk / mllib_ann_topk
    # top-k surfaces stay pytest-pinned)
    Query("ann_lsh_recall", _method_query("lsh"), _row_oracle("lsh")),
    Query("ann_ivf_recall", _method_query("ivf"), _row_oracle("ivf")),
    Query("ann_pq_recall", _method_query("pq"), _row_oracle("pq")),
    Query(
        "mllib_ann_recall",
        _method_query("mllib_brp"),
        _row_oracle("mllib_brp"),
    ),
]
