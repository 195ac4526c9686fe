"""foreachBatch streaming vector-index maintenance (SURVEY §2 B24):
keep the persisted IVF index CURRENT as embeddings stream in, without
ever refitting per batch.

The batch side already treats the index as an artifact (E20: centroids
persist as parquet, bit-exact reload); this sink closes the loop for a
live corpus — each micro-batch assigns its vectors to the FROZEN
persisted centroids (one broadcast matmul per Arrow batch, the
`assign_lists` discipline) and appends posting rows.  Retrieval then
probes the streamed postings exactly as it probes batch-built lists,
and the E63 query-side path works unchanged over a growing corpus.

Update semantics: a re-ingested vec_id supersedes its earlier posting
(merge-on-read keeps the row from the HIGHEST batch_id — embeddings
get re-encoded when upstream models change, and the index must follow
without a rebuild).  Replay safety is the shared max-batch_id
watermark; a crash-raced duplicate append collapses in the same
latest-batch dedup.

``index_health`` reads the maintenance signals off the postings alone:
per-list size (imbalance ratio = probe-cost skew) and mean
vector-to-centroid cosine — the DRIFT signal: as the live distribution
walks away from the frozen centroids, assignment cosines sink, and
D48's one-Lloyd-step audit (index_freshness_audit) quantifies what a
refit would move.  Together they decide WHEN to rebuild; this sink
makes sure the index never lies in the meantime.

Scale: per batch one mapInPandas over batch rows (k·dim broadcast),
one append of |batch| posting rows; reads touch postings only.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fiveg_spark.streaming.store_guard import partial_sink, rewrite

_POSTING_SCHEMA = "vec_id long, label int, list_id int, cos double"


def _assign_with_cos(emb: DataFrame, centroids_bc) -> DataFrame:
    """The `assign_lists_multi` n_assign=1 kernel, additionally
    emitting the assignment cosine (unit centroids × unit vectors:
    the euclidean argmin IS the cosine argmax — same discipline)."""

    def assign(batches):
        C = centroids_bc.value  # (k, dim), unit rows
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            X = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
            sims = X @ C.T
            best = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "label": pdf["label"].values,
                    "list_id": best.astype(np.int32),
                    "cos": sims[np.arange(len(X)), best],
                }
            )

    return emb.mapInPandas(assign, schema=_POSTING_SCHEMA)


def foreach_batch_index(
    path: str, centroids_path: str
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` appending posting rows against the
    persisted centroids (loaded once, broadcast once)."""
    state: dict = {}

    def postings(batch_df: DataFrame) -> DataFrame:
        if "bc" not in state:
            from fiveg_spark.operators.ann_ivf import load_centroids

            spark = batch_df.sparkSession
            state["bc"] = spark.sparkContext.broadcast(
                load_centroids(spark, centroids_path)
            )
        return _assign_with_cos(batch_df, state["bc"])

    return partial_sink(path, postings)


def read_postings(spark: SparkSession, path: str) -> DataFrame:
    """Current postings: one row per vec_id, the HIGHEST batch_id wins
    (re-encoded vectors supersede; crash duplicates collapse here too
    — ties break on list_id for full determinism)."""
    w = Window.partitionBy("vec_id").orderBy(
        F.col("batch_id").desc(), F.col("list_id")
    )
    return (
        spark.read.parquet(path)
        .withColumn("rk", F.row_number().over(w))
        .where("rk = 1")
        .drop("rk")
    )


def index_health(spark: SparkSession, path: str) -> DataFrame:
    """Per-list maintenance signals from postings alone: size, mean
    assignment cosine (the drift gauge), plus the global imbalance
    ratio (max/median list size) repeated per row."""
    lists = read_postings(spark, path).groupBy("list_id").agg(
        F.count("*").alias("n_vectors"),
        F.avg("cos").alias("mean_cos"),
    )
    stats = lists.agg(
        F.max("n_vectors").alias("mx"),
        F.expr("percentile(n_vectors, 0.5)").alias("med"),
    )
    return lists.crossJoin(F.broadcast(stats)).select(
        "list_id",
        "n_vectors",
        "mean_cos",
        (F.col("mx") / F.greatest(F.col("med"), F.lit(1.0))).alias(
            "imbalance_ratio"
        ),
    )


def compact(spark: SparkSession, path: str) -> None:
    """Collapse superseded/duplicate postings to the current row per
    vec_id, preserving the high-water batch_id per row (the global max
    survives with it)."""
    rewrite(path, read_postings(spark, path))
