"""foreachBatch streaming reservoir-sample maintenance (SURVEY §2 B22):
a fixed-size uniform row sample per event_type, kept current across an
unbounded stream without ever rescanning it.

Instead of the classical stateful Algorithm R (whose RNG state makes
replays non-deterministic), the reservoir is a BOTTOM-K SKETCH over a
deterministic hash priority: priority = xxhash64(event_id).  Hashing a
unique key is a fixed pseudo-random permutation of the stream, so "the
k rows with the smallest hash" IS a simple random sample of everything
seen — and the estimator inherits the sketch family's algebra:

- mergeable: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)),
  so each micro-batch appends only ITS OWN bottom-k candidates and
  readers fold the store, never the stream;
- replay-idempotent twice over: the shared batch-id guard drops
  replayed batches, and even a crash-raced duplicate append collapses
  under the set semantics (same rows -> same priorities; readers
  dedup on event_id before ranking);
- deterministic: any batching, ordering, or restart of the same
  stream yields the SAME sample — auditable, which a true-RNG
  reservoir is not.

The weighted twin (keep rows ∝ value) is the batch-side E36
Efraimidis-Spirakis operator; this sink is its uniform streaming
complement.

Scale: each micro-batch shuffles only its own per-type bottom-k
(window over the batch, map-side k-truncation via the rank filter);
the store holds ≤ |types|·k·|batches| rows between compactions and
exactly |types|·k after one.  At 100 TB of stream the sample store
stays KBs — readers answer "show me 1000 representative rows" with
zero fact access.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fiveg_spark.streaming.store_guard import partial_sink, rewrite

DEFAULT_K = 100


def _bottom_k(df: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("event_type").orderBy("priority", "event_id")
    return (
        df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def foreach_batch_reservoir(
    path: str, k: int = DEFAULT_K
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` appending each micro-batch's per-type
    bottom-k sample candidates (hash-priority rows)."""
    return partial_sink(
        path,
        lambda batch_df: _bottom_k(
            batch_df.withColumn(
                "priority", F.xxhash64(F.col("event_id").cast("string"))
            ),
            k,
        ),
    )


def read_sample(spark: SparkSession, path: str, k: int = DEFAULT_K) -> DataFrame:
    """The current per-type uniform sample: fold the stored candidates
    (dedup crash duplicates on event_id, then global bottom-k)."""
    raw = spark.read.parquet(path)
    payload = [c for c in raw.columns if c != "batch_id"]
    deduped = (
        raw.groupBy("event_type", "event_id")
        .agg(*[F.first(c).alias(c) for c in payload if c not in
               ("event_type", "event_id")])
        .select(*payload)
    )
    return _bottom_k(deduped, k)


def compact(spark: SparkSession, path: str, k: int = DEFAULT_K) -> None:
    """Collapse candidate history to exactly the current sample.  Every
    kept row is stamped with the store's high-water batch_id so the
    writer's replay guard keeps working even when the newest batch
    contributed no sample row."""
    raw = spark.read.parquet(path)
    top = raw.agg(F.max("batch_id")).head()[0]
    rewrite(
        path,
        read_sample(spark, path, k).withColumn(
            "batch_id", F.lit(top).cast("long")
        ),
    )


def estimate_share(
    spark: SparkSession, path: str, predicate: str, k: int = DEFAULT_K
) -> DataFrame:
    """Per-type share of stream rows satisfying ``predicate``,
    estimated from the sample alone — the 'selectivity without a
    scan' read every sampling store exists for."""
    return (
        read_sample(spark, path, k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sample"),
            F.avg(F.expr(predicate).cast("double")).alias("est_share"),
        )
    )
