"""foreachBatch streaming heavy-hitters maintenance: the STREAMING
feeder of the frequency-sketch family (E37's Misra-Gries answers the
batch question; this sink keeps a mergeable top-k summary current as
the stream runs, without ever rescanning the fact stream).

Layout: an append-only parquet store with two row kinds per
(event_type, batch_id):

- ``cand`` rows — the batch's per-user counts TRUNCATED to the top
  ``m`` users of each event_type (the SpaceSaving-style partial);
- one ``meta`` row — the batch's total event count and the LARGEST
  count that truncation dropped (``max_dropped``).

Merge-on-read (`read_heavy_hitters`) sums candidate counts per
(type, user) and meta rows per type.  The summary carries the classic
distributed heavy-hitters guarantee (Agarwal et al. 2013, mergeable
summaries): for every user, est ≤ true ≤ est + slack where
slack = Σ_batches max_dropped — a user not kept in a batch had at most
that batch's max_dropped occurrences there.  Any user whose true share
clears θ·N + slack is therefore GUARANTEED present and flagged; the
uncertain band is visible as (est, est + slack).

Idempotence: identical recipe to sketch_sink.py — foreachBatch replays
a batch with the SAME batch_id after a crash; the writer reads the
store's max batch_id (single tiny column) and skips batches at or
below it.

Compaction (`compact`) merges candidates by key and meta by type; with
``retruncate_m`` it re-applies the top-m cut and FOLDS the largest
dropped merged count into slack — the true SpaceSaving merge, so the
bound survives arbitrarily many compactions and the store stays
O(|types|·m) rows forever.

Scale: each micro-batch shuffles only its own (type, user) counts
(map-side combine); the store is read one column at write time and
|types|·m + |types|·|batches| rows at read time.  At 100 TB of facts
the summary stays KBs — the asymmetry that makes the family work.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fiveg_spark.streaming.store_guard import partial_sink, rewrite

HH_M = 16  # per-batch candidates kept per event_type


def foreach_batch_heavy(path: str, m: int = HH_M) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` appending per-(event_type) truncated
    heavy-hitter partials for each micro-batch."""

    def heavy_partial(batch_df: DataFrame) -> DataFrame:
        counts = batch_df.groupBy("event_type", "user_id").agg(
            F.count("*").alias("cnt")
        )
        ranked = counts.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(
                    F.desc("cnt"), F.asc("user_id")
                )
            ),
        ).localCheckpoint()  # referenced by kept AND dropped AND totals
        kept = ranked.filter(F.col("rk") <= m).select(
            "event_type",
            "user_id",
            "cnt",
            F.lit(0).cast("long").alias("max_dropped"),
            F.lit("cand").alias("kind"),
        )
        meta = (
            ranked.groupBy("event_type")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.coalesce(
                    F.max(F.when(F.col("rk") > m, F.col("cnt"))), F.lit(0)
                ).alias("max_dropped"),
            )
            .select(
                "event_type",
                F.lit(None).cast("long").alias("user_id"),
                F.col("cnt").cast("long"),
                F.col("max_dropped").cast("long"),
                F.lit("meta").alias("kind"),
            )
        )
        return kept.unionByName(meta)

    return partial_sink(path, heavy_partial)


def read_heavy_hitters(
    spark: SparkSession, path: str, k: int = 10
) -> DataFrame:
    """Merge-on-read: top-k estimated heavy users per event_type with
    the (est, est + slack) uncertainty band from the meta rows."""
    store = spark.read.parquet(path)
    cand = (
        store.filter(F.col("kind") == "cand")
        .groupBy("event_type", "user_id")
        .agg(F.sum("cnt").alias("est_count"))
    )
    meta = (
        store.filter(F.col("kind") == "meta")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n_total"),
            F.sum("max_dropped").alias("slack"),
        )
    )
    joined = cand.join(F.broadcast(meta), "event_type")
    ranked = joined.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("est_count"), F.asc("user_id")
            )
        ),
    )
    return (
        ranked.filter(F.col("rk") <= k)
        .select(
            "event_type",
            F.col("rk").cast("long").alias("rnk"),
            "user_id",
            F.col("est_count").cast("long"),
            (F.col("est_count") + F.col("slack")).cast("long").alias("upper_count"),
            F.col("n_total").cast("long"),
            (F.col("est_count") / F.col("n_total")).alias("est_share"),
        )
        .orderBy("event_type", "rnk")
    )


def compact(
    spark: SparkSession, path: str, retruncate_m: int | None = None
) -> None:
    """Collapse the store: candidates merged by (type, user), meta by
    type, the replay watermark (max batch_id) preserved on every row.
    With ``retruncate_m``, re-apply the top-m cut and fold the largest
    dropped merged count into slack (the SpaceSaving merge — the bound
    survives and the store is O(|types|·m) rows)."""
    store = spark.read.parquet(path)
    wm = store.agg(F.max("batch_id")).head()[0]
    cand = (
        store.filter(F.col("kind") == "cand")
        .groupBy("event_type", "user_id")
        .agg(F.sum("cnt").alias("cnt"))
    )
    meta = (
        store.filter(F.col("kind") == "meta")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("max_dropped").alias("max_dropped"),
        )
    )
    if retruncate_m is not None:
        ranked = cand.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(
                    F.desc("cnt"), F.asc("user_id")
                )
            ),
        ).localCheckpoint()
        cand = ranked.filter(F.col("rk") <= retruncate_m).drop("rk")
        folded = ranked.groupBy("event_type").agg(
            F.coalesce(
                F.max(F.when(F.col("rk") > retruncate_m, F.col("cnt"))),
                F.lit(0),
            ).alias("fold")
        )
        meta = (
            meta.join(folded, "event_type", "left")
            .withColumn(
                "max_dropped",
                F.col("max_dropped") + F.coalesce(F.col("fold"), F.lit(0)),
            )
            .drop("fold")
        )
    new_cand = cand.select(
        "event_type",
        "user_id",
        F.col("cnt").cast("long"),
        F.lit(0).cast("long").alias("max_dropped"),
        F.lit("cand").alias("kind"),
        F.lit(wm).cast("long").alias("batch_id"),
    )
    new_meta = meta.select(
        "event_type",
        F.lit(None).cast("long").alias("user_id"),
        F.col("cnt").cast("long"),
        F.col("max_dropped").cast("long"),
        F.lit("meta").alias("kind"),
        F.lit(wm).cast("long").alias("batch_id"),
    )
    rewrite(path, new_cand.unionByName(new_meta))
