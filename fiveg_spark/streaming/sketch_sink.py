"""foreachBatch streaming sketch maintenance: the STREAMING feeder of
the mergeable-sketch family (C32 HLL rollup, C67 sliding actives read
daily sketch ROWS — this sink is what keeps those rows current without
ever rescanning the fact stream).

Layout: an append-only parquet store of PARTIAL daily sketches,
one row per (event_type, day, batch_id) with an HLL binary and the
batch's event count.  Consumers merge on read (`read_daily_sketches`:
hll_union_agg + sum per key) — union is associative/commutative, so
append-order and partial granularity never matter, and a periodic
`compact` collapses history into one row per key with the high-water
batch_id preserved.

Idempotence: foreachBatch replays a batch with the SAME batch_id after
a crash; the writer reads the store's max batch_id (single tiny column)
and skips batches at or below it — the standard transactional-sink
recipe (batch ids are monotonic under one checkpoint).  A crash between
append and checkpoint leaves duplicate partials for one batch id at
worst — and the guard drops the replay, while the merge-on-read is
insensitive to the duplicate that raced in (HLL union idempotent; the
count dedups per (key, batch_id) before summing).

Scale: each micro-batch shuffles only its own (type, day) partials
(map-side HLL combine); the store is never read beyond one column at
write time and |keys|·|batches| sketch rows at read time.  At 100 TB
of facts the sketch table stays MBs — that asymmetry is the whole
point of the family.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.streaming.store_guard import partial_sink, rewrite


def foreach_batch_sketch(path: str) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` appending per-(event_type, day) partial
    HLL sketches of ``user_id`` for each micro-batch."""
    return partial_sink(
        path,
        lambda batch_df: batch_df.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        ).agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count("*").alias("n"),
        ),
    )


def read_daily_sketches(spark: SparkSession, path: str) -> DataFrame:
    """Merged view: one row per (event_type, day) with the unioned HLL,
    its estimate, and the exact event count — from sketch rows only."""
    raw = spark.read.parquet(path)
    # a crashed append can leave duplicate partials for one batch id:
    # the sketch union is idempotent, but the count must dedup first
    deduped = raw.groupBy("event_type", "day", "batch_id").agg(
        F.first("sk").alias("sk"), F.max("n").alias("n")
    )
    return deduped.groupBy("event_type", "day").agg(
        F.hll_union_agg("sk").alias("sk"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.sum("n").alias("n_events"),
        F.max("batch_id").alias("last_batch_id"),
    )


def compact(spark: SparkSession, path: str) -> None:
    """Collapse partial history to one row per key, preserving the
    high-water batch_id so the writer's replay guard keeps working."""
    merged = (
        read_daily_sketches(spark, path)
        .select(
            "event_type",
            "day",
            "sk",
            "n_events",
            F.col("last_batch_id").alias("batch_id"),
        )
        .withColumnRenamed("n_events", "n")
    )
    rewrite(path, merged)


def estimate_type_actives(spark: SparkSession, path: str) -> DataFrame:
    """Per-type distinct-user estimate across ALL days — the C32 merge
    shape, answered from the sketch store with zero fact access."""
    raw = spark.read.parquet(path)
    deduped = raw.groupBy("event_type", "day", "batch_id").agg(
        F.first("sk").alias("sk")
    )
    return deduped.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.countDistinct("day").alias("n_days"),
    )
