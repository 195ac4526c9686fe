"""foreachBatch streaming Bloom-filter maintenance (SURVEY §2 B23):
the MEMBERSHIP feeder completing the streaming sketch-sink family —
B17 cardinality (HLL), B20 frequency (SpaceSaving), B21 quantiles
(t-digest), B22 representative rows (bottom-k reservoir), and now
"have we ever seen this id" at a fixed size.

Where the ingestion-dedup sink (B15) answers seen-ness EXACTLY by
storing every content hash, the Bloom store answers it in
|types|·BLOOM_M bits no matter how many ids flow through — the trade
a 100 TB stream forces when the id universe itself no longer fits.
Its one-sided guarantee survives every merge: NO FALSE NEGATIVES (a
present id's k bits were all set by construction; only false
positives are possible, at the fill-ratio-governed rate C71
certifies).

Representation: the DISTINCT (event_type, bit) row set — bit
positions come from the SAME ``bloom_bucket_expr`` as the certified
batch sketch (C71), so the streamed store and the batch sketch
interoperate.  Merging is plain DISTINCT (set union — associative,
commutative, IDEMPOTENT), which makes this the one sink in the family
whose reads need no crash dedup at all: a duplicate append adds the
same rows a DISTINCT collapses.

Idempotence: the shared max-batch_id watermark guard drops replays at
write time (saving the write, not correctness — the union is
idempotent anyway).  ``compact`` collapses history to one row per
(type, bit) at the high-water mark.  Scale: each micro-batch shuffles
only its own distinct (type, bit) partials (≤ |types|·m rows however
large the batch); membership checks and the Swamidass-Baldi
cardinality estimate read bits only, never the stream.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.operators.sketches import BLOOM_K, BLOOM_M, bloom_bucket_expr
from fiveg_spark.streaming.store_guard import partial_sink, rewrite


def _bits_frame(df: DataFrame) -> DataFrame:
    js = ", ".join(str(j) for j in range(BLOOM_K))
    exploded = df.selectExpr(
        "event_type", "user_id", f"explode(array({js})) AS j"
    )
    return exploded.selectExpr(
        "event_type",
        f"{bloom_bucket_expr('user_id', 'j')} AS bit",
    ).distinct()


def foreach_batch_bloom(path: str) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` appending each micro-batch's distinct
    per-type Bloom bits."""
    return partial_sink(path, _bits_frame)


def read_bits(spark: SparkSession, path: str) -> DataFrame:
    """The merged filter: one row per set (event_type, bit)."""
    return spark.read.parquet(path).select("event_type", "bit").distinct()


def check_membership(
    spark: SparkSession, path: str, probes: list[tuple[str, int]]
) -> DataFrame:
    """(event_type, id) probes → maybe_present booleans.  False means
    DEFINITELY never seen (the one-sided guarantee); True means seen
    unless a false positive (rate governed by the fill ratio)."""
    probe_df = spark.createDataFrame(
        probes, "event_type string, probe_id long"
    )
    js = ", ".join(str(j) for j in range(BLOOM_K))
    want = probe_df.selectExpr(
        "event_type", "probe_id", f"explode(array({js})) AS j"
    ).selectExpr(
        "event_type",
        "probe_id",
        f"{bloom_bucket_expr('probe_id', 'j')} AS bit",
    )
    bits = read_bits(spark, path)
    hit = want.join(
        bits.withColumn("present", F.lit(1)),
        ["event_type", "bit"],
        "left",
    )
    return hit.groupBy("event_type", "probe_id").agg(
        (F.count("present") == BLOOM_K).alias("maybe_present")
    )


def estimate_cardinality(spark: SparkSession, path: str) -> DataFrame:
    """Swamidass-Baldi estimate per type from the fill ratio alone:
    n̂ = −(m/k)·ln(1 − X/m)."""
    filled = read_bits(spark, path).groupBy("event_type").agg(
        F.count("*").alias("x")
    )
    return filled.select(
        "event_type",
        "x",
        F.when(F.col("x") >= BLOOM_M, float("inf"))
        .otherwise(
            -(BLOOM_M / BLOOM_K)
            * F.log(1.0 - F.col("x") / float(BLOOM_M))
        )
        .alias("est_distinct"),
    )


def compact(spark: SparkSession, path: str) -> None:
    """Collapse history to one row per (type, bit), preserving the
    high-water batch_id for the replay guard."""
    raw = spark.read.parquet(path)
    top = raw.agg(F.max("batch_id")).head()[0]
    rewrite(
        path,
        raw.select("event_type", "bit")
        .distinct()
        .withColumn("batch_id", F.lit(top).cast("long")),
    )


def cross_check_batch_sketch(spark: SparkSession, path: str, events_view: str = "events") -> bool:
    """Interoperability proof: the streamed store's bit set equals the
    C71 batch derivation over the same rows (shared bucket builder)."""
    js = ", ".join(str(j) for j in range(BLOOM_K))
    batch_bits = spark.sql(
        f"""
        SELECT DISTINCT event_type, {bloom_bucket_expr('t.user_id', 'j.j')} AS bit
        FROM (SELECT DISTINCT event_type, user_id FROM {events_view}) t
        CROSS JOIN (SELECT explode(array({js})) AS j) j
        """
    )
    streamed = read_bits(spark, path)
    return (
        batch_bits.exceptAll(streamed).isEmpty()
        and streamed.exceptAll(batch_bits).isEmpty()
    )
