"""Streaming lateness monitor (SURVEY §2 B26): the LIVE twin of the
B25 batch profile — every micro-batch's event times are scored against
the running event-time frontier (the quantity Structured Streaming's
watermark is derived from), and the lateness metrics land in a store,
so an operator can see "is our `withWatermark` delay still safe"
WITHOUT replaying history through the batch profile.

Per batch the monitor appends ONE row:
  (batch_id, n_rows, min_es, max_es, frontier_es,
   late_share_{W}s per candidate W, p95_behind_s)
where `frontier_es` is the max event time seen in PRIOR batches (read
from the store — the max-batch_id/high-water recipe every sink here
uses) and `behind = frontier_es − es` is each row's distance behind
the frontier.  A row with behind > W is exactly a row the engine
would drop under `withWatermark(W)` — measured live, per batch.

Replay safety: a batch_id at or below the store's HIGH-WATER mark is
a NO-OP (the B17-family recipe — a plain seen-set would forget
replayed ids once `compact` collapses history), so crash/retry or a
restored-checkpoint replay cannot double-count lateness.  `compact`
collapses history to one summary row while PRESERVING the frontier
and the high-water batch_id; the pooled late shares survive exactly,
while p95_behind_s degrades to the max over batches — a conservative
UPPER BOUND, which is the safe direction for a "is the watermark
still safe" readout.  `recommended_watermark` answers the deployment
question from store rows alone: the smallest candidate W whose pooled
late share clears the target.

Scale: per batch the work is one aggregate over the batch (map-side
partials; the frontier is a broadcast scalar).  The scorer caches the
(frontier, high-water) pair in its closure — the store is read ONCE on
the first batch, then the cache advances from each batch's own
max_es/batch_id, so per-batch driver work stays O(batch) no matter how
many rows the store has accumulated.  The store grows one row per
batch and compacts to O(1).

Reference scope: beyond-reference production surface — the reference
hardcodes a 10 s watermark (KafkaKpiPipeline.scala:69-80); this
measures, continuously, what the delay should be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.operators.lateness import WATERMARK_LADDER
from fiveg_spark.streaming.store_guard import has_parquet, rewrite

LATE_TARGET = 0.01  # recommended_watermark: pooled late share <= this


def _store_schema() -> str:
    lates = ", ".join(f"late_share_{w}s DOUBLE" for w in WATERMARK_LADDER)
    return (
        "batch_id LONG, n_rows LONG, min_es DOUBLE, max_es DOUBLE, "
        f"frontier_es DOUBLE, {lates}, p95_behind_s DOUBLE"
    )


def _read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """None means "no store yet" — the directory is missing or holds
    no parquet data files.  A store that EXISTS but cannot be read
    raises: swallowing the error here would silently bypass the
    high-water replay guard (the scorer would treat the stream as
    fresh, re-score replayed batches, and record forced-0.0 first-batch
    shares), corrupting the pooled statistics.  Failing the batch lets
    the stream retry once the store is readable again."""
    if not has_parquet(path):
        return None
    return spark.read.schema(_store_schema()).parquet(path)


def _frontier_and_high_water(
    spark: SparkSession, path: str
) -> tuple[float | None, int | None]:
    store = _read_store(spark, path)
    if store is None:
        return None, None
    row = store.agg(
        F.max("max_es").alias("f"),
        F.max("batch_id").alias("hw"),
    ).head()
    return (
        (float(row["f"]) if row["f"] is not None else None),
        (int(row["hw"]) if row["hw"] is not None else None),
    )


def foreach_batch_lateness(path: str, ts_col: str = "ts"):
    """Build the foreachBatch scorer over a stream with event-time
    column ``ts_col``.

    The (frontier, high-water) pair is cached in the closure: the
    store is aggregated once on the first scored batch, after which
    the cache advances from each batch's own max_es/batch_id.  The
    cache stays valid across ``compact`` runs because compaction
    preserves exactly those two quantities."""

    cache: dict[str, object] = {"loaded": False}

    def score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if not cache["loaded"]:
            cache["frontier"], cache["high_water"] = (
                _frontier_and_high_water(spark, path)
            )
            cache["loaded"] = True
        frontier = cache["frontier"]
        high_water = cache["high_water"]
        if high_water is not None and int(batch_id) <= high_water:
            # replayed batch (including ids below a compacted
            # high-water mark): its lateness is already pooled
            return

        es = (F.unix_micros(F.col(ts_col)).cast("double") / 1e6)
        df = batch_df.select(es.alias("es"))
        if frontier is None:
            # first batch: no frontier yet — nothing can be late
            aggs = df.agg(
                F.count("*").alias("n_rows"),
                F.min("es").alias("min_es"),
                F.max("es").alias("max_es"),
            ).head()
            row = (
                int(batch_id), int(aggs["n_rows"]),
                float(aggs["min_es"]), float(aggs["max_es"]),
                float("-inf"),
                *(0.0 for _ in WATERMARK_LADDER),
                0.0,
            )
        else:
            behind = F.lit(float(frontier)) - F.col("es")
            late_aggs = [
                F.avg(
                    (behind > float(w)).cast("double")
                ).alias(f"late_{w}")
                for w in WATERMARK_LADDER
            ]
            aggs = df.agg(
                F.count("*").alias("n_rows"),
                F.min("es").alias("min_es"),
                F.max("es").alias("max_es"),
                *late_aggs,
                F.percentile(
                    F.greatest(behind, F.lit(0.0)), F.lit(0.95)
                ).alias("p95_behind"),
            ).head()
            row = (
                int(batch_id), int(aggs["n_rows"]),
                float(aggs["min_es"]), float(aggs["max_es"]),
                float(frontier),
                *(float(aggs[f"late_{w}"]) for w in WATERMARK_LADDER),
                float(aggs["p95_behind"]),
            )
        spark.createDataFrame([row], _store_schema()).write.mode(
            "append"
        ).parquet(path)
        # advance the cache only after the append landed — a failed
        # write leaves the cache consistent with the store, so the
        # engine's retry of this batch re-scores it correctly
        max_es = float(aggs["max_es"])
        cache["frontier"] = (
            max_es if frontier is None else max(float(frontier), max_es)
        )
        cache["high_water"] = (
            int(batch_id) if high_water is None
            else max(int(high_water), int(batch_id))
        )

    return score


def lateness_summary(spark: SparkSession, path: str) -> DataFrame:
    """Pooled (row-weighted) late share per candidate watermark, from
    store rows alone."""
    store = _read_store(spark, path)
    if store is None:
        raise FileNotFoundError(path)
    rows = [
        store.agg(
            F.lit(int(w)).alias("watermark_s"),
            (
                F.sum(F.col(f"late_share_{w}s") * F.col("n_rows"))
                / F.sum("n_rows")
            ).alias("pooled_late_share"),
            F.sum("n_rows").alias("n_rows"),
            F.max("max_es").alias("frontier_es"),
            F.max("batch_id").alias("high_water_batch"),
        )
        for w in WATERMARK_LADDER
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("watermark_s")


def recommended_watermark(
    spark: SparkSession, path: str, target: float = LATE_TARGET
) -> int | None:
    """Smallest ladder W whose pooled late share <= target; None when
    even the largest rung drops too much (pick a bigger ladder)."""
    for r in lateness_summary(spark, path).collect():
        if r["pooled_late_share"] is not None and (
            float(r["pooled_late_share"]) <= target
        ):
            return int(r["watermark_s"])
    return None


def compact(spark: SparkSession, path: str) -> None:
    """Collapse history to ONE summary row preserving the pooled
    shares, the frontier, and the high-water batch_id (the replay
    guard is the high-water mark, so it survives compaction — the B17
    doctrine).  p95_behind_s becomes the MAX over batches: the exact
    pooled p95 is not reconstructible from per-batch p95s, and an
    upper bound errs on the safe side for a watermark-safety readout
    (documented in the module header).

    The rewrite goes through ``store_guard.rewrite``: the summary lands
    in a sibling directory and swaps in, so a failed compact keeps the
    store and the high-water batch_id the replay guard depends on."""
    store = _read_store(spark, path)
    if store is None:
        return
    lates = [
        (
            F.sum(F.col(f"late_share_{w}s") * F.col("n_rows"))
            / F.sum("n_rows")
        ).alias(f"late_share_{w}s")
        for w in WATERMARK_LADDER
    ]
    rewrite(
        path,
        store.agg(
            F.max("batch_id").alias("batch_id"),
            F.sum("n_rows").alias("n_rows"),
            F.min("min_es").alias("min_es"),
            F.max("max_es").alias("max_es"),
            F.max("frontier_es").alias("frontier_es"),
            *lates,
            F.max("p95_behind_s").alias("p95_behind_s"),
        ),
    )
