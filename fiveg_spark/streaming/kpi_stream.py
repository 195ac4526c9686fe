"""Streaming 36-KPI pipeline (SURVEY §2 B6; ref KafkaKpiPipeline.scala:69-176).

Two-stage streaming plan:

1. Per-flow IAT.  The reference uses ``lag`` over a Window — legal only
   in its batch fallback; Structured Streaming rejects non-time window
   functions.  The stream-correct equivalent is keyed state: one state
   row (last event-time seconds) per (slice, flow_id) via
   ``applyInPandasWithState``, emitting each event with its IAT.  State
   is O(#flows) regardless of throughput, partitioned by the group key,
   so at cluster scale state shards with the shuffle.

2. Watermarked tumbling-window aggregation.  Same 36 aggregate
   expressions as the batch flagship (``operators/kpi.py:KPIS``, one
   table for both), with the two adjustments streaming
   semantics force: exact ``count(DISTINCT)`` and exact ``percentile``
   are not incrementally computable in append mode, so the stream uses
   ``approx_count_distinct`` (HLL) and ``percentile_approx`` — the same
   trade the reference makes with ``percentile_approx`` in its streaming
   path (KafkaKpiPipeline.scala:126).

The batch/stream split mirrors the reference's dual path (streaming
query vs computeBatchKPIs): identical KPI names, shared config.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fiveg_spark.operators.kpi import KPIS, kpi_sql

IAT_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("flow_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ts_sec", T.DoubleType()),
        T.StructField("pkt_len", T.DoubleType()),
        T.StructField("protocol", T.StringType()),
        T.StructField("src_port", T.IntegerType()),
        T.StructField("dst_port", T.IntegerType()),
        T.StructField("win_size", T.IntegerType()),
        T.StructField("tcp_flags", T.IntegerType()),
        T.StructField("iat", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("last_ts_sec", T.DoubleType())])

_EVENT_COLS = [f.name for f in IAT_SCHEMA.fields if f.name != "iat"]


def _iat_with_state(
    key, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-(slice, flow) IAT: state carries the last seen event time.

    Within a micro-batch the rows are sorted by event time; across
    batches the state row provides continuity — the streaming analogue
    of ``lag(ts_sec) OVER (PARTITION BY slice, flow_id ORDER BY ts)``.
    """
    last = state.get[0] if state.exists else None
    for pdf in batches:
        pdf = pdf.sort_values("ts_sec", kind="mergesort")
        prev = pdf["ts_sec"].shift(1)
        if last is not None:
            prev.iloc[0] = last
        iat = (pdf["ts_sec"] - prev).fillna(0.0)
        last = float(pdf["ts_sec"].iloc[-1])
        out = pdf[_EVENT_COLS].copy()
        out["iat"] = iat.values
        yield out
    if last is not None:
        state.update((last,))


def with_streaming_iat(packets: DataFrame) -> DataFrame:
    """packet stream → packet stream + ``iat`` column (keyed state)."""
    return packets.groupBy("slice", "flow_id").applyInPandasWithState(
        _iat_with_state,
        outputStructType=IAT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_kpi_aggs() -> list:
    """The 36 KPIs, streaming-safe: the batch table's expressions,
    unrounded, with HLL distincts and an approximate median."""
    return [F.expr(kpi_sql(k, "stream")).alias(k.name) for k in KPIS]


def streaming_kpi36(
    packets: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window 36-KPI stream (append-mode safe)."""
    iat = with_streaming_iat(packets)
    out = (
        iat.withWatermark("ts", watermark)
        .groupBy(F.col("slice"), F.window("ts", window))
        .agg(*streaming_kpi_aggs())
        # withColumn (not select-star) so `slice` is never duplicated —
        # a duplicate survives a memory sink but poisons a parquet sink
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )
    return out.na.fill(0.0)


def streaming_dedup(
    events: DataFrame, keys: list[str], watermark_col: str, delay: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup bounded by the watermark: duplicates of a
    key are dropped as long as they arrive within ``delay`` of the
    original — state is garbage-collected past the watermark, so memory
    is bounded by (throughput × delay), not by stream history."""
    return events.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(keys)


def streaming_attribution(
    events: DataFrame, within: str = "1 hour", watermark: str = "2 hours",
    clicks_stream: DataFrame | None = None,
) -> DataFrame:
    """Stream-stream inner join bounded by an event-time interval: each
    'view' joins the 'click's of the same user that land in
    (view_ts, view_ts + within].  Both sides carry watermarks and the
    join condition bounds event time in BOTH directions, so Spark can
    size the join state to (watermark + within) and GC behind it —
    unbounded-state stream joins never reach production.  Self-joining
    one source stream (filtered two ways) is supported; pass
    ``clicks_stream`` to join two PHYSICALLY separate sources (the
    production topology: views and clicks land on different topics and
    advance their watermarks independently).  State shards by user_id
    with the shuffle."""
    click_src = events if clicks_stream is None else clicks_stream
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("view_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    clicks = click_src.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    return (
        views.withWatermark("view_ts", watermark)
        .join(
            clicks.withWatermark("click_ts", watermark),
            F.expr(
                "view_user = click_user"
                " AND click_ts > view_ts"
                f" AND click_ts <= view_ts + INTERVAL {within}"
            ),
        )
        .select("view_user", "view_id", "view_ts", "click_id", "click_ts")
    )


def streaming_enrich(events: DataFrame, dim: DataFrame, on: str = "event_type") -> DataFrame:
    """Stream-static broadcast join: enrich a stream with a small
    dimension table.  The static side is re-read per micro-batch (so
    dimension updates are picked up) and broadcast — no shuffle touches
    the stream, no state is kept, and the join adds zero watermark
    requirements.  This is the scale path for stream × dimension at
    100 TB/day: the stream stays partition-local."""
    return events.join(F.broadcast(dim), on, "left")


def streaming_sessions(
    packets: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-flow session aggregation on a stream via native session
    windows (dynamic-length state windows closed by the watermark)."""
    return (
        packets.withWatermark("ts", watermark)
        .groupBy(F.col("flow_id"), F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("pkt_len").alias("total_bytes"),
        )
        .select(
            "flow_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_bytes",
        )
    )
