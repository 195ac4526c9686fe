"""Streaming KPI tests (SURVEY §5): micro-batch the events table through
the streaming plan with availableNow + memory sink, and check the
stateful IAT operator against the batch window-function plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fiveg_spark.operators.kpi import packet_view, with_iat
from fiveg_spark.sources.tables import normalize_event_ts
from fiveg_spark.streaming.kpi_stream import streaming_kpi36, with_streaming_iat
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def packet_stream(spark, tmp_path_factory):
    import shutil

    src_dir = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-0.parquet")
    batch = packet_view(spark, SF_DIR)
    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{SF_DIR}/events.parquet").schema
        )
        .parquet(str(src_dir))
        .transform(normalize_event_ts)
    )
    from fiveg_spark.operators.kpi import packet_projection
    from fiveg_spark.plans.registry import json_int

    stream = stream.selectExpr("*", f"{json_int('props', 'k', 'spark')} AS k")
    return stream.selectExpr(*packet_projection("spark")), batch


def _run_to_memory(df, name: str, spark):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stateful_iat_matches_batch_lag(spark, packet_stream):
    stream_pkts, batch_pkts = packet_stream
    got = _run_to_memory(with_streaming_iat(stream_pkts), "iat_stream", spark)
    expected = with_iat(batch_pkts)
    g = {
        (r["slice"], r["flow_id"], r["ts_sec"]): r["iat"]
        for r in got.collect()
    }
    e = {
        (r["slice"], r["flow_id"], r["ts_sec"]): r["iat"]
        for r in expected.collect()
    }
    assert len(g) == len(e)
    diffs = [k for k in e if abs(g[k] - e[k]) > 1e-9]
    assert not diffs, f"{len(diffs)} IAT mismatches, first {diffs[:3]}"


def test_streaming_kpi36_window_agg(spark, packet_stream):
    stream_pkts, batch_pkts = packet_stream
    got = _run_to_memory(
        streaming_kpi36(stream_pkts, window="1 hour", watermark="0 seconds"),
        "kpi_stream",
        spark,
    )
    rows = got.collect()
    assert len(rows) > 0
    cols = set(got.columns)
    assert {"slice", "window_start", "window_end", "Throughput_bps", "IAT_Median",
            "RST_Count", "Coeff_Variation_Size"} <= cols
    assert len(cols) == 3 + 36

    # spot-check one window's streamable aggregates against a batch agg
    batch = (
        with_iat(batch_pkts)
        .withColumn("window_start", F.date_trunc("hour", F.col("ts")))
        .groupBy("slice", "window_start")
        .agg(
            F.expr("sum(pkt_len) * 8").alias("Throughput_bps"),
            F.count("*").alias("Total_Packets"),
            F.expr("avg(iat)").alias("Avg_IAT"),
        )
    )
    b = {
        (r["slice"], r["window_start"]): r
        for r in batch.collect()
    }
    checked = 0
    for r in rows:
        key = (r["slice"], r["window_start"])
        if key in b:
            assert abs(r["Throughput_bps"] - b[key]["Throughput_bps"]) < 1e-6
            assert r["Total_Packets"] == b[key]["Total_Packets"]
            assert abs(r["Avg_IAT"] - b[key]["Avg_IAT"]) < 1e-9
            checked += 1
    assert checked == len(rows) and checked > 100


def test_streaming_dedup_within_watermark(spark, packet_stream, tmp_path):
    from fiveg_spark.streaming.kpi_stream import streaming_dedup

    stream_pkts, batch_pkts = packet_stream
    # duplicate the stream by unioning it with itself: every event_id
    # appears twice; watermark-bounded dedup must collapse them
    doubled = stream_pkts.union(stream_pkts)
    deduped = streaming_dedup(doubled, keys=["event_id"], watermark_col="ts")
    got = _run_to_memory(deduped, "dedup_stream", spark)
    assert got.count() == batch_pkts.count()


def test_streaming_interval_join_matches_batch(spark, tmp_path_factory):
    import shutil

    from fiveg_spark.streaming.kpi_stream import streaming_attribution

    src_dir = tmp_path_factory.mktemp("events_raw_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-0.parquet")
    schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    to_ts = lambda df: df.transform(normalize_event_ts)
    stream = to_ts(spark.readStream.schema(schema).parquet(str(src_dir)))
    got = _run_to_memory(streaming_attribution(stream), "attr_stream", spark)

    # batch oracle: identical join logic on the static frame
    batch = to_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    views = batch.filter(F.col("event_type") == "view").selectExpr(
        "user_id AS view_user", "ts AS view_ts", "event_id AS view_id"
    )
    clicks = batch.filter(F.col("event_type") == "click").selectExpr(
        "user_id AS click_user", "ts AS click_ts", "event_id AS click_id"
    )
    expected = views.join(
        clicks,
        F.expr(
            "view_user = click_user AND click_ts > view_ts"
            " AND click_ts <= view_ts + INTERVAL 1 hour"
        ),
    )
    assert got.count() == expected.count()
    assert got.count() > 0
    g = {(r["view_id"], r["click_id"]) for r in got.collect()}
    e = {(r["view_id"], r["click_id"]) for r in expected.collect()}
    assert g == e


def test_streaming_session_windows(spark, packet_stream):
    from fiveg_spark.streaming.kpi_stream import streaming_sessions

    stream_pkts, batch_pkts = packet_stream
    got = _run_to_memory(
        streaming_sessions(stream_pkts, gap="30 minutes", watermark="0 seconds"),
        "session_stream",
        spark,
    )
    rows = got.collect()
    assert len(rows) > 0
    # append mode only emits sessions CLOSED by the final watermark
    # (= max event time with 0s delay): sessions still open at
    # end-of-stream stay in state.  Compare against exactly the batch
    # sessions whose end <= max ts.
    max_ts = batch_pkts.agg(F.max("ts")).collect()[0][0]
    batch_closed = (
        batch_pkts.groupBy("flow_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("session_window.end") <= max_ts)
    )
    closed_rows = batch_closed.collect()
    assert len(rows) == len(closed_rows)
    assert sum(r["n_events"] for r in rows) == sum(r["n_events"] for r in closed_rows)
    assert batch_pkts.count() - sum(r["n_events"] for r in rows) >= 1  # open tail retained


def test_stream_static_broadcast_enrich(spark, packet_stream):
    from fiveg_spark.streaming.kpi_stream import streaming_enrich

    stream_pkts, batch_pkts = packet_stream
    dim = spark.createDataFrame(
        [("view", 1), ("click", 2), ("purchase", 3)], "event_type STRING, priority INT"
    )
    # slice stands in for event_type in the packet view; join on slice
    dim2 = spark.createDataFrame(
        [(r["slice"], i) for i, r in enumerate(batch_pkts.select("slice").distinct().collect())],
        "slice STRING, priority INT",
    )
    enriched = streaming_enrich(stream_pkts, dim2, on="slice")
    got = _run_to_memory(enriched, "enrich_stream", spark)
    assert got.count() == batch_pkts.count()  # left join preserves rows
    assert got.filter("priority IS NULL").count() == 0  # every slice matched
    # static-side values joined correctly
    exp = {(r["slice"], r["priority"]) for r in dim2.collect()}
    assert {(r["slice"], r["priority"]) for r in got.select("slice", "priority").distinct().collect()} == exp


def test_available_now_incremental_backfill(spark, tmp_path):
    """A12: Trigger.AvailableNow + a persistent checkpoint = incremental
    batch backfill over a streaming plan — each run drains exactly the
    NEW files and stops.  This is the 100 TB catch-up pattern: the same
    windowed-agg plan serves both the live stream and nightly backfills,
    and a re-run after new data lands costs O(delta), not O(history)."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def run_once(batch_df):
        batch_df.write.mode("append").parquet(str(src))
        q = (
            spark.readStream.schema("event_id long, value double")
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    run_once(spark.range(10).selectExpr("id AS event_id", "CAST(id AS DOUBLE) AS value"))
    assert spark.read.parquet(str(out)).count() == 10

    run_once(
        spark.range(10, 15).selectExpr("id AS event_id", "CAST(id AS DOUBLE) AS value")
    )
    result = spark.read.parquet(str(out))
    # second run appended ONLY the 5 new rows (no reprocessing of the 10)
    assert result.count() == 15
    assert result.select("event_id").distinct().count() == 15
