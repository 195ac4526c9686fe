"""Streaming t-digest sink: per-batch centroid appends, batch-id
replay guard, merge-on-read quantiles inside exact-percentile bands,
crash-duplicate dedup via centroid ids, compaction preserving both the
estimates and the replay watermark, and an availableNow e2e run."""

from __future__ import annotations

import datetime as dt

import numpy as np

from fiveg_spark.streaming.tdigest_sink import (
    compact,
    foreach_batch_tdigest,
    read_daily_quantiles,
)

SCHEMA = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"


def _batch(spark, day, typ, values, eid0=0):
    t = dt.datetime(2024, 1, day, 12)
    return spark.createDataFrame(
        [(eid0 + i, t, typ, float(v)) for i, v in enumerate(values)], SCHEMA
    )


def _assert_in_band(values, est_p50, est_p95):
    v = np.sort(np.asarray(values, dtype=float))
    lo50, hi50 = np.percentile(v, 40), np.percentile(v, 60)
    lo95, hi95 = np.percentile(v, 92), np.percentile(v, 98)
    assert lo50 - 1e-9 <= est_p50 <= hi50 + 1e-9, (est_p50, lo50, hi50)
    assert lo95 - 1e-9 <= est_p95 <= hi95 + 1e-9, (est_p95, lo95, hi95)


def test_tdigest_sink_merges_batches_inside_exact_bands(spark, tmp_path):
    path = str(tmp_path / "digests")
    sink = foreach_batch_tdigest(path)

    # heavy-tailed-ish: two batches of one day draw from different
    # ranges so the merged digest must really combine them
    b0 = [float(i) for i in range(0, 500)]
    b1 = [float(i) for i in range(400, 1500)]
    sink(_batch(spark, 1, "lat", b0), 0)
    sink(_batch(spark, 1, "lat", b1, eid0=500), 1)
    sink(_batch(spark, 2, "lat", [5.0, 6.0, 7.0, 8.0], eid0=9000), 2)

    got = {
        r["day"].day: r.asDict()
        for r in read_daily_quantiles(spark, path).collect()
    }
    assert got[1]["n_events"] == 1600
    _assert_in_band(b0 + b1, got[1]["est_p50"], got[1]["est_p95"])
    assert got[2]["n_events"] == 4

    # replaying an old batch id is a no-op
    sink(_batch(spark, 1, "lat", b0), 1)
    again = {
        r["day"].day: r.asDict()
        for r in read_daily_quantiles(spark, path).collect()
    }
    assert again[1]["n_events"] == 1600
    assert again[1]["est_p50"] == got[1]["est_p50"]


def test_tdigest_sink_crash_duplicate_append_cannot_double_weight(
    spark, tmp_path
):
    path = str(tmp_path / "digests")
    sink = foreach_batch_tdigest(path)
    vals = [float(i) for i in range(200)]
    sink(_batch(spark, 1, "lat", vals), 0)
    before = read_daily_quantiles(spark, path).collect()[0].asDict()

    # simulate the crash race: the SAME append lands twice (the replay
    # guard can't see it — both writers read max batch_id before
    # either wrote); centroid-id dedup must make the reader blind to it
    dup = spark.read.parquet(path).where("batch_id = 0")
    dup.localCheckpoint().write.mode("append").parquet(path)
    after = read_daily_quantiles(spark, path).collect()[0].asDict()
    assert after["n_events"] == before["n_events"] == 200
    assert after["est_p50"] == before["est_p50"]
    assert after["est_p95"] == before["est_p95"]


def test_tdigest_sink_compaction_keeps_estimates_and_watermark(
    spark, tmp_path
):
    path = str(tmp_path / "digests")
    sink = foreach_batch_tdigest(path)
    vals0 = [float(i) for i in range(300)]
    vals1 = [float(i) for i in range(300, 1000)]
    sink(_batch(spark, 1, "lat", vals0), 0)
    sink(_batch(spark, 1, "lat", vals1, eid0=300), 1)

    n_rows_before = spark.read.parquet(path).count()
    compact(spark, path)
    n_rows_after = spark.read.parquet(path).count()
    assert n_rows_after < n_rows_before  # history collapsed

    got = read_daily_quantiles(spark, path).collect()[0].asDict()
    assert got["n_events"] == 1000
    _assert_in_band(vals0 + vals1, got["est_p50"], got["est_p95"])

    # watermark survived: replaying batch 1 is still a no-op...
    sink(_batch(spark, 1, "lat", vals1, eid0=300), 1)
    assert read_daily_quantiles(spark, path).collect()[0]["n_events"] == 1000
    # ...and a genuinely new batch still lands
    sink(_batch(spark, 1, "lat", [2000.0] * 50, eid0=5000), 2)
    got2 = read_daily_quantiles(spark, path).collect()[0].asDict()
    assert got2["n_events"] == 1050
    _assert_in_band(
        vals0 + vals1 + [2000.0] * 50, got2["est_p50"], got2["est_p95"]
    )


def test_tdigest_sink_streaming_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    v0 = [float(i) for i in range(0, 400)]
    v1 = [float(i) for i in range(400, 900)]
    _batch(spark, 1, "lat", v0).write.mode("append").parquet(src)
    _batch(spark, 1, "lat", v1, eid0=400).write.mode("append").parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(foreach_batch_tdigest(path))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = read_daily_quantiles(spark, path).collect()[0].asDict()
    assert got["n_events"] == 900
    _assert_in_band(v0 + v1, got["est_p50"], got["est_p95"])

    # restart on the same checkpoint with no new data: store unchanged
    q2 = (
        spark.readStream.schema(SCHEMA).parquet(src)
        .writeStream.foreachBatch(foreach_batch_tdigest(path))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert read_daily_quantiles(spark, path).collect()[0]["n_events"] == 900


def test_period_drift_from_digests_flags_shift_not_stationary(spark, tmp_path):
    from fiveg_spark.streaming.tdigest_sink import period_drift

    path = str(tmp_path / "digests")
    sink = foreach_batch_tdigest(path)
    # period A = Jan 1-2, period B = Jan 3-4.  "lat" shifts up by 500
    # between periods (KS ~0.5); "cpu" is identically distributed.
    bid = 0
    for day in (1, 2, 3, 4):
        lat = [float(i + (500 if day >= 3 else 0)) for i in range(1000)]
        cpu = [float(i % 100) for i in range(1000)]
        sink(_batch(spark, day, "lat", lat, eid0=day * 10000), bid)
        bid += 1
        sink(_batch(spark, day, "cpu", cpu, eid0=day * 10000 + 5000), bid)
        bid += 1

    got = {
        r["event_type"]: r.asDict()
        for r in period_drift(
            spark, path, ("2024-01-01", "2024-01-02"), ("2024-01-03", "2024-01-04")
        ).collect()
    }
    lat = got["lat"]
    assert lat["n_a"] == 2000 and lat["n_b"] == 2000
    assert abs(lat["ks_distance"] - 0.5) < 0.05
    assert abs(lat["p50_shift"] - 500.0) < 25.0
    assert lat["drifted"] is True
    cpu = got["cpu"]
    assert cpu["ks_distance"] < 0.05
    assert abs(cpu["p50_shift"]) < 5.0
    assert cpu["drifted"] is False
