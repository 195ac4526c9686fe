"""Streaming sketch-maintenance sink: per-batch partial HLL appends,
batch-id replay guard, merge-on-read accuracy vs exact, compaction
preserving the replay watermark, and an availableNow end-to-end run."""

from __future__ import annotations

import datetime as dt

from fiveg_spark.streaming.sketch_sink import (
    compact,
    estimate_type_actives,
    foreach_batch_sketch,
    read_daily_sketches,
)

SCHEMA = "event_id BIGINT, ts TIMESTAMP, event_type STRING, user_id BIGINT"


def _events(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _batch(spark, day, typ, users, eid0=0):
    t = dt.datetime(2024, 1, day, 12)
    return _events(
        spark, [(eid0 + i, t, typ, u) for i, u in enumerate(users)]
    )


def test_sketch_sink_merges_batches_and_guards_replay(spark, tmp_path):
    path = str(tmp_path / "sketches")
    sink = foreach_batch_sketch(path)

    sink(_batch(spark, 1, "click", range(0, 100)), 0)
    sink(_batch(spark, 1, "click", range(50, 150), eid0=100), 1)
    sink(_batch(spark, 2, "click", range(0, 30), eid0=200), 2)

    merged = {
        (r["event_type"], r["day"].day): r.asDict()
        for r in read_daily_sketches(spark, path).collect()
    }
    d1 = merged[("click", 1)]
    assert d1["n_events"] == 200  # both partials counted
    assert abs(d1["est_users"] - 150) <= 0.1 * 150  # union, not sum
    assert merged[("click", 2)]["n_events"] == 30

    # replaying an old batch id must be a no-op (crash-recovery path)
    sink(_batch(spark, 1, "click", range(0, 100)), 1)
    again = {
        (r["event_type"], r["day"].day): r.asDict()
        for r in read_daily_sketches(spark, path).collect()
    }
    assert again[("click", 1)]["n_events"] == 200

    # cross-type estimate from sketch rows only
    actives = {
        r["event_type"]: r.asDict()
        for r in estimate_type_actives(spark, path).collect()
    }
    assert abs(actives["click"]["est_users"] - 150) <= 0.1 * 150
    assert actives["click"]["n_days"] == 2


def test_sketch_sink_compaction_keeps_estimates_and_watermark(spark, tmp_path):
    path = str(tmp_path / "sketches")
    sink = foreach_batch_sketch(path)
    sink(_batch(spark, 1, "view", range(0, 80)), 0)
    sink(_batch(spark, 1, "view", range(40, 120), eid0=80), 1)

    before = read_daily_sketches(spark, path).collect()[0].asDict()
    compact(spark, path)
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1  # one row per (type, day)
    after = read_daily_sketches(spark, path).collect()[0].asDict()
    assert after["n_events"] == before["n_events"] == 160
    assert after["est_users"] == before["est_users"]

    # the watermark survived: replaying batch 1 is still a no-op...
    sink(_batch(spark, 1, "view", range(40, 120), eid0=80), 1)
    assert read_daily_sketches(spark, path).collect()[0]["n_events"] == 160
    # ...and a genuinely new batch still lands
    sink(_batch(spark, 1, "view", range(120, 140), eid0=160), 2)
    assert read_daily_sketches(spark, path).collect()[0]["n_events"] == 180


def test_sketch_sink_streaming_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    _batch(spark, 1, "click", range(0, 60)).write.mode("append").parquet(src)
    _batch(spark, 2, "click", range(30, 90), eid0=60).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(foreach_batch_sketch(path))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = {
        r["day"].day: r.asDict()
        for r in read_daily_sketches(spark, path).collect()
    }
    assert sum(r["n_events"] for r in merged.values()) == 120
    actives = estimate_type_actives(spark, path).collect()[0]
    assert abs(actives["est_users"] - 90) <= 0.1 * 90

    # restart with the same checkpoint: no new data -> store unchanged
    q2 = (
        spark.readStream.schema(SCHEMA).parquet(src)
        .writeStream.foreachBatch(foreach_batch_sketch(path))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert sum(
        r["n_events"] for r in read_daily_sketches(spark, path).collect()
    ) == 120
