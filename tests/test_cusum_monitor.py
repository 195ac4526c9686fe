"""Streaming CUSUM monitor: accumulation across batches catches a
persistent sub-threshold shift, stationary batches stay quiet, replay
is a no-op, and the wired availableNow e2e runs."""

from __future__ import annotations

from fiveg_spark.streaming.cusum_monitor import (
    fit_reference_stats,
    foreach_batch_cusum,
    read_alarms,
)

SCHEMA = "key STRING, v DOUBLE"


def _frame(spark, key, vals):
    return spark.createDataFrame([(key, float(v)) for v in vals], SCHEMA)


def _ref(spark):
    # reference: mean 10, sd ~1 per key
    vals = [8.5, 9.0, 9.5, 10.0, 10.0, 10.5, 11.0, 11.5]
    return fit_reference_stats(
        _frame(spark, "a", vals).union(_frame(spark, "b", vals)), "key", "v"
    )


def test_cusum_accumulates_small_shift_and_ignores_stationary(spark, tmp_path):
    path = str(tmp_path / "cusum")
    ref = _ref(spark)
    sink = foreach_batch_cusum(path, ref, "key", "v")

    # key a: persistent +0.8-sigma shift per batch (tiny per-batch z,
    # PSI-invisible); key b: stationary at the reference mean
    for b in range(6):
        batch = _frame(spark, "a", [10.8] * 4).union(_frame(spark, "b", [10.0] * 4))
        sink(batch, b)

    alarms = {r["key"] for r in read_alarms(spark, path).collect()}
    assert alarms == {"a"}  # accumulated across batches
    metrics = spark.read.parquet(f"{path}/metrics")
    a_rows = sorted(
        (r["batch_id"], r["s_pos"]) for r in metrics.filter("key = 'a'").collect()
    )
    # s_pos grows monotonically until the alarm fires
    first_alarm = min(
        r["batch_id"] for r in metrics.filter("key = 'a' AND alarm").collect()
    )
    grows = [s for b, s in a_rows if b <= first_alarm]
    assert grows == sorted(grows) and grows[0] > 0
    assert not [r for r in metrics.filter("key = 'b'").collect() if r["alarm"]]


def test_cusum_replay_is_noop_and_state_resets_after_alarm(spark, tmp_path):
    path = str(tmp_path / "cusum")
    ref = _ref(spark)
    sink = foreach_batch_cusum(path, ref, "key", "v")

    big = _frame(spark, "a", [30.0] * 9)  # huge z -> immediate alarm
    sink(big, 0)
    assert read_alarms(spark, path).count() == 1
    state = spark.read.parquet(f"{path}/state").collect()
    (row,) = [r for r in state if r["key"] == "a"]
    assert row["s_pos"] == 0.0  # post-alarm restart persisted

    # replaying batch 0 must change nothing
    sink(big, 0)
    assert read_alarms(spark, path).count() == 1
    assert spark.read.parquet(f"{path}/state").count() == len(state)


def test_cusum_streaming_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    path = str(tmp_path / "cusum")
    ckpt = str(tmp_path / "ckpt")
    ref = _ref(spark)

    _frame(spark, "a", [12.0] * 8).write.mode("append").parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_cusum(path, ref, "key", "v")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    metrics = spark.read.parquet(f"{path}/metrics").collect()
    assert metrics and all(r["key"] == "a" for r in metrics)
    # a +2-sigma batch of 8 rows has z ~ 5.7: immediate alarm
    assert any(r["alarm"] for r in metrics)


def test_cusum_state_compaction_bounds_store_and_keeps_watermark(
    spark, tmp_path
):
    import datetime as dt

    from fiveg_spark.streaming.cusum_monitor import (
        compact_state,
        fit_reference_stats,
        foreach_batch_cusum,
    )

    def _batch(vals):
        t = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(i, t, "k1", float(v)) for i, v in enumerate(vals)],
            "event_id BIGINT, ts TIMESTAMP, key STRING, value DOUBLE",
        )

    ref = fit_reference_stats(_batch([10.0, 11.0, 9.0, 10.0] * 5), "key", "value")
    path = str(tmp_path / "cusum")
    sink = foreach_batch_cusum(path, ref, "key", "value")
    for b in range(6):
        sink(_batch([10.0 + (b % 2) * 0.2] * 8), b)
    state_dir = f"{path}/state"
    assert spark.read.parquet(state_dir).count() == 6  # append-only

    before = (
        spark.read.parquet(state_dir)
        .orderBy("batch_id", ascending=False)
        .head()
        .asDict()
    )
    compact_state(spark, path)
    rows = spark.read.parquet(state_dir).collect()
    assert len(rows) == 1  # one key -> one current row
    assert rows[0]["s_pos"] == before["s_pos"]
    assert rows[0]["batch_id"] == 5  # watermark survived

    # replaying batch 5 after compaction is still a no-op...
    sink(_batch([99.0] * 8), 5)
    assert spark.read.parquet(state_dir).count() == 1
    # ...and a genuinely new batch continues the recursion
    sink(_batch([10.1] * 8), 6)
    assert spark.read.parquet(state_dir).count() == 2
