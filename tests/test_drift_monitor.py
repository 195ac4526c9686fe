"""Streaming PSI drift monitor: reference fit, per-batch scoring of
shifted vs stationary streams, new-key alerting, and the wired
availableNow end-to-end run."""

from __future__ import annotations

from fiveg_spark.streaming.drift_monitor import (
    fit_reference,
    foreach_batch_psi,
)

SCHEMA = "k STRING, v DOUBLE"


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _ramp(k, lo, n):
    return [(k, float(lo + i)) for i in range(n)]


def test_psi_monitor_scores_shift_and_stationarity(spark, tmp_path):
    ref_df = _frame(spark, _ramp("a", 0, 100) + _ramp("b", 0, 100))
    ref = fit_reference(ref_df, "k", "v")
    assert set(ref) == {"a", "b"}
    assert ref["a"]["lo"] == 0.0 and ref["a"]["hi"] == 99.0

    path = str(tmp_path / "metrics")
    score = foreach_batch_psi(ref, path, "k", "v")

    # batch 0: 'a' drawn from the SAME range (stationary), 'b' shifted
    # entirely above the reference range (all rows clamp to the top bin)
    score(_frame(spark, _ramp("a", 0, 100) + _ramp("b", 1000, 100)), 0)
    got = {
        (r["batch_id"], r["key"]): r.asDict()
        for r in spark.read.parquet(path).collect()
    }
    assert not got[(0, "a")]["drifted"]
    assert got[(0, "a")]["psi"] < 0.05
    assert got[(0, "b")]["drifted"]
    assert got[(0, "b")]["psi"] > 1.0
    assert got[(0, "b")]["n_rows"] == 100

    # batch 1: a NEW key (absent from the reference) scores against the
    # uniform reference -> concentrated data shows up as drift
    score(_frame(spark, [("new", 5.0)] * 50), 1)
    got = {
        (r["batch_id"], r["key"]): r.asDict()
        for r in spark.read.parquet(path).collect()
    }
    assert got[(1, "new")]["drifted"]


def test_psi_monitor_streaming_end_to_end(spark, tmp_path):
    ref = fit_reference(_frame(spark, _ramp("a", 0, 100)), "k", "v")
    src = str(tmp_path / "src")
    _frame(spark, _ramp("a", 500, 50)).write.parquet(src)

    path = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_psi(ref, path, "k", "v")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1
    assert rows[0]["key"] == "a" and rows[0]["drifted"]
