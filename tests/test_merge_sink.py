"""foreachBatch upsert sink: merge semantics + replay idempotence.

The foreachBatch function is a plain callable, so batches are driven
directly with literal frames (no broker needed); a memory-source stream
exercises the wired writeStream path end-to-end.
"""

from __future__ import annotations

from fiveg_spark.streaming.merge_sink import foreach_batch_upsert

SCHEMA = "slice STRING, window_start TIMESTAMP, n BIGINT, bytes DOUBLE"


def _rows(spark, rows):
    from datetime import datetime

    rows = [(s, datetime.fromisoformat(t), n, b) for s, t, n, b in rows]
    return spark.createDataFrame(rows, SCHEMA)


def _store(spark, path):
    df = spark.read.parquet(path)
    return {
        (r["slice"], str(r["window_start"])): (r["n"], r["bytes"])
        for r in df.collect()
    }


def test_upsert_merges_and_replays_idempotently(spark, tmp_path):
    path = str(tmp_path / "store")
    merge = foreach_batch_upsert(path)

    t1, t2 = "2024-01-01 10:00:00", "2024-01-01 11:00:00"
    merge(_rows(spark, [("eMBB", t1, 5, 100.0), ("URLLC", t1, 2, 20.0)]), 0)
    # Batch 1 revises (eMBB, t1) and opens (eMBB, t2); URLLC untouched.
    batch1 = _rows(spark, [("eMBB", t1, 9, 180.0), ("eMBB", t2, 1, 10.0)])
    merge(batch1, 1)

    expected = {
        ("eMBB", t1): (9, 180.0),
        ("eMBB", t2): (1, 10.0),
        ("URLLC", t1): (2, 20.0),
    }
    assert _store(spark, path) == expected

    merge(batch1, 1)  # crash-replay of the same batch
    assert _store(spark, path) == expected

    merge(spark.createDataFrame([], SCHEMA), 2)  # empty batch is a no-op
    assert _store(spark, path) == expected


def test_upsert_streaming_end_to_end(spark, tmp_path):
    path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    src_dir = str(tmp_path / "src")
    _rows(
        spark,
        [
            ("eMBB", "2024-01-01 10:00:12", 1, 10.0),
            ("eMBB", "2024-01-01 10:40:00", 1, 30.0),
            ("URLLC", "2024-01-01 10:05:00", 1, 5.0),
        ],
    ).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(SCHEMA).parquet(src_dir)
        .selectExpr(
            "slice",
            "date_trunc('hour', window_start) AS window_start",
            "n",
            "bytes",
        )
        .groupBy("slice", "window_start")
        .agg({"n": "sum", "bytes": "sum"})
        .withColumnRenamed("sum(n)", "n")
        .withColumnRenamed("sum(bytes)", "bytes")
    )
    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(foreach_batch_upsert(path))
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    store = _store(spark, path)
    key = ("eMBB", "2024-01-01 10:00:00")
    assert key in store
    assert store[key] == (2, 40.0)  # both eMBB rows aggregated into the hour
    assert ("URLLC", "2024-01-01 10:00:00") in store
