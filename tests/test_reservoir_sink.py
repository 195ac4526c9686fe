"""Streaming reservoir-sample sink: batching-invariant determinism
(the bottom-k merge theorem on a real split), replay + crash-duplicate
no-ops, compaction preserving sample and watermark, uniformity of the
hash sample, and an availableNow e2e run."""

from __future__ import annotations

import datetime as dt

from fiveg_spark.streaming.reservoir_sink import (
    compact,
    estimate_share,
    foreach_batch_reservoir,
    read_sample,
)

SCHEMA = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"


def _rows(spark, ids, typ="click", day=1):
    t = dt.datetime(2024, 1, day, 12)
    return spark.createDataFrame(
        [(i, t, typ, float(i)) for i in ids], SCHEMA
    )


def _sample_ids(spark, path, k):
    return {
        (r["event_type"], r["event_id"])
        for r in read_sample(spark, path, k).collect()
    }


def test_reservoir_sample_is_batching_invariant(spark, tmp_path):
    # the SAME 1000 rows split 300/700 vs 999/1 must yield the SAME
    # sample — the bottom-k merge theorem, and the audit property a
    # true-RNG reservoir cannot offer
    k = 20
    p1 = str(tmp_path / "s1")
    p2 = str(tmp_path / "s2")
    sink1 = foreach_batch_reservoir(p1, k)
    sink1(_rows(spark, range(0, 300)), 0)
    sink1(_rows(spark, range(300, 1000)), 1)
    sink2 = foreach_batch_reservoir(p2, k)
    sink2(_rows(spark, range(0, 999)), 0)
    sink2(_rows(spark, range(999, 1000)), 1)

    ids1 = _sample_ids(spark, p1, k)
    ids2 = _sample_ids(spark, p2, k)
    assert len(ids1) == k
    assert ids1 == ids2

    # and both equal the batch-side direct bottom-k of all 1000 rows
    from pyspark.sql import functions as F

    from fiveg_spark.streaming.reservoir_sink import _bottom_k

    direct = {
        ("click", r["event_id"])
        for r in _bottom_k(
            _rows(spark, range(0, 1000)).withColumn(
                "priority", F.xxhash64(F.col("event_id").cast("string"))
            ),
            k,
        ).collect()
    }
    assert ids1 == direct


def test_reservoir_replay_and_crash_duplicate_are_noops(spark, tmp_path):
    k = 10
    path = str(tmp_path / "store")
    sink = foreach_batch_reservoir(path, k)
    sink(_rows(spark, range(0, 500)), 0)
    before = _sample_ids(spark, path, k)

    # batch-id replay: guarded out
    sink(_rows(spark, range(0, 500)), 0)
    assert _sample_ids(spark, path, k) == before

    # crash race: the same append lands twice behind the guard's back;
    # event_id dedup + identical priorities make the reader blind
    dup = spark.read.parquet(path)
    dup.localCheckpoint().write.mode("append").parquet(path)
    assert _sample_ids(spark, path, k) == before
    assert read_sample(spark, path, k).count() == k


def test_reservoir_compaction_keeps_sample_and_watermark(spark, tmp_path):
    k = 15
    path = str(tmp_path / "store")
    sink = foreach_batch_reservoir(path, k)
    sink(_rows(spark, range(0, 400)), 0)
    sink(_rows(spark, range(400, 800)), 1)
    before = _sample_ids(spark, path, k)

    compact(spark, path, k)
    assert spark.read.parquet(path).count() == k  # one type
    assert _sample_ids(spark, path, k) == before

    # watermark survived: replaying batch 1 is a no-op...
    sink(_rows(spark, range(400, 800)), 1)
    assert _sample_ids(spark, path, k) == before
    # ...and a new batch still lands and can displace sample members
    sink(_rows(spark, range(800, 5000)), 2)
    after = _sample_ids(spark, path, k)
    assert len(after) == k and after != before


def test_reservoir_sample_is_uniform_enough_for_estimation(spark, tmp_path):
    # 10k rows, values 0..9999; a uniform sample's share of value<5000
    # should estimate 0.5.  Deterministic given the fixed hash — this
    # asserts the hash isn't correlated with the payload, not luck.
    k = 400
    path = str(tmp_path / "store")
    sink = foreach_batch_reservoir(path, k)
    sink(_rows(spark, range(0, 10000)), 0)
    (got,) = estimate_share(spark, path, "value < 5000", k).collect()
    assert got["n_sample"] == k
    assert abs(got["est_share"] - 0.5) < 0.08  # ~2 sigma at n=400


def test_reservoir_sink_streaming_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    k = 25

    _rows(spark, range(0, 600)).write.mode("append").parquet(src)
    _rows(spark, range(600, 1200), typ="view").write.mode("append").parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(foreach_batch_reservoir(path, k))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    from pyspark.sql import functions as F

    sample = read_sample(spark, path, k)
    per_type = {
        r["event_type"]: r["n"]
        for r in sample.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_type == {"click": k, "view": k}

    # restart on the same checkpoint with no new data: store unchanged
    before = _sample_ids(spark, path, k)
    q2 = (
        spark.readStream.schema(SCHEMA).parquet(src)
        .writeStream.foreachBatch(foreach_batch_reservoir(path, k))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert _sample_ids(spark, path, k) == before
