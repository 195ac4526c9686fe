"""Streaming Bloom membership sink: the no-false-negative theorem
across batches, definite-negative answers, idempotent merges under
replay AND crash duplicates, fill-ratio cardinality, compaction with
watermark survival, batch-sketch interoperability, and an
availableNow e2e run."""

from __future__ import annotations

import datetime as dt

from fiveg_spark.streaming.bloom_sink import (
    check_membership,
    compact,
    cross_check_batch_sketch,
    estimate_cardinality,
    foreach_batch_bloom,
    read_bits,
)

SCHEMA = "event_id BIGINT, ts TIMESTAMP, event_type STRING, user_id BIGINT"


def _batch(spark, typ, users, eid0=0):
    t = dt.datetime(2024, 1, 1, 12)
    return spark.createDataFrame(
        [(eid0 + i, t, typ, u) for i, u in enumerate(users)], SCHEMA
    )


def test_bloom_sink_no_false_negatives_across_batches(spark, tmp_path):
    path = str(tmp_path / "bloom")
    sink = foreach_batch_bloom(path)
    sink(_batch(spark, "click", range(0, 300)), 0)
    sink(_batch(spark, "click", range(300, 600), eid0=300), 1)
    sink(_batch(spark, "view", range(0, 50), eid0=900), 2)

    probes = (
        [("click", u) for u in range(0, 600, 37)]
        + [("view", u) for u in range(0, 50, 7)]
        + [("click", -5), ("view", 999999)]
    )
    got = {(r["event_type"], r["probe_id"]): r["maybe_present"]
           for r in check_membership(spark, path, probes).collect()}
    # every true member answers True — the theorem, not luck
    for typ, u in probes:
        if typ == "click" and 0 <= u < 600:
            assert got[(typ, u)] is True
        if typ == "view" and 0 <= u < 50:
            assert got[(typ, u)] is True
    # the off-corpus ids: definitely-absent (False) unless an honest
    # false positive; at 50 ids in 4096 bits "view" is near-empty, so
    # a 3-bit collision is ~(150/4096)^3 — assert the view negative
    assert got[("view", 999999)] is False

    est = {r["event_type"]: r["est_distinct"]
           for r in estimate_cardinality(spark, path).collect()}
    assert abs(est["click"] - 600) < 0.25 * 600
    assert abs(est["view"] - 50) < 0.3 * 50


def test_bloom_sink_merge_is_idempotent_under_replay_and_races(
    spark, tmp_path
):
    path = str(tmp_path / "bloom")
    sink = foreach_batch_bloom(path)
    sink(_batch(spark, "click", range(0, 200)), 0)
    before = {(r["event_type"], r["bit"])
              for r in read_bits(spark, path).collect()}

    # replay: guarded out at write time
    sink(_batch(spark, "click", range(0, 200)), 0)
    # crash race: the same append lands twice behind the guard's back —
    # set union makes the reader constitutionally blind to it
    dup = spark.read.parquet(path)
    dup.localCheckpoint().write.mode("append").parquet(path)
    after = {(r["event_type"], r["bit"])
             for r in read_bits(spark, path).collect()}
    assert after == before


def test_bloom_sink_compaction_and_batch_sketch_interop(spark, tmp_path):
    path = str(tmp_path / "bloom")
    sink = foreach_batch_bloom(path)
    b0 = _batch(spark, "click", range(0, 150))
    b1 = _batch(spark, "view", range(0, 80), eid0=500)
    sink(b0, 0)
    sink(b1, 1)
    before = {(r["event_type"], r["bit"])
              for r in read_bits(spark, path).collect()}

    compact(spark, path)
    assert spark.read.parquet(path).count() == len(before)
    assert {(r["event_type"], r["bit"])
            for r in read_bits(spark, path).collect()} == before
    # watermark survived: replaying batch 1 is a write no-op
    sink(b1, 1)
    assert spark.read.parquet(path).count() == len(before)

    # the streamed bits equal the C71 batch derivation over the same
    # rows — shared bucket builder, interoperable stores
    b0.unionByName(b1).createOrReplaceTempView("events")
    assert cross_check_batch_sketch(spark, path)


def test_bloom_sink_streaming_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    _batch(spark, "click", range(0, 120)).write.mode("append").parquet(src)
    _batch(spark, "click", range(120, 240), eid0=200).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(foreach_batch_bloom(path))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["probe_id"]: r["maybe_present"]
           for r in check_membership(
               spark, path, [("click", 7), ("click", 239), ("click", -3)]
           ).collect()}
    assert got[7] is True and got[239] is True

    # restart on the same checkpoint: no new data -> store unchanged
    n = spark.read.parquet(path).count()
    q2 = (
        spark.readStream.schema(SCHEMA).parquet(src)
        .writeStream.foreachBatch(foreach_batch_bloom(path))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(path).count() == n
