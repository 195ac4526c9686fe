"""Streaming heavy-hitters sink: per-batch truncated partials, the
est <= true <= est + slack mergeable-summary bound, batch-id replay
guard, re-truncating compaction, and an availableNow end-to-end run."""

from __future__ import annotations

import datetime as dt
from collections import Counter

from fiveg_spark.streaming.heavy_sink import (
    compact,
    foreach_batch_heavy,
    read_heavy_hitters,
)

SCHEMA = "event_id BIGINT, ts TIMESTAMP, event_type STRING, user_id BIGINT"


def _batch(spark, users, typ="click", eid0=0):
    t = dt.datetime(2024, 1, 1, 12)
    return spark.createDataFrame(
        [(eid0 + i, t, typ, u) for i, u in enumerate(users)], SCHEMA
    )


def _zipfish(batch_idx):
    """Deterministic skewed batch: user 0 dominates, a mid user drifts
    in and out of the top, a long tail of singletons."""
    users = [0] * 40 + [1] * 12 + [2 + batch_idx] * 6
    users += list(range(100 + 50 * batch_idx, 130 + 50 * batch_idx))
    return users


def test_heavy_sink_bound_and_exactness_for_planted_heavy(spark, tmp_path):
    path = str(tmp_path / "hh")
    sink = foreach_batch_heavy(path, m=4)

    truth = Counter()
    eid = 0
    for b in range(3):
        users = _zipfish(b)
        truth.update(users)
        sink(_batch(spark, users, eid0=eid), b)
        eid += len(users)

    got = {r["user_id"]: r.asDict()
           for r in read_heavy_hitters(spark, path, k=50).collect()}
    n_total = sum(truth.values())
    # store-level totals reconcile with the raw stream
    assert all(r["n_total"] == n_total for r in got.values())
    # user 0 survives every batch's top-m -> est is EXACT
    assert got[0]["est_count"] == truth[0]
    assert got[1]["est_count"] == truth[1]
    # the mergeable-summary bound holds for every reported user
    for uid, r in got.items():
        assert r["est_count"] <= truth[uid] <= r["upper_count"], (uid, r)
    # every user with true share above slack-adjusted threshold is present
    slack = got[0]["upper_count"] - got[0]["est_count"]
    for uid, c in truth.items():
        if c > slack:
            assert uid in got, (uid, c, slack)


def test_heavy_sink_replay_guard_and_compaction(spark, tmp_path):
    path = str(tmp_path / "hh")
    sink = foreach_batch_heavy(path, m=4)
    sink(_batch(spark, _zipfish(0)), 0)
    sink(_batch(spark, _zipfish(1), eid0=500), 1)

    before = {r["user_id"]: r.asDict()
              for r in read_heavy_hitters(spark, path, k=5).collect()}
    # replaying batch 1 is a no-op
    sink(_batch(spark, _zipfish(1), eid0=500), 1)
    again = {r["user_id"]: r.asDict()
             for r in read_heavy_hitters(spark, path, k=5).collect()}
    assert again == before

    # compaction with re-truncation: top users and totals survive, the
    # store shrinks, the watermark still rejects old batches
    compact(spark, path, retruncate_m=3)
    after = {r["user_id"]: r.asDict()
             for r in read_heavy_hitters(spark, path, k=3).collect()}
    assert after[0]["est_count"] == before[0]["est_count"]
    assert after[0]["n_total"] == before[0]["n_total"]
    # folded mass widens (never narrows) the uncertainty band
    assert after[0]["upper_count"] >= before[0]["upper_count"]
    sink(_batch(spark, _zipfish(1), eid0=500), 1)  # still guarded
    post = {r["user_id"]: r.asDict()
            for r in read_heavy_hitters(spark, path, k=3).collect()}
    assert post[0]["n_total"] == after[0]["n_total"]
    # a genuinely new batch lands
    sink(_batch(spark, [0] * 10, eid0=999), 2)
    final = {r["user_id"]: r.asDict()
             for r in read_heavy_hitters(spark, path, k=3).collect()}
    assert final[0]["est_count"] == after[0]["est_count"] + 10


def test_heavy_sink_streaming_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    _batch(spark, _zipfish(0)).write.mode("append").parquet(src)
    _batch(spark, _zipfish(1), eid0=500).write.mode("append").parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(foreach_batch_heavy(path, m=4))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["user_id"]: r.asDict()
           for r in read_heavy_hitters(spark, path, k=3).collect()}
    assert got[0]["rnk"] == 1 and got[0]["est_count"] == 80

    # restart with the same checkpoint: no new data -> store unchanged
    q2 = (
        spark.readStream.schema(SCHEMA).parquet(src)
        .writeStream.foreachBatch(foreach_batch_heavy(path, m=4))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    again = {r["user_id"]: r.asDict()
             for r in read_heavy_hitters(spark, path, k=3).collect()}
    assert again == got
