"""B26 — streaming lateness monitor (streaming/lateness_monitor.py).

Covers: frontier progression across ordered batches (zero lateness), a
planted straggler batch scored against the prior frontier, replay
no-op, compaction preserving pooled shares + the high-water batch, the
watermark recommendation, and the wired availableNow end-to-end run.
"""

from __future__ import annotations

import pytest

from fiveg_spark.operators.lateness import WATERMARK_LADDER
from fiveg_spark.streaming.lateness_monitor import (
    compact,
    foreach_batch_lateness,
    lateness_summary,
    recommended_watermark,
)

BASE = 1_700_000_000


def _frame(spark, stamps):
    return spark.createDataFrame(
        [(int(t),) for t in stamps], "es LONG"
    ).selectExpr("timestamp_micros(es * 1000000) AS ts")


def test_ordered_batches_have_zero_lateness(spark, tmp_path):
    path = str(tmp_path / "store")
    score = foreach_batch_lateness(path)
    score(_frame(spark, [BASE, BASE + 60]), 0)
    score(_frame(spark, [BASE + 120, BASE + 180]), 1)
    rows = {r["batch_id"]: r.asDict()
            for r in spark.read.parquet(path).collect()}
    assert rows[0]["frontier_es"] == float("-inf")
    assert rows[1]["frontier_es"] == BASE + 60  # prior batch's max
    for w in WATERMARK_LADDER:
        assert rows[1][f"late_share_{w}s"] == 0.0


def test_straggler_batch_scored_against_frontier(spark, tmp_path):
    path = str(tmp_path / "store")
    score = foreach_batch_lateness(path)
    score(_frame(spark, [BASE + 1000]), 0)
    # batch 1: one fresh row + one row 700 s behind the frontier ->
    # late at W=60 and W=300, NOT at W=900
    score(_frame(spark, [BASE + 1060, BASE + 300]), 1)
    r = {x["batch_id"]: x.asDict()
         for x in spark.read.parquet(path).collect()}[1]
    assert r["late_share_60s"] == pytest.approx(0.5)
    assert r["late_share_300s"] == pytest.approx(0.5)
    assert r["late_share_900s"] == 0.0
    assert r["p95_behind_s"] == pytest.approx(0.95 * 700.0, rel=0.1)


def test_replay_is_a_noop(spark, tmp_path):
    path = str(tmp_path / "store")
    score = foreach_batch_lateness(path)
    score(_frame(spark, [BASE]), 0)
    score(_frame(spark, [BASE + 60]), 1)
    n = spark.read.parquet(path).count()
    score(_frame(spark, [BASE + 60]), 1)  # crash/retry redelivery
    assert spark.read.parquet(path).count() == n


def test_compact_preserves_pooled_shares_and_recommendation(spark, tmp_path):
    path = str(tmp_path / "store")
    score = foreach_batch_lateness(path)
    score(_frame(spark, [BASE + 1000] * 9), 0)
    # 10% of the stream arrives 700 s late -> W=60/300 fail the 1%
    # target, W=900 passes
    score(_frame(spark, [BASE + 1060] * 9 + [BASE + 300]), 1)
    before = {
        r["watermark_s"]: r["pooled_late_share"]
        for r in lateness_summary(spark, path).collect()
    }
    assert recommended_watermark(spark, path) == 900
    compact(spark, path)
    store = spark.read.parquet(path)
    assert store.count() == 1
    assert store.head()["batch_id"] == 1  # high-water survives
    after = {
        r["watermark_s"]: r["pooled_late_share"]
        for r in lateness_summary(spark, path).collect()
    }
    for w in WATERMARK_LADDER:
        assert after[w] == pytest.approx(before[w], abs=1e-9)
    assert recommended_watermark(spark, path) == 900
    # replay guard survives compaction — at AND below the high-water
    # mark (a seen-set would have forgotten batch 0's id)
    score(_frame(spark, [BASE + 2000]), 1)
    score(_frame(spark, [BASE + 2000]), 0)
    assert spark.read.parquet(path).count() == 1


def test_available_now_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    import time

    for m, stamps in enumerate([[BASE, BASE + 30], [BASE + 900, BASE + 10]]):
        _frame(spark, stamps).coalesce(1).write.parquet(f"{src}/m{m}")
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/m*")
    )
    q = (
        stream.writeStream.foreachBatch(foreach_batch_lateness(path))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["batch_id"]: r.asDict()
            for r in spark.read.parquet(path).collect()}
    assert len(rows) == 2
    # the BASE+10 row in batch 1 sits 20 s behind the batch-0 frontier:
    # inside the 60 s candidate, so late shares stay 0 but p95 sees it
    assert rows[1]["frontier_es"] == BASE + 30
    assert rows[1]["late_share_60s"] == 0.0
    assert rows[1]["p95_behind_s"] > 0.0


def test_fresh_scorer_after_compact_still_guards_replay(spark, tmp_path):
    # a restarted stream builds a NEW closure: its cache must load the
    # compacted store's high-water mark, not treat the stream as fresh
    path = str(tmp_path / "store")
    score = foreach_batch_lateness(path)
    score(_frame(spark, [BASE]), 0)
    score(_frame(spark, [BASE + 60]), 1)
    compact(spark, path)
    restarted = foreach_batch_lateness(path)
    restarted(_frame(spark, [BASE + 60]), 1)  # replay below high-water
    assert spark.read.parquet(path).count() == 1
    restarted(_frame(spark, [BASE + 120]), 2)  # genuinely new batch
    rows = {r["batch_id"]: r.asDict()
            for r in spark.read.parquet(path).collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["frontier_es"] == BASE + 60  # frontier survived


def test_unreadable_store_fails_batch_instead_of_rescoring(spark, tmp_path):
    import os

    path = str(tmp_path / "store")
    score = foreach_batch_lateness(path)
    score(_frame(spark, [BASE]), 0)
    # corrupt the store: a parquet data file that is not parquet
    victim = next(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    with open(victim, "wb") as fh:
        fh.write(b"not parquet at all")
    n_files = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    fresh = foreach_batch_lateness(path)
    with pytest.raises(Exception):
        fresh(_frame(spark, [BASE + 60]), 1)
    # the batch was NOT recorded as a forced-0.0 first batch
    assert len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    ) == n_files


def test_compact_is_atomic_and_leaves_no_leftovers(spark, tmp_path):
    import os

    path = str(tmp_path / "store")
    score = foreach_batch_lateness(path)
    score(_frame(spark, [BASE] * 5), 0)
    score(_frame(spark, [BASE + 60] * 5), 1)
    compact(spark, path)
    siblings = os.listdir(str(tmp_path))
    assert [s for s in siblings if ".compact-" in s or ".pre-compact-" in s] == []
    assert spark.read.parquet(path).count() == 1
