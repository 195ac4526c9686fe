"""A35 row-level CDC apply: last-writer-wins semantics, deletes,
stale-replay protection, bucket-pruned rewrites, replay idempotence.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fiveg_spark.sources.cdc import (
    apply_changelog,
    init_store,
    read_store,
)

N_BUCKETS = 4


def _base(spark):
    return spark.createDataFrame(
        [(k, f"v{k}", 10.0 * k) for k in range(20)],
        "k LONG, name STRING, amount DOUBLE",
    )


def _changes(spark, rows):
    """rows: (k, seq, op, name, amount)"""
    return spark.createDataFrame(
        rows, "k LONG, seq LONG, op STRING, name STRING, amount DOUBLE"
    )


@pytest.fixture()
def store(spark, tmp_path):
    path = str(tmp_path / "store")
    init_store(spark, path, _base(spark), "k", N_BUCKETS)
    return path


def _state(spark, path) -> dict:
    return {
        r["k"]: (r["name"], r["amount"])
        for r in read_store(spark, path).collect()
    }


def test_update_insert_delete_roundtrip(spark, store):
    res = apply_changelog(
        spark, store,
        _changes(spark, [
            (3, 1, "U", "v3b", 333.0),     # update
            (99, 1, "I", "new", 9.9),      # insert new key
            (5, 1, "D", None, None),       # delete
        ]),
        "k", N_BUCKETS,
    )
    assert res["upserts"] == 2 and res["deletes"] == 1
    got = _state(spark, store)
    assert got[3] == ("v3b", 333.0)
    assert got[99] == ("new", 9.9)
    assert 5 not in got
    assert len(got) == 20  # 20 - 1 delete + 1 insert
    # untouched keys unchanged
    assert got[7] == ("v7", 70.0)


def test_last_writer_wins_within_batch(spark, store):
    apply_changelog(
        spark, store,
        _changes(spark, [
            (4, 1, "U", "first", 1.0),
            (4, 3, "U", "last", 3.0),
            (4, 2, "U", "middle", 2.0),
            # equal-seq tie resolves to the delete (op 'D' sorts last)
            (6, 5, "U", "keep?", 0.0),
            (6, 5, "D", None, None),
        ]),
        "k", N_BUCKETS,
    )
    got = _state(spark, store)
    assert got[4] == ("last", 3.0)
    assert 6 not in got


def test_stale_replay_cannot_regress(spark, store):
    apply_changelog(
        spark, store,
        _changes(spark, [(8, 10, "U", "newer", 8.8)]), "k", N_BUCKETS,
    )
    # an OLD batch replays late: seq 2 < stored seq 10 -> must lose
    res = apply_changelog(
        spark, store,
        _changes(spark, [(8, 2, "U", "older", 0.1)]), "k", N_BUCKETS,
    )
    assert res["upserts"] == 0
    assert _state(spark, store)[8] == ("newer", 8.8)


def test_replay_same_batch_is_idempotent(spark, store):
    batch = [(1, 7, "U", "once", 1.1), (2, 7, "D", None, None)]
    apply_changelog(spark, store, _changes(spark, batch), "k", N_BUCKETS)
    before = _state(spark, store)
    apply_changelog(spark, store, _changes(spark, batch), "k", N_BUCKETS)
    assert _state(spark, store) == before


def test_only_touched_buckets_rewritten(spark, store):
    import time

    def bucket_of(k: int) -> int:
        return spark.sql(f"SELECT pmod(hash(CAST({k} AS LONG)), {N_BUCKETS})").head()[0]

    target = bucket_of(3)
    mtimes = {}
    for b in range(N_BUCKETS):
        d = os.path.join(store, f"bucket={b}")
        mtimes[b] = max(os.path.getmtime(os.path.join(d, f))
                        for f in os.listdir(d))
    time.sleep(1.1)
    res = apply_changelog(
        spark, store,
        _changes(spark, [(3, 1, "U", "touch", 0.0)]), "k", N_BUCKETS,
    )
    assert res["touched_buckets"] == [target]
    for b in range(N_BUCKETS):
        d = os.path.join(store, f"bucket={b}")
        newest = max(os.path.getmtime(os.path.join(d, f))
                     for f in os.listdir(d))
        if b == target:
            assert newest > mtimes[b]
        else:
            assert newest == mtimes[b]


def test_unknown_op_fails_closed(spark, store):
    with pytest.raises(ValueError):
        apply_changelog(
            spark, store,
            _changes(spark, [(1, 1, "X", "bad", 0.0)]), "k", N_BUCKETS,
        )


def test_delete_can_empty_a_bucket_and_reads_survive(spark, tmp_path):
    path = str(tmp_path / "tiny")
    init_store(
        spark, path,
        spark.createDataFrame([(1, "a", 1.0)],
                              "k LONG, name STRING, amount DOUBLE"),
        "k", N_BUCKETS,
    )
    apply_changelog(
        spark, path, _changes(spark, [(1, 1, "D", None, None)]),
        "k", N_BUCKETS,
    )
    assert read_store(spark, path).count() == 0


def test_delete_tombstone_defeats_stale_resurrection(spark, store):
    """A delete leaves a tombstone carrying its seq, so a late replay
    of an OLDER update cannot resurrect the deleted row."""
    apply_changelog(
        spark, store, _changes(spark, [(9, 5, "D", None, None)]),
        "k", N_BUCKETS,
    )
    res = apply_changelog(
        spark, store,
        _changes(spark, [(9, 2, "U", "zombie", 6.66)]), "k", N_BUCKETS,
    )
    assert res["upserts"] == 0
    assert 9 not in _state(spark, store)
    # a genuinely NEWER insert brings the key back to life
    apply_changelog(
        spark, store,
        _changes(spark, [(9, 8, "I", "reborn", 1.0)]), "k", N_BUCKETS,
    )
    assert _state(spark, store)[9] == ("reborn", 1.0)


def test_null_op_fails_closed(spark, store):
    with pytest.raises(ValueError):
        apply_changelog(
            spark, store,
            _changes(spark, [(1, 1, None, "x", 0.0)]), "k", N_BUCKETS,
        )


def test_crash_between_swap_moves_recovers(spark, store):
    """Simulate a crash AFTER a bucket moved aside to trash and BEFORE
    the new content moved in: the next apply restores it first."""
    import shutil as sh

    from fiveg_spark.sources.cdc import _bucket_dir, _trash_dir, recover_store

    before = _state(spark, store)
    trash = _trash_dir(store)
    os.makedirs(trash, exist_ok=True)
    sh.move(_bucket_dir(store, 0), os.path.join(trash, "bucket=0"))
    assert not os.path.isdir(_bucket_dir(store, 0))
    restored = recover_store(store)
    assert restored == [0]
    assert _state(spark, store) == before


def test_vacuum_tombstones_reclaims_past_horizon(spark, store):
    from fiveg_spark.sources.cdc import DEL_COL, vacuum_tombstones

    apply_changelog(
        spark, store,
        _changes(spark, [(1, 3, "D", None, None), (2, 9, "D", None, None)]),
        "k", N_BUCKETS,
    )
    # horizon 5: seq-3 tombstone reclaimed, seq-9 survives
    assert vacuum_tombstones(spark, store, 5, "k", N_BUCKETS) == 1
    raw = spark.read.parquet(store)
    tombs = raw.filter(F.col(DEL_COL)).collect()
    assert [t["k"] for t in tombs] == [2]
    # the reclaimed key's OLD update can now resurrect (the retention
    # contract: only vacuum below the replay horizon)
    got = _state(spark, store)
    assert 1 not in got and 2 not in got


def test_bucket_layout_persisted_and_enforced(spark, store):
    """The ADVICE r11 medium: n_buckets is a property of the store's
    layout.  init_store persists it; apply/vacuum resolve it when the
    caller omits it and REFUSE a mismatching explicit value (which
    would silently route keys to the wrong bucket)."""
    from fiveg_spark.sources.cdc import META_FILE, vacuum_tombstones

    assert os.path.isfile(os.path.join(store, META_FILE))

    # omitted n_buckets resolves from the store
    apply_changelog(
        spark, store, _changes(spark, [(3, 1, "U", "resolved", 3.3)]), "k",
    )
    assert _state(spark, store)[3] == ("resolved", 3.3)

    # explicit mismatch fails closed on both entry points
    with pytest.raises(ValueError, match="n_buckets"):
        apply_changelog(
            spark, store,
            _changes(spark, [(4, 2, "U", "bad", 4.4)]), "k",
            n_buckets=N_BUCKETS + 3,
        )
    with pytest.raises(ValueError, match="n_buckets"):
        vacuum_tombstones(spark, store, 99, "k", n_buckets=N_BUCKETS + 3)
    # the refused batch must not have landed
    assert _state(spark, store)[4] == ("v4", 40.0)

    # wrong key fails closed too
    with pytest.raises(ValueError, match="keyed on"):
        apply_changelog(
            spark, store,
            _changes(spark, [(5, 3, "U", "bad", 5.5)]), "name",
        )


def test_legacy_store_without_meta_migrates_once(spark, store):
    """Pre-metadata stores: the first call with an explicit n_buckets
    stamps the layout; a later omitted call then resolves it; calling
    with NO value on an unstamped store is an error, not a guess."""
    from fiveg_spark.sources.cdc import META_FILE

    os.remove(os.path.join(store, META_FILE))
    with pytest.raises(ValueError, match="no n_buckets"):
        apply_changelog(
            spark, store, _changes(spark, [(6, 1, "U", "x", 1.0)]), "k",
        )
    apply_changelog(
        spark, store, _changes(spark, [(6, 1, "U", "stamped", 6.6)]), "k",
        n_buckets=N_BUCKETS,
    )
    assert os.path.isfile(os.path.join(store, META_FILE))
    apply_changelog(
        spark, store, _changes(spark, [(7, 2, "U", "after", 7.7)]), "k",
    )
    got = _state(spark, store)
    assert got[6] == ("stamped", 6.6) and got[7] == ("after", 7.7)


# ---------------------------------------------------------------------------
# A38: the streaming CDC tail — changelog files drain through
# foreachBatch + the REAL apply_changelog.
# ---------------------------------------------------------------------------

_CHANGE_SCHEMA = (
    "k LONG, seq LONG, op STRING, name STRING, amount DOUBLE"
)


def _run_cdc_stream(spark, src, store, ckpt):
    from fiveg_spark.streaming.cdc_sink import foreach_batch_cdc

    changes = (
        spark.readStream.schema(_CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        changes.writeStream.foreachBatch(foreach_batch_cdc(store, "k"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _land(spark, src, rows, name, mtime):
    """Land one changelog file FLAT in src (the file source does not
    recurse into non-partition subdirs), with a pinned mtime so the
    maxFilesPerTrigger=1 replay order is deterministic."""
    import shutil as _sh

    stage = os.path.join(src, f"_stage_{name}")
    spark.createDataFrame(rows, _CHANGE_SCHEMA).coalesce(1).write.parquet(stage)
    (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    dst = os.path.join(src, f"{name}.parquet")
    _sh.move(os.path.join(stage, part), dst)
    _sh.rmtree(stage)
    os.utime(dst, (mtime, mtime))


def test_stream_cdc_tail_applies_batches_in_order(spark, store, tmp_path):
    src = str(tmp_path / "changes")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _land(spark, src, [(1, 1, "U", "one", 1.1), (2, 1, "U", "two", 2.2)],
          "b1", 1_000_000_000)
    _land(spark, src, [(1, 2, "D", None, None), (3, 2, "I", "three", 3.3)],
          "b2", 1_000_000_100)
    _run_cdc_stream(spark, src, store, ckpt)
    got = _state(spark, store)
    assert 1 not in got                      # updated then deleted
    assert got[2] == ("two", 2.2)
    assert got[3] == ("three", 3.3)


def test_stream_cdc_tail_restart_applies_only_new_files(
    spark, store, tmp_path
):
    src = str(tmp_path / "changes")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _land(spark, src, [(5, 1, "U", "v5a", 5.1)], "b1", 1_000_000_000)
    _run_cdc_stream(spark, src, store, ckpt)
    assert _state(spark, store)[5] == ("v5a", 5.1)
    # a second incarnation sees only the new file; a STALE record in
    # it (seq 0 <= stored seq 1) must lose to the store watermark
    _land(spark, src, [(5, 0, "U", "stale", 0.0), (6, 2, "I", "six", 6.6)],
          "b2", 1_000_000_200)
    _run_cdc_stream(spark, src, store, ckpt)
    got = _state(spark, store)
    assert got[5] == ("v5a", 5.1)            # stale replay lost
    assert got[6] == ("six", 6.6)


def test_stream_cdc_tail_replay_after_checkpoint_loss_is_idempotent(
    spark, store, tmp_path
):
    """Losing the checkpoint replays EVERY file; the store's seq guard
    makes the re-application a no-op, not a duplication."""
    src = str(tmp_path / "changes")
    os.makedirs(src)
    _land(spark, src, [(7, 3, "U", "seven", 7.7), (8, 3, "D", None, None)],
          "b1", 1_000_000_000)
    _run_cdc_stream(spark, src, store, str(tmp_path / "ckpt1"))
    before = _state(spark, store)
    _run_cdc_stream(spark, src, store, str(tmp_path / "ckpt2"))  # full replay
    assert _state(spark, store) == before
    # the tombstone survived the replay too (not resurrected)
    assert 8 not in before
