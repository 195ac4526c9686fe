"""A40 incremental aggregate store: merge algebra, replay ledger,
snapshot atomicity (streaming/agg_sink.py)."""

from __future__ import annotations

import json
import os

from fiveg_spark.streaming import agg_sink


def _rows(spark, data):
    return spark.createDataFrame(data, "status STRING, price DOUBLE")


def test_incremental_fold_matches_one_shot(spark, tmp_path):
    path = str(tmp_path / "store")
    agg_sink.init_agg_store(spark, path, ["status"], ["price"])
    b0 = _rows(spark, [("A", 1.0), ("A", 2.0), ("B", 10.0)])
    b1 = _rows(spark, [("A", 4.0), ("C", 7.0)])
    assert agg_sink.apply_increment(spark, path, b0, "run", 0)
    assert agg_sink.apply_increment(spark, path, b1, "run", 1)
    got = {
        r["status"]: (r["n_rows"], r["sum_price"])
        for r in agg_sink.read_agg_table(spark, path).collect()
    }
    assert got == {"A": (3, 7.0), "B": (1, 10.0), "C": (1, 7.0)}


def test_replayed_epoch_is_noop(spark, tmp_path):
    # aggregates are NOT naturally idempotent — the ledger must catch
    # the crash-between-fold-and-checkpoint replay
    path = str(tmp_path / "store")
    agg_sink.init_agg_store(spark, path, ["status"], ["price"])
    b0 = _rows(spark, [("A", 1.0)])
    assert agg_sink.apply_increment(spark, path, b0, "run", 0)
    assert not agg_sink.apply_increment(spark, path, b0, "run", 0)
    (row,) = agg_sink.read_agg_table(spark, path).collect()
    assert (row["n_rows"], row["sum_price"]) == (1, 1.0)
    # a DIFFERENT run id is a new incarnation: epoch 0 applies again
    assert agg_sink.apply_increment(spark, path, b0, "run2", 0)
    (row,) = agg_sink.read_agg_table(spark, path).collect()
    assert (row["n_rows"], row["sum_price"]) == (2, 2.0)


def test_empty_store_reads_typed_empty(spark, tmp_path):
    path = str(tmp_path / "store")
    agg_sink.init_agg_store(spark, path, ["status"], ["price"])
    df = agg_sink.read_agg_table(spark, path)
    assert df.count() == 0
    assert df.columns == ["status", "n_rows", "sum_price"]


def test_snapshot_versions_and_manifest_pointer(spark, tmp_path):
    # each apply lands a fresh v{n}; the manifest flip is the only
    # visibility switch, so a dangling directory is unreachable garbage
    path = str(tmp_path / "store")
    agg_sink.init_agg_store(spark, path, ["status"], ["price"])
    agg_sink.apply_increment(spark, path, _rows(spark, [("A", 1.0)]), "r", 0)
    agg_sink.apply_increment(spark, path, _rows(spark, [("A", 1.0)]), "r", 1)
    m = json.load(open(os.path.join(path, "_agg_manifest.json")))
    assert m["version"] == 2 and m["table"] == "v2"
    assert m["applied"] == ["r/0", "r/1"]
    # plant a dangling snapshot (simulated crash): readers ignore it
    os.makedirs(os.path.join(path, "v3"))
    (row,) = agg_sink.read_agg_table(spark, path).collect()
    assert row["n_rows"] == 2


def test_streaming_tail_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    agg_sink.init_agg_store(spark, path, ["status"], ["price"])
    _rows(spark, [("A", 1.0), ("B", 2.0)]).coalesce(1).write.parquet(
        src, mode="append"
    )
    _rows(spark, [("A", 3.0)]).coalesce(1).write.parquet(src, mode="append")
    stream = (
        spark.readStream.schema("status STRING, price DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(agg_sink.foreach_batch_agg(path, "rt"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["status"]: (r["n_rows"], r["sum_price"])
        for r in agg_sink.read_agg_table(spark, path).collect()
    }
    assert got == {"A": (2, 4.0), "B": (1, 2.0)}


def test_old_snapshots_are_swept(spark, tmp_path):
    # without retention the store grows one full table copy per batch
    path = str(tmp_path / "store")
    agg_sink.init_agg_store(spark, path, ["status"], ["price"])
    for i in range(6):
        agg_sink.apply_increment(
            spark, path, _rows(spark, [("A", float(i))]), "r", i
        )
    vdirs = sorted(d for d in os.listdir(path) if d.startswith("v"))
    assert vdirs == ["v4", "v5", "v6"]  # _KEEP_VERSIONS = 3
    (row,) = agg_sink.read_agg_table(spark, path).collect()
    assert (row["n_rows"], row["sum_price"]) == (6, 15.0)
