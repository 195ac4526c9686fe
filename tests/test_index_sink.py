"""Streaming vector-index maintenance sink: correct frozen-centroid
assignment across batches, replay + crash-duplicate collapse,
re-ingested vectors superseding old postings, health/drift signals,
compaction, and an availableNow e2e run."""

from __future__ import annotations

import numpy as np

from fiveg_spark.operators.ann_ivf import save_centroids
from fiveg_spark.streaming.index_sink import (
    compact,
    foreach_batch_index,
    index_health,
    read_postings,
)

SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


def _vec(axis, scale=1.0, dim=4, bleed=0.0, other=1):
    v = [0.0] * dim
    v[axis] = scale
    if bleed:
        v[other] = bleed
    return v


def _centroids(tmp_path, spark):
    path = str(tmp_path / "centroids")
    save_centroids(spark, np.eye(2, 4), path)  # lists 0/1 = e0/e1
    return path


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_index_sink_assigns_against_frozen_centroids(spark, tmp_path):
    cpath = _centroids(tmp_path, spark)
    path = str(tmp_path / "postings")
    sink = foreach_batch_index(path, cpath)

    sink(_batch(spark, [(i, _vec(0, 0.9, bleed=0.1), 0) for i in range(5)]), 0)
    sink(_batch(spark, [(10 + i, _vec(1), 1) for i in range(3)]), 1)

    got = {r["vec_id"]: r.asDict() for r in read_postings(spark, path).collect()}
    assert len(got) == 8
    for i in range(5):
        assert got[i]["list_id"] == 0
        assert got[i]["cos"] > 0.98  # 0.9/0.1 vector vs e0
    for i in range(10, 13):
        assert got[i]["list_id"] == 1 and abs(got[i]["cos"] - 1.0) < 1e-9

    # replay: write no-op; crash duplicate: collapses in the reader
    sink(_batch(spark, [(i, _vec(0), 0) for i in range(5)]), 0)
    dup = spark.read.parquet(path)
    dup.localCheckpoint().write.mode("append").parquet(path)
    assert read_postings(spark, path).count() == 8


def test_index_sink_reingestion_supersedes_and_health_tracks_drift(
    spark, tmp_path
):
    cpath = _centroids(tmp_path, spark)
    path = str(tmp_path / "postings")
    sink = foreach_batch_index(path, cpath)

    # batch 0: vec 1 near list 0, tight cohort on list 1
    sink(
        _batch(
            spark,
            [(1, _vec(0), 0)] + [(50 + i, _vec(1), 1) for i in range(4)],
        ),
        0,
    )
    # batch 1: vec 1 RE-ENCODED to live near list 1 -> must move
    sink(_batch(spark, [(1, _vec(1, 0.8, bleed=0.1, other=0), 0)]), 1)
    got = {r["vec_id"]: r.asDict() for r in read_postings(spark, path).collect()}
    assert got[1]["list_id"] == 1  # the new encoding won

    # drift gauge: a drifted cohort assigned to list 0 sinks its mean
    # cosine well below list 1's tight 1.0
    sink(
        _batch(
            spark,
            [(100 + i, _vec(0, 0.7, bleed=0.7) , 0) for i in range(6)],
        ),
        2,
    )
    health = {r["list_id"]: r.asDict() for r in index_health(spark, path).collect()}
    assert health[0]["mean_cos"] < 0.8  # the drifted block
    assert health[1]["mean_cos"] > 0.95
    assert health[0]["imbalance_ratio"] >= 1.0

    # compaction drops superseded rows, keeps the current view + guard
    n_current = read_postings(spark, path).count()
    compact(spark, path)
    assert spark.read.parquet(path).count() == n_current
    sink(_batch(spark, [(999, _vec(0), 0)]), 2)  # replay id: no-op
    assert read_postings(spark, path).count() == n_current


def test_index_sink_streaming_end_to_end(spark, tmp_path):
    cpath = _centroids(tmp_path, spark)
    src = str(tmp_path / "src")
    path = str(tmp_path / "postings")
    ckpt = str(tmp_path / "ckpt")

    _batch(spark, [(i, _vec(i % 2), i % 2) for i in range(40)]).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(foreach_batch_index(path, cpath))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = read_postings(spark, path)
    assert got.count() == 40
    assert got.where("vec_id % 2 != list_id").count() == 0

    # restart on the same checkpoint: no new data -> postings unchanged
    q2 = (
        spark.readStream.schema(SCHEMA).parquet(src)
        .writeStream.foreachBatch(foreach_batch_index(path, cpath))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert read_postings(spark, path).count() == 40
