"""The store recipe shared by the foreachBatch sink family
(streaming/store_guard.py), driven through all eight store compacts.

Each store is seeded with two batches plus one replayed batch id (a
no-op), then compacted.  A compact whose install rename fails must
leave the store readable with the same rows and the same max(batch_id),
and no ``.compact-``/``.pre-compact-`` sibling behind; a compact that
succeeds must keep the store's parquet footer schema."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fiveg_spark.operators.ann_ivf import save_centroids
from fiveg_spark.streaming import (
    bloom_sink,
    cusum_monitor,
    heavy_sink,
    index_sink,
    lateness_monitor,
    reservoir_sink,
    sketch_sink,
    tdigest_sink,
)

T0 = dt.datetime(2024, 1, 1, 10)


def _events(spark, lo, hi):
    rows = [
        (
            i,
            T0 + dt.timedelta(hours=i % 30, seconds=i),
            "click" if i % 3 else "view",
            i % 7,
            float(i % 11),
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, event_type STRING,"
        " user_id BIGINT, value DOUBLE",
    )


def _vectors(spark, lo, hi):
    rows = [
        (i, [1.0, 0.1 * (i % 3), 0.0, 0.0] if i % 2 else [0.0, 1.0, 0.2, 0.0], i % 2)
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")


def _index_sink(spark, store):
    cpath = f"{store}-centroids"
    save_centroids(spark, np.eye(2, 4), cpath)
    return index_sink.foreach_batch_index(store, cpath)


_REF = {"click": (5.0, 3.0), "view": (5.0, 3.0)}

# name -> (sink(spark, store), batch(spark, lo, hi), compact(spark, store))
CASES = {
    "bloom": (
        lambda spark, store: bloom_sink.foreach_batch_bloom(store),
        _events,
        bloom_sink.compact,
    ),
    "sketch": (
        lambda spark, store: sketch_sink.foreach_batch_sketch(store),
        _events,
        sketch_sink.compact,
    ),
    "tdigest": (
        lambda spark, store: tdigest_sink.foreach_batch_tdigest(store),
        _events,
        tdigest_sink.compact,
    ),
    "reservoir": (
        lambda spark, store: reservoir_sink.foreach_batch_reservoir(store, k=5),
        _events,
        lambda spark, store: reservoir_sink.compact(spark, store, k=5),
    ),
    "index": (_index_sink, _vectors, index_sink.compact),
    "heavy": (
        lambda spark, store: heavy_sink.foreach_batch_heavy(store, m=3),
        _events,
        lambda spark, store: heavy_sink.compact(spark, store, retruncate_m=3),
    ),
    "cusum": (
        lambda spark, store: cusum_monitor.foreach_batch_cusum(
            store, _REF, "event_type", "value"
        ),
        _events,
        cusum_monitor.compact_state,
    ),
    "lateness": (
        lambda spark, store: lateness_monitor.foreach_batch_lateness(store),
        _events,
        lateness_monitor.compact,
    ),
}


def _seed(spark, tmp_path, name) -> tuple[str, str]:
    """Two batches, then batch 0 re-delivered with other rows (a replay:
    no-op).  Returns (store, data dir)."""
    make_sink, batch, _compact = CASES[name]
    store = str(tmp_path / "store")
    sink = make_sink(spark, store)
    sink(batch(spark, 0, 40), 0)
    sink(batch(spark, 40, 90), 1)
    # the CUSUM monitor keeps its batch_id-stamped state under state/
    data = f"{store}/state" if name == "cusum" else store
    before = _rows(spark, data)
    sink(batch(spark, 90, 130), 0)
    assert _rows(spark, data) == before
    return store, data


def _rows(spark, path) -> list[str]:
    return sorted(str(tuple(r)) for r in spark.read.parquet(path).collect())


def _high_water(spark, path) -> int:
    return spark.read.parquet(path).agg(F.max("batch_id")).head()[0]


def _footer_schemas(path) -> set:
    """Column names and Arrow types per parquet footer.  The `required`
    flag is left out: Spark reads every file-source column as nullable,
    and a store's appended and compacted files already differ in it."""
    files = [
        os.path.join(root, f)
        for root, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return {
        tuple((fld.name, str(fld.type)) for fld in pq.read_schema(f))
        for f in files
    }


@pytest.mark.parametrize("name", sorted(CASES))
def test_failed_compact_install_keeps_store(spark, tmp_path, monkeypatch, name):
    store, data = _seed(spark, tmp_path, name)
    rows, top = _rows(spark, data), _high_water(spark, data)

    real_replace = os.replace

    def failing_replace(src, dst):
        if dst == data and ".compact-" in src and ".pre-compact-" not in src:
            raise OSError("simulated crash installing staging")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="simulated crash"):
        CASES[name][2](spark, store)
    monkeypatch.undo()

    assert _rows(spark, data) == rows
    assert _high_water(spark, data) == top
    parent = os.path.dirname(data)
    assert [
        d for d in os.listdir(parent) if ".compact-" in d or ".pre-compact-" in d
    ] == []


@pytest.mark.parametrize("name", sorted(CASES))
def test_compact_keeps_footer_schema(spark, tmp_path, name):
    store, data = _seed(spark, tmp_path, name)
    schemas, top = _footer_schemas(data), _high_water(spark, data)
    CASES[name][2](spark, store)
    assert _footer_schemas(data) == schemas
    assert _high_water(spark, data) == top
