"""Streaming EWMA anomaly: micro-batched replay must equal the pure
recursion, and a planted spike must flag."""

from __future__ import annotations

import numpy as np
import pandas as pd

from fiveg_spark.streaming.anomaly import batch_reference, streaming_ewma_anomaly


def _feed(spark, tmp_path, pdf, n_chunks=3):
    """Write the measurement frame as several parquet files so
    availableNow replays it across multiple micro-batches."""
    src = tmp_path / "meas"
    src.mkdir()
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), n_chunks)):
        spark.createDataFrame(pdf.iloc[chunk]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{i}"))
    schema = spark.createDataFrame(pdf).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )


def _run(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).toPandas()


def test_stream_equals_batch_recursion(spark, tmp_path):
    rng = np.random.default_rng(7)
    rows = []
    for slc in ("embb", "urllc"):
        base = 100.0 if slc == "embb" else 10.0
        vals = base + rng.normal(0, 5, size=60)
        vals[40] = base + 60.0  # planted spike
        for t, v in enumerate(vals):
            rows.append((slc, float(t), float(v)))
    pdf = pd.DataFrame(rows, columns=["slice", "ts_sec", "value"])

    # chunks cover contiguous time ranges (state recursion is order-
    # sensitive ACROSS batches) but rows are shuffled WITHIN each chunk
    # (the per-batch mergesort must repair intra-batch disorder)
    chunked = pd.concat(
        [
            c.sample(frac=1.0, random_state=3)
            for c in np.array_split(pdf.sort_values("ts_sec", kind="mergesort"), 3)
        ]
    )
    stream = _feed(spark, tmp_path, chunked)
    got = (
        _run(spark, streaming_ewma_anomaly(stream), "anomaly_stream")
        .sort_values(["slice", "ts_sec"])
        .reset_index(drop=True)
    )
    want = (
        batch_reference(pdf).sort_values(["slice", "ts_sec"]).reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert np.allclose(got["zscore"], want["zscore"], atol=1e-9)
    assert (got["is_anomaly"] == want["is_anomaly"]).all()
    # the planted spikes flag in both slices
    flagged = got[got["is_anomaly"]]
    assert set(flagged["slice"]) == {"embb", "urllc"}
    assert {40.0} <= set(flagged["ts_sec"])
