"""Streaming ingestion dedup sink: within-batch + vs-store dedup,
crash-replay self-healing, column-pruned store read, and a wired
availableNow end-to-end run."""

from __future__ import annotations

from fiveg_spark.streaming.dedup_sink import foreach_batch_dedup

SCHEMA = "doc_id BIGINT, text STRING, source STRING"


def _docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _stored(spark, path):
    return {
        (r["doc_id"], r["text"]) for r in spark.read.parquet(path).collect()
    }


def test_dedup_sink_batches_and_replay(spark, tmp_path):
    path = str(tmp_path / "store")
    sink = foreach_batch_dedup(path)

    b0 = _docs(
        spark,
        [
            (0, "alpha beta", "s1"),
            (1, "alpha beta", "s1"),  # within-batch dup -> dropped
            (2, "gamma delta", "s1"),
        ],
    )
    sink(b0, 0)
    assert _stored(spark, path) == {(0, "alpha beta"), (2, "gamma delta")}

    b1 = _docs(
        spark,
        [
            (3, "ALPHA BETA", "s2"),   # case-normalized dup vs store
            (4, "epsilon zeta", "s2"),  # new
        ],
    )
    sink(b1, 1)
    expect = {(0, "alpha beta"), (2, "gamma delta"), (4, "epsilon zeta")}
    assert _stored(spark, path) == expect

    sink(b1, 1)  # crash-replay: store-as-state makes it a no-op
    assert _stored(spark, path) == expect

    sink(_docs(spark, []), 2)  # empty batch no-op
    assert _stored(spark, path) == expect


def test_dedup_sink_store_read_is_column_pruned(spark, tmp_path):
    path = str(tmp_path / "store")
    sink = foreach_batch_dedup(path)
    sink(_docs(spark, [(0, "alpha beta", "s1")]), 0)

    # the anti-join's store side must scan ONLY the hash column
    import pyspark.sql.functions as F

    batch = _docs(spark, [(9, "new text", "s1")]).withColumn(
        "h", F.md5(F.lower(F.col("text")))
    )
    seen = spark.read.parquet(path).select("h")
    plan = batch.join(seen, "h", "left_anti")._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<h:string>" in plan


def test_dedup_sink_streaming_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    _docs(
        spark,
        [(0, "alpha beta", "s1"), (1, "alpha beta", "s1"), (2, "new doc", "s1")],
    ).write.parquet(src)

    path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(foreach_batch_dedup(path))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _stored(spark, path) == {(0, "alpha beta"), (2, "new doc")}
