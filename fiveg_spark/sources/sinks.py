"""Parquet sinks, batch + streaming (SURVEY §2 A5; ref
KafkaKpiPipeline.scala:293-300 — checkpointed parquet partitioned by
slice).

Partitioning by the low-cardinality analysis key (slice) gives
partition-pruned reads downstream; within each partition Spark writes
one file per task, so pair with AQE coalescing (session default) to
avoid small files at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("slice",),
    mode: str = "overwrite",
) -> None:
    """Batch parquet sink partitioned by the analysis key."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_format(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Format-agnostic batch sink (parquet/orc/json/csv — every format
    Spark ships without extra jars).  ORC matters for interop with
    Hive-era warehouses: columnar + predicate pushdown + partition
    pruning behave like parquet; JSON/CSV are interchange-only (no
    stats, no pruning beyond partitions) and belong at the edges of a
    pipeline, never in the hot path."""
    writer = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_format(spark, path: str, fmt: str = "parquet", schema=None):
    """Companion reader; pass the writer's schema for the text formats
    (JSON/CSV carry no types — schema-on-read keeps the round trip
    lossless and skips the inference scan)."""
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: tuple[str, ...],
    n_buckets: int,
    sort_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink: pre-shuffles on the join key so
    repeated joins/aggregations on ``bucket_by`` read co-located data
    with NO exchange (SURVEY §3 'co-located joins via bucketing').

    Bucketed layout only exists for tables (it needs the metastore to
    record bucket spec), hence ``saveAsTable`` rather than a path write.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_by: tuple[str, ...],
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Sorted-within-file parquet for DATA SKIPPING: clustering rows by
    the dominant filter keys makes parquet row-group min/max stats
    selective, so later scans skip whole row groups the predicate can't
    match (the poor man's z-order; for one-dimensional range filters it
    IS the optimal layout).  `sortWithinPartitions` keeps the sort local
    — no global sort shuffle."""
    out = df.sortWithinPartitions(*sort_by)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def streaming_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] = ("slice",),
    output_mode: str = "append",
) -> DataStreamWriter:
    """Checkpointed streaming parquet sink (caller starts it).

    Append output mode + watermark upstream means each window's row is
    written exactly once, after the watermark passes — the reference's
    ``outputMode("append")`` + checkpointLocation layout.
    """
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*partition_by)
        .outputMode(output_mode)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "order-v1",
    mode: str = "overwrite",
) -> None:
    """Training-shard writer: the PHYSICAL counterpart of the certified
    `training_order` query (operators/curation.py — same md5 key, same
    first-nibble shard rule).  Documents land in ``n_shards`` parquet
    shard directories, each holding ONE file whose row order is the
    deterministic keyed-hash permutation — so a training job streaming
    shard files front-to-back reads a reproducible pseudo-random order,
    decorrelated from ingestion order, identical across re-runs (hash,
    not RNG).

    Scale shape: `repartition(n_shards, shard)` CO-LOCATES each shard
    into exactly one task (hash partitioning may merge two shards into
    one task but can never split one), so `partitionBy(shard)` emits
    exactly one file per shard; the sort is `sortWithinPartitions` —
    per-task, never a global sort exchange.  At 100 TB raise n_shards
    so a shard fits an executor's write buffer; the plan shape is
    unchanged (one shuffle keyed on the shard, uniform by construction
    since the key is a cryptographic-hash prefix).

    ``n_shards`` must be a power of two ≤ 65536: the shard is the TOP
    log2(n_shards) bits of the first four key nibbles, so at 16 shards
    it reduces to exactly the first-nibble rule `training_order`
    certifies, and larger counts refine the same prefix ordering
    (shard boundaries nest — re-sharding a dataset upward never moves
    a doc across an old shard boundary)."""
    from pyspark.sql import functions as F

    if n_shards & (n_shards - 1) or not 0 < n_shards <= 65536:
        raise ValueError(f"n_shards must be a power of two <= 65536: {n_shards}")
    key = F.expr(
        f"substring(md5(concat('{salt}#', CAST({key_col} AS STRING))), 1, 8)"
    )
    prefix = F.conv(F.substring(key, 1, 4), 16, 10).cast("int")
    shard = (prefix / (65536 // n_shards)).cast("int")
    out = (
        df.withColumn("shuffle_key", key)
        .withColumn("shard", shard)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shuffle_key")
    )
    out.write.mode(mode).partitionBy("shard").parquet(path)
