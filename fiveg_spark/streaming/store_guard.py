"""The store recipe of the foreachBatch sink family (B15-B26): append
partials, guard replays by the store's max batch_id, merge on read,
compact while keeping the high-water mark.  Three shared pieces carry
it, so a fix lands once:

- ``is_replay`` — the guard: a batch_id at or below the store's
  high-water mark is a replay;
- ``partial_sink`` — the append: a sink supplies only its per-batch
  ``partial(batch_df)``; empty batches and replays are skipped, and
  every appended row is stamped with its ``batch_id``;
- ``rewrite`` — the compaction install: the merged frame lands in a
  ``.compact-<hex>`` sibling and swaps in through
  ``plans/compaction.install`` (restore-on-failure).  The store is
  never overwritten in place, so a failed compact keeps the store and
  its high-water mark, and the merged frame may read the very files
  it replaces.

Merge-on-read stays with each sink: its algebra is what differs.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.plans.compaction import install


def has_parquet(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    )


def is_replay(spark: SparkSession, path: str, batch_id: int) -> bool:
    """True when ``batch_id`` is at or below the store's high-water
    mark — foreachBatch re-delivers a batch with the SAME id after a
    crash, and batch ids are monotonic under one checkpoint.  Reads
    one tiny column."""
    if not has_parquet(path):
        return False
    top = (
        spark.read.parquet(path).agg(F.max("batch_id").alias("m")).head()["m"]
    )
    return top is not None and batch_id <= top


def partial_sink(
    path: str, partial: Callable[[DataFrame], DataFrame]
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function appending
    ``partial(batch_df)`` to ``path``, stamped with ``batch_id``."""

    def append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if is_replay(batch_df.sparkSession, path, batch_id):
            return  # replayed batch: already appended
        partial(batch_df).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).write.mode("append").parquet(path)

    return append


def rewrite(path: str, frame: DataFrame) -> None:
    """Replace the store at ``path`` with ``frame`` (usually derived
    from ``path`` itself): write a sibling, then swap it in."""
    staging = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    try:
        frame.write.mode("overwrite").parquet(staging)
        install(staging, path)
    except BaseException:
        # the store is in place at `path` here: install either never
        # moved it or put it back
        shutil.rmtree(staging, ignore_errors=True)
        raise
