"""Streaming CDC tail (SURVEY §2 A38): A35's sink half — a changelog
STREAM drains into the bucketed row-level store through ``foreachBatch``
+ the real ``apply_changelog``, turning the batch MERGE INTO surface
into a continuously-applied one (the Kafka→Delta `MERGE` tail every
lakehouse runs; the reference's pipeline only ever appends,
KafkaKpiPipeline.scala:293-300).

Semantics come from the STORE, not the stream, which is what makes the
wiring safe under streaming's failure model:

- **replay idempotence**: a crash between foreachBatch and checkpoint
  commit re-delivers the batch; every re-applied winner is now
  at-or-below the stored ``_cdc_seq`` for its key, so the replay is a
  structural no-op (the store's stale-replay guard IS the
  exactly-once-effective mechanism — no transactional sink needed).
- **late/out-of-order batches**: a batch carrying older seqs than the
  store loses key-by-key, including against tombstones (a late
  pre-delete update cannot resurrect a deleted row).
- **within-batch conflicts**: the winner reduction (max seq,
  op-ascending tiebreak) resolves them before any bucket is touched.

Scale: each micro-batch costs O(batch + touched-bucket bytes),
independent of store size (the A35 argument); the stream adds no state
of its own — no watermark, no state store — because the seq column
already carries the ordering contract end-to-end.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from fiveg_spark.sources.cdc import apply_changelog


def foreach_batch_cdc(
    store_path: str,
    key: str,
    n_buckets: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function applying each micro-batch of
    changelog rows (key, seq, op, payload...) to the store at
    ``store_path``.  ``n_buckets`` defaults to the store's persisted
    layout (sources/cdc.py metadata); a mismatching explicit value
    fails the batch loudly rather than corrupting bucket routing."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_changelog(
            batch_df.sparkSession, store_path, batch_df, key,
            n_buckets=n_buckets,
        )

    return apply_batch
