"""Incrementally-maintained aggregate table (SURVEY §2 A40) — the
MERGE-maintained MATERIALIZED VIEW tail: a stream drains through
``foreachBatch`` into a versioned aggregate store, each micro-batch
folding its partial aggregates into the running table instead of
re-scanning history (the Kafka→"gold table" rollup every lakehouse
maintains; the reference's pipeline recomputes windows from scratch,
KafkaKpiPipeline.scala:293-300 — this is the incremental-view upgrade).

Only DECOMPOSABLE aggregates are maintained — count + sums — because
they merge associatively: ``merged = re-aggregate(old ⊎ batch-partial)``
is exact regardless of how rows were split across batches.  Ratios
(avg) derive at READ time from the maintained sums, never stored (a
stored avg cannot merge).

Failure model (what makes foreachBatch + files safe without a
transactional sink):

- **versioned snapshots**: each apply writes a brand-new ``v{n}``
  directory and flips a manifest via ``os.replace`` (atomic on POSIX).
  Readers resolve the manifest first — a crash mid-write leaves a
  dangling unreferenced directory, never a half-visible table.
- **replay idempotence**: the manifest records applied
  ``(stream_run_id, batch_id)`` pairs; a crash between foreachBatch
  and checkpoint commit re-delivers the same epoch, which the manifest
  check turns into a no-op — aggregates are NOT naturally idempotent
  (a replayed fold double-counts), so unlike the CDC store the dedup
  ledger is load-bearing here.
- **out-of-order batches cannot occur** within one query (epochs are
  sequential), and cross-query merges are keyed by run id.

Scale: the aggregate table is bounded by GROUP cardinality, not stream
volume — the whole point of maintaining it — so the per-batch rewrite
is O(groups + batch); at a group cardinality where a single file stops
being appropriate the store would adopt A35's bucket layout (the merge
algebra is unchanged).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_agg_manifest.json"
_KEEP_VERSIONS = 3  # retained snapshot dirs (current + reader grace)


def _read_manifest(path: str) -> dict:
    with open(os.path.join(path, _MANIFEST)) as fh:
        return json.load(fh)


def _write_manifest(path: str, manifest: dict) -> None:
    tmp = os.path.join(path, f".{_MANIFEST}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, sort_keys=True, indent=1)
    os.replace(tmp, os.path.join(path, _MANIFEST))


def init_agg_store(
    spark: SparkSession,
    path: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> None:
    """Create an empty aggregate store: schema = group_cols + n_rows +
    sum_<col> per maintained sum."""
    os.makedirs(path, exist_ok=True)
    _write_manifest(path, {
        "version": 0,
        "table": None,  # no snapshot yet — read_agg_table yields empty
        "group_cols": group_cols,
        "sum_cols": sum_cols,
        "applied": [],
    })


def read_agg_table(spark: SparkSession, path: str) -> DataFrame:
    """Current snapshot: (group_cols..., n_rows, sum_<col>...).  Empty
    (correct schema, zero rows) before the first applied batch."""
    m = _read_manifest(path)
    if m["table"] is None:
        fields = [f"{c} STRING" for c in m["group_cols"]]
        fields.append("n_rows BIGINT")
        fields += [f"sum_{c} DOUBLE" for c in m["sum_cols"]]
        return spark.createDataFrame([], ", ".join(fields))
    return spark.read.parquet(os.path.join(path, m["table"]))


def _partial(df: DataFrame, group_cols: list[str], sum_cols: list[str]) -> DataFrame:
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    aggs += [F.sum(F.col(c).cast("double")).alias(f"sum_{c}") for c in sum_cols]
    return df.groupBy(*[F.col(c).cast("string").alias(c) for c in group_cols]).agg(*aggs)


def apply_increment(
    spark: SparkSession,
    path: str,
    batch_df: DataFrame,
    run_id: str,
    batch_id: int,
) -> bool:
    """Fold one micro-batch into the store.  Returns False (no-op) when
    this (run_id, batch_id) was already applied — the replay guard."""
    m = _read_manifest(path)
    tag = f"{run_id}/{batch_id}"
    if tag in m["applied"]:
        return False
    group_cols, sum_cols = m["group_cols"], m["sum_cols"]
    merged = _partial(batch_df, group_cols, sum_cols)
    old = read_agg_table(spark, path)
    # decomposable merge: union of partials re-aggregates exactly
    merged = (
        old.unionByName(merged)
        .groupBy(*group_cols)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
        )
    )
    vdir = f"v{m['version'] + 1}"
    merged.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, vdir))
    m["version"] += 1
    m["table"] = vdir
    m["applied"] = sorted(m["applied"] + [tag])
    _write_manifest(path, m)
    # retention: old snapshots are unreachable once the manifest flips —
    # without a sweep the store grows one full table copy per batch.
    # Kept versions > 1 give a concurrent reader that resolved the
    # previous manifest time to finish its scan.
    import shutil

    for n in range(1, m["version"] - _KEEP_VERSIONS + 1):
        shutil.rmtree(os.path.join(path, f"v{n}"), ignore_errors=True)
    return True


def foreach_batch_agg(
    store_path: str, run_id: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch hook maintaining the aggregate store.  ``run_id``
    scopes the replay ledger to one streaming query incarnation (epoch
    ids restart at 0 for a new checkpoint — two queries folding into
    one store must carry distinct run ids)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_increment(
            batch_df.sparkSession, store_path, batch_df, run_id, batch_id
        )

    return apply_batch
