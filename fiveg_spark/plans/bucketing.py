"""Bucketed (pre-shuffled) table layout for recurring co-located joins
(SURVEY §2 A15; §7 round-5 backlog).

A fact-fact join — orders ⨝ lineitem on the order key, the workload's
most repeated shape (Q3/Q10/Q12/Q18/Q21 all contain it) — shuffles BOTH
fact sides on every run.  Bucketing the two tables by the join key with
the SAME bucket count moves that shuffle to write time: Spark records
the hash layout in the catalog, the scan reports `Bucketed: true`, and
every later equi-join on the key plans as a sort-merge join with ZERO
Exchange on either side.  At 100 TB this converts the workload's
dominant recurring shuffle (re-paid per query, per day, forever) into a
one-off write cost; it is the static sibling of AQE's runtime
re-planning and the storage-side counterpart of salting
(`salted_agg_throughput`).

Spark mechanics this module encodes so callers don't have to re-learn
them:

- ``bucketBy`` REQUIRES ``saveAsTable`` — the bucket hash function is
  catalog metadata, not something a bare parquet directory can carry.
  ``.option("path", …)`` keeps the bytes external so the table is
  droppable without deleting data.
- Shuffle elision needs: equal bucket counts, join key ⊆ bucket key,
  ``spark.sql.sources.bucketing.enabled=true`` (default), and the join
  must not degrade to broadcast (a broadcast join ignores bucketing —
  fine, it has no shuffle either).
- ``sortBy`` within buckets lets the merge phase skip its per-task Sort
  when each bucket holds one file (write with one task per bucket or
  accept the residual sort — it is cheap and spill-free either way).

Cite: reference KafkaKpiPipeline.scala:398-465 re-joins the same keyed
outputs per batch; this is the Spark-native way to make that recurrence
cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed external parquet table.

    ``n_buckets`` sizes the write-side shuffle AND every future join's
    parallelism floor: pick ~(cluster cores × small multiple) at scale,
    and keep it IDENTICAL for every table meant to co-join.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort:
        writer = writer.sortBy(*bucket_cols)
    writer.option("path", path).saveAsTable(table)


def drop_bucketed(spark: SparkSession, *tables: str) -> None:
    """Drop the catalog entries (external data stays on disk)."""
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def is_bucketed_scan(df: DataFrame) -> bool:
    """True when the (executed) plan reads at least one bucketed scan —
    the marker that the catalog layout was actually picked up."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return "Bucketed: true" in text
