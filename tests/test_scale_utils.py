"""Scale-utility tests: bucketed tables join without an exchange, and
partitioned facts prune at runtime."""

from __future__ import annotations

from pyspark.sql import functions as F

from fiveg_spark.plans.explain import plan_facts
from fiveg_spark.sources.sinks import write_bucketed
from fiveg_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    orders = load_table(spark, "orders", SF_DIR).limit(2000)
    try:
        write_bucketed(
            orders.select("o_orderkey", "o_custkey", "o_totalprice"),
            "orders_b1",
            bucket_by=("o_custkey",),
            n_buckets=4,
            sort_by=("o_custkey",),
        )
        write_bucketed(
            orders.select("o_custkey", "o_orderdate"),
            "orders_b2",
            bucket_by=("o_custkey",),
            n_buckets=4,
        )
        a = spark.table("orders_b1")
        b = spark.table("orders_b2").groupBy("o_custkey").count()
        joined = a.join(b, "o_custkey")
        # co-located: the join itself needs no hashpartitioning of the
        # bucketed side (the agg side reuses the bucket partitioning too)
        facts = plan_facts(joined.select("o_orderkey", "count"), execute=True)
        assert facts.n_exchanges == 0, "bucketed join should not shuffle"
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b1")
        spark.sql("DROP TABLE IF EXISTS orders_b2")


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Scale feature: joining a date/type-partitioned fact against a
    FILTERED dimension must prune fact partitions at RUNTIME (dynamic
    partition pruning) — at 100 TB this is the difference between
    scanning one event_type's partitions and scanning all of them.
    Spark plans it as a dynamicpruning#N subquery on the fact's
    partition filter."""
    from fiveg_spark.sources.sinks import write_partitioned

    ev = load_table(spark, "events", SF_DIR)
    fact_path = str(tmp_path / "events_parted")
    write_partitioned(ev, fact_path, partition_by=("event_type",))

    dim = spark.createDataFrame(
        [("view", 1.0), ("click", 2.0), ("purchase", 5.0), ("login", 0.1), ("logout", 0.1)],
        "event_type string, weight double",
    )
    fact = spark.read.parquet(fact_path)
    joined = (
        fact.join(dim.filter(F.col("weight") > 1.0), "event_type")
        .groupBy("event_type")
        .agg(F.sum(F.col("value") * F.col("weight")).alias("weighted"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert joined.count() == 2
