"""Salted join: result identity with the plain join + salt spread."""

from __future__ import annotations

from pyspark.sql import functions as F

from fiveg_spark.functions.skew import salted_join


def _skewed_frames(spark):
    # 90% of big rows share key 'hot'
    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}", i * 1.0) for i in range(1000)],
        "row_id BIGINT, k STRING, v DOUBLE",
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k10", 2), ("k20", 3), ("absent", 4)], "k STRING, dim INT"
    )
    return big, small


def test_salted_join_matches_plain_inner(spark):
    big, small = _skewed_frames(spark)
    plain = big.join(small, "k").select("row_id", "k", "v", "dim")
    salted = salted_join(big, small, on="k", salt_from="row_id").select(
        "row_id", "k", "v", "dim"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_left_preserves_unmatched(spark):
    big, small = _skewed_frames(spark)
    plain = big.join(small, "k", "left").select("row_id", "dim")
    salted = salted_join(big, small, on="k", salt_from="row_id", how="left").select(
        "row_id", "dim"
    )
    assert sorted(map(tuple, salted.collect()), key=repr) == sorted(
        map(tuple, plain.collect()), key=repr
    )


def test_salt_actually_spreads_hot_key(spark):
    big, small = _skewed_frames(spark)
    salted = big.withColumn("_salt", F.pmod(F.hash(F.col("row_id")), F.lit(8)))
    spread = (
        salted.filter(F.col("k") == "hot").groupBy("_salt").count().collect()
    )
    assert len(spread) == 8  # hot key present in every salt bucket
    counts = [r["count"] for r in spread]
    assert max(counts) < 2 * min(counts)  # roughly even


def test_aqe_skew_join_fires_on_hot_key(spark):
    """SURVEY §3 claims AQE skew-join handles residual hot keys the
    salting utility doesn't cover — pin that the session config actually
    fires: a 90%-hot-key shuffle join must come back with
    SortMergeJoin(skew=true) + a skewed AQEShuffleRead in the FINAL
    adaptive plan (thresholds lowered so a test-sized frame qualifies)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-payload-payload-"), F.col("id").cast("string")).alias("pay"),
        )
        small = spark.range(0, 20_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = big.join(small, "k")
        n = j.count()
        jj = big.join(small, "k")
        jj.collect()
        plan = jj._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan =="
        )[0]
        assert "skew=true" in plan, "AQE did not mark the skewed join"
        assert "skewed" in plan, "no skewed AQEShuffleRead in final plan"
        # correctness unaffected: every big row with k < 20000 matches once
        assert n == 200_000 - (200_000 // 10) + len(range(0, 20_000, 10))
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
