"""Semantic checks for analytics_ext — oracle parity proves Spark≡DuckDB,
these pin the formulas against independent references (pandas / numpy)."""

from __future__ import annotations

import numpy as np

from fiveg_spark.operators.analytics_ext import QUERIES

_Q = {q.name: q for q in QUERIES}

SF_DIR = None  # set from conftest fixture default


def _run(spark, name):
    import tests.conftest as c

    return _Q[name].run(spark, c.SF_DIR).toPandas()


def test_ewma_matches_pandas_ewm(spark):
    out = _run(spark, "ewma_throughput").sort_values(["event_type", "day"])
    for et, grp in out.groupby("event_type"):
        expected = grp["daily_value"].ewm(alpha=0.2, adjust=True).mean()
        np.testing.assert_allclose(
            grp["ewma"].to_numpy(), expected.to_numpy(), atol=2e-4
        )


def test_zscore_matches_numpy(spark):
    anomalies = _run(spark, "zscore_anomalies")
    daily = _run(spark, "ewma_throughput")[["event_type", "day", "daily_value"]]
    for et, grp in daily.groupby("event_type"):
        v = grp["daily_value"].to_numpy()
        z = (v - v.mean()) / v.std(ddof=1)
        expect_days = set(grp["day"].to_numpy()[np.abs(np.round(z, 4)) > 2.0])
        got_days = set(anomalies[anomalies["event_type"] == et]["day"])
        assert got_days == expect_days


def test_cube_totals_consistent(spark):
    out = _run(spark, "cube_event_volume")
    grand = out[(out["g_type"] == 1) & (out["g_month"] == 1)]
    assert len(grand) == 1
    per_type = out[(out["g_type"] == 0) & (out["g_month"] == 1)]
    assert per_type["n_events"].sum() == grand["n_events"].iloc[0]
    per_month = out[(out["g_type"] == 1) & (out["g_month"] == 0)]
    assert per_month["n_events"].sum() == grand["n_events"].iloc[0]


def test_set_ops_cohorts_partition(spark, duck):
    out = _run(spark, "set_ops_cohorts").set_index("cohort")["n_customers"]
    n97 = duck.execute(
        "SELECT count(DISTINCT o_custkey) FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'"
    ).fetchone()[0]
    # retained + churned partition the 1997 cohort exactly
    assert out["retained"] + out["churned"] == n97


def test_embedding_norms_match_numpy(spark, duck):
    out = _run(spark, "embedding_norm_stats")
    emb = duck.execute("SELECT label, embedding FROM embeddings").df()
    for _, row in out.iterrows():
        X = np.stack(
            [np.asarray(e, dtype=np.float64) for e in emb[emb["label"] == row["label"]]["embedding"]]
        )
        norms = np.sqrt((X**2).sum(axis=1))
        np.testing.assert_allclose(row["avg_norm"], norms.mean(), atol=2e-4)
        np.testing.assert_allclose(row["max_norm"], norms.max(), atol=2e-4)
        assert row["dim"] == X.shape[1]


def test_percent_of_total_shares_sum_to_one(spark):
    from fiveg_spark.operators.analytics_ext import QUERIES as _AQ
    import tests.conftest as c

    q = {x.name: x for x in _AQ}["percent_of_total"]
    df = q.run(spark, c.SF_DIR).toPandas()
    by_region = df.groupby("region")["share_of_region"].sum()
    assert ((by_region - 1.0).abs() < 1e-2).all()
    assert abs(df["share_of_world"].sum() - 1.0) < 1e-2
    # rank 1 is the region max
    for _, g in df.groupby("region"):
        assert g.loc[g["rank_in_region"] == 1, "revenue"].iloc[0] == g["revenue"].max()


def test_unpivot_emits_three_metrics_per_slice(spark):
    from fiveg_spark.operators.analytics_ext import QUERIES as _AQ
    import tests.conftest as c

    q = {x.name: x for x in _AQ}["unpivot_slice_stats"]
    df = q.run(spark, c.SF_DIR).toPandas()
    per_slice = df.groupby("slice")["metric"].apply(lambda s: sorted(s))
    for metrics in per_slice:
        assert metrics == ["avg_pkt_len", "n_packets", "total_bytes"]
    # melt preserves values: avg * count == sum (packet-len identity)
    wide = df.pivot(index="slice", columns="metric", values="value")
    rel = (wide["avg_pkt_len"] * wide["n_packets"] / wide["total_bytes"] - 1.0).abs()
    assert (rel < 1e-3).all()


def test_table_profile_stats_correct(spark, duck):
    from fiveg_spark.operators.quality import QUERIES as _QQ
    import tests.conftest as c

    q = {x.name: x for x in _QQ}["table_profile"]
    df = q.run(spark, c.SF_DIR).toPandas().set_index("column_name")
    truth = duck.execute(
        "SELECT count(*) AS n, count(DISTINCT event_type) AS ndv_et, "
        "min(value) AS mn, max(value) AS mx FROM events"
    ).df().iloc[0]
    assert (df["n_rows"] == truth["n"]).all()
    assert df.loc["event_type", "ndv"] == truth["ndv_et"]
    assert df.loc["value", "min_v"] == round(float(truth["mn"]) + 1e-9, 4)
    assert df.loc["value", "max_v"] == round(float(truth["mx"]) + 1e-9, 4)
    assert df.loc["event_type", ["min_v", "max_v", "mean_v"]].isna().all()


def test_hhi_bounds_and_planted_monopoly(spark):
    from fiveg_spark.operators.relational_ext import _hhi_sql

    # brand M: one supplier ships everything (HHI = 1, concentrated);
    # brand E: four equal suppliers (HHI = 0.25, boundary -> moderate)
    li = []
    for i in range(8):
        li.append((i, 100 + (i % 1), 1, 10.0))  # partkey 100 -> brand M, supplier 1
    for i in range(8, 16):
        li.append((i, 200, 1 + (i % 4), 5.0))  # partkey 200 -> brand E, suppliers 1-4
    spark.createDataFrame(
        li, "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE"
    ).createOrReplaceTempView("lineitem")
    spark.createDataFrame(
        [(100, "Brand#M"), (200, "Brand#E")], "p_partkey BIGINT, p_brand STRING"
    ).createOrReplaceTempView("part")
    got = {r["p_brand"]: r.asDict() for r in spark.sql(_hhi_sql("spark")).collect()}
    m, e = got["Brand#M"], got["Brand#E"]
    assert m["hhi"] == 1.0 and m["n_suppliers"] == 1
    assert m["market_class"] == "concentrated"
    assert e["hhi"] == 0.25 and e["n_suppliers"] == 4
    assert e["market_class"] == "moderate"  # 0.25 is not > 0.25
    assert e["top_share"] == 0.25
