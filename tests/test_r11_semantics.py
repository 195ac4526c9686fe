"""Planted-fixture semantics pins for the round-11 operators: the
erf-free normal CDF, the BH-screened mean-shift scan, and the streaming
36-KPI parity's formula alignment.

Slice mapping (kpi.packet_projection): user_id % 3 → 0 = eMBB,
1 = URLLC, 2 = mMTC.
"""

from __future__ import annotations

import math

_EV_SCHEMA = (
    "event_id BIGINT, es BIGINT, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _events_view(spark, rows):
    """rows: (event_id, epoch_s, user_id, event_type, value)"""
    spark.createDataFrame(
        [(*r, "{}") for r in rows], _EV_SCHEMA
    ).selectExpr(
        "event_id",
        "timestamp_micros(es * 1000000) AS ts",
        "user_id", "event_type", "value", "props",
    ).createOrReplaceTempView("events")


BASE = 19675 * 86400


def test_normal_cdf_matches_erf_reference(spark):
    """A&S 26.2.17 must track Φ to its documented 7.5e-8 bound — both
    engines run the identical SQL text, so one engine's check covers
    the parity claim."""
    from fiveg_spark.functions.stats import normal_cdf_sql, two_sided_p_sql

    xs = [-4.0, -2.5, -1.959963985, -1.0, -0.1, 0.0, 0.1, 1.0, 1.645, 3.2]
    sql = ", ".join(
        f"{normal_cdf_sql(str(x))} AS c{i}" for i, x in enumerate(xs)
    )
    row = spark.sql(f"SELECT {sql}").head()
    for i, x in enumerate(xs):
        exact = 0.5 * (1.0 + math.erf(x / math.sqrt(2.0)))
        assert abs(row[i] - exact) < 1e-7, (x, row[i], exact)
    # two-sided p at the textbook 1.96: within rounding of 0.05
    p = spark.sql(f"SELECT {two_sided_p_sql('1.959963985')} AS p").head()["p"]
    assert abs(p - 0.05) < 1e-6


def test_bh_screen_planted_shift_is_the_discovery(spark):
    """One (slice, type) cell planted 3 SDs high over a noisy null
    corpus → it must rank first and be the only discovery."""
    from fiveg_spark.operators.stats_tests import _bh_screen_sql

    rows = []
    eid = 0
    # null cells: 3 slices x 3 types, 400 events each, values alternate
    # 4/6 (mean 5, sd 1); LARGE so the small planted cell can't drag
    # the complement mean enough to make the nulls look shifted too
    for u in range(3):
        for t in ("a", "b", "c"):
            for i in range(400):
                rows.append((eid, BASE + eid, u, t, 4.0 + 2.0 * (i % 2)))
                eid += 1
    # the planted cell: slice eMBB (user 0), type 'shift', n=40, mean 8
    # (~19 standard errors above the complement)
    for i in range(40):
        rows.append((eid, BASE + eid, 0, "shift", 7.0 + 2.0 * (i % 2)))
        eid += 1
    _events_view(spark, rows)
    got = {
        (r["slice"], r["event_type"]): r
        for r in spark.sql(_bh_screen_sql("spark")).collect()
    }
    planted = got[("eMBB", "shift")]
    assert planted["discovery"] and planted["p_rank"] == 1
    assert planted["p_two_sided"] < 1e-5
    nulls_discovered = [
        k for k, r in got.items() if r["discovery"] and k != ("eMBB", "shift")
    ]
    assert nulls_discovered == []


def test_bh_screen_pure_null_has_zero_discoveries(spark):
    """Every cell identically distributed (all values 5.0) → every z
    is 0, every p is 1, zero discoveries — deterministically."""
    from fiveg_spark.operators.stats_tests import _bh_screen_sql

    rows = [
        (eid, BASE + eid, eid % 3, ("a", "b", "c")[eid % 3 % 3], 5.0)
        for eid in range(90)
    ]
    _events_view(spark, rows)
    out = spark.sql(_bh_screen_sql("spark")).collect()
    assert all(not r["discovery"] for r in out)
    assert all(r["p_two_sided"] > 0.99 for r in out)


def test_streaming_kpi_aggs_match_batch_formulas(spark):
    """The stream≡batch alignment is structural: the streaming agg has
    the batch flagship's 36 names in the same order, 31 of its
    expressions are the batch expression itself (unrounded), and the
    other 5 are exactly the approximate form of the same column —
    percentile_approx for the median, HLL for the 4 distinct counts."""
    import re

    from pyspark.sql import functions as F

    from fiveg_spark.operators.kpi import kpi_aggregates
    from fiveg_spark.streaming.kpi_stream import streaming_kpi_aggs

    unwrap = re.compile(
        r"CAST\(round\(coalesce\((?P<f>.*), 0\.0\) \+ 1e-9, 4\) \+ 0\.0 AS DOUBLE\)"
        r"|CAST\((?P<c>.*) AS BIGINT\)"
    )
    batch = []
    for text in kpi_aggregates(dialect="spark"):
        wrapped, name = text.rsplit(" AS ", 1)
        m = unwrap.fullmatch(wrapped)
        batch.append((name, m["f"] if m["f"] is not None else m["c"]))

    approx = {}
    expected = []
    for name, expr in batch:
        if m := re.fullmatch(r"percentile\((\w+), 0\.5\)", expr):
            approx[name] = expr = f"percentile_approx({m[1]}, 0.5, 100)"
        elif m := re.fullmatch(r"size\(collect_set\((\w+)\)\)", expr):
            approx[name] = expr = f"approx_count_distinct({m[1]})"
        expected.append(str(F.expr(expr).alias(name)))

    stream = [str(c) for c in streaming_kpi_aggs()]
    assert len(stream) == len(expected) == 36
    assert stream == expected
    assert sorted(approx) == sorted([
        "IAT_Median", "Unique_Pkt_Sizes", "Protocol_Diversity",
        "Unique_Src_Ports", "Unique_Dst_Ports",
    ])


def test_source_ingestion_burstiness_planted_modes(spark):
    """'alpha' (md5 first digit 2 → batch mode) must read overdispersed
    with every arrival on the 30-min grid; 'beta' (digit 9 → trickle)
    must read Poisson-flat."""
    from fiveg_spark.operators.lateness import _source_ingestion_burstiness_sql

    spark.createDataFrame(
        [(i, "t", "en", ("alpha", "beta")[i % 2], 10) for i in range(4000)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    ).createOrReplaceTempView("documents")
    got = {
        r["source"]: r
        for r in spark.sql(_source_ingestion_burstiness_sql("spark")).collect()
    }
    a, b = got["alpha"], got["beta"]
    assert a["batch_mode"] and a["overdispersed"]
    assert not b["batch_mode"] and not b["overdispersed"]
    # batch grid: alpha's active minutes are only the 48 batch starts
    assert a["active_minutes"] <= 48 < b["active_minutes"]
    assert a["fano_factor"] > 1.2 > b["fano_factor"]


def test_chi2_sf_matches_erlang_reference(spark):
    """Even-dof Erlang-tail survival must match an independent fsum
    reference to double precision, and reject odd dof."""
    import pytest

    from fiveg_spark.functions.stats import chi2_sf_sql

    def ref(x, dof):
        m = dof // 2
        h = x / 2.0
        return math.exp(-h) * math.fsum(
            h**k / math.factorial(k) for k in range(m)
        )

    cases = [(2, 0.5), (2, 9.2), (6, 1.0), (6, 12.592), (10, 25.0)]
    sql = ", ".join(
        f"{chi2_sf_sql(str(x), dof)} AS c{i}"
        for i, (dof, x) in enumerate(cases)
    )
    row = spark.sql(f"SELECT {sql}").head()
    for i, (dof, x) in enumerate(cases):
        assert abs(row[i] - ref(x, dof)) < 1e-12, (dof, x)
    with pytest.raises(ValueError):
        chi2_sf_sql("1.0", 5)


def test_ljung_box_decisions_planted_autocorrelation(spark):
    """A strongly sinusoidal slice must be the BH discovery; white
    (constant) slices must stay quiet with p = 1."""
    from fiveg_spark.operators.ts_diagnostics import _ljung_box_decisions_sql

    rows = []
    eid = 0
    # 80 hourly points per slice; user_id fixes the slice mapping
    for i in range(80):
        # eMBB (u=0): sinusoid with period 8 -> heavy lag-k correlation
        rows.append((eid, BASE + 3600 * i, 0,
                     "a", 100.0 + 50.0 * math.sin(2 * math.pi * i / 8)))
        eid += 1
        # URLLC (u=1): constant -> ss = 0 guard, Q = 0, p = 1
        rows.append((eid, BASE + 3600 * i, 1, "a", 42.0))
        eid += 1
    _events_view(spark, rows)
    got = {r["slice"]: r
           for r in spark.sql(_ljung_box_decisions_sql("spark")).collect()}
    assert got["eMBB"]["autocorrelated_discovery"]
    assert got["eMBB"]["p_chi2_6"] < 1e-4
    assert not got["URLLC"]["autocorrelated_discovery"]
    assert got["URLLC"]["p_chi2_6"] == 1.0
