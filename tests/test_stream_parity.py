"""Stream-store parity queries (operators/stream_parity.py) on
SYNTHETIC corpora — the degenerate shapes the fixed testdata never
contains: a single-week stream (no scorable CUSUM/PSI batch at all),
a constant-value reference week (the sigma floor / zero-width-bin
paths), and a hot-key week that forces heavy-hitter truncation slack.

Each case writes an events parquet into a tmp dir, runs the REAL
query ``run`` (the sink replay harness) against it, and compares with
the query's own DuckDB oracle over the same file — the driver's
comparison, off the driver's data.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from fiveg_spark.operators import stream_parity as sp

BASE = 1_700_000_000
WEEK = sp.WEEK_S

_QUERIES = {q.name: q for q in sp.QUERIES}


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, epoch_s, user_id, event_type, value)"""
    df = spark.createDataFrame(
        [(i, int(t) * 1_000_000, u, et, float(v), "{}")
         for i, t, u, et, v in rows],
        "event_id LONG, us LONG, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    ).selectExpr(
        "event_id", "timestamp_micros(us) AS ts", "user_id",
        "event_type", "value", "props",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _oracle_df(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{sf_dir}/events.parquet/*.parquet'"
    )
    return con.execute(sql).fetchdf()


def _assert_match(spark, sf_dir: str, name: str):
    q = _QUERIES[name]
    got = q.run(spark, sf_dir).toPandas()
    want = _oracle_df(sf_dir, q.oracle)
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    g = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    w = want[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    assert len(g) == len(w), f"{name}: {len(g)} rows vs oracle {len(w)}"
    for c in cols:
        gv, wv = g[c], w[c]
        if gv.dtype.kind in "fc" or wv.dtype.kind in "fc":
            assert (
                gv.astype(float).fillna(-9e99).values
                == wv.astype(float).fillna(-9e99).values
            ).all(), f"{name}.{c}: {gv.tolist()} vs {wv.tolist()}"
        else:
            assert (
                gv.astype(str).values == wv.astype(str).values
            ).all(), f"{name}.{c}: {gv.tolist()} vs {wv.tolist()}"
    return got


_EVENT_QUERIES = (
    "stream_bloom_store_parity",
    "stream_heavy_store_parity",
    "stream_lateness_store_parity",
    "stream_cusum_store_parity",
    "stream_psi_store_parity",
    "stream_upsert_store_parity",
)


def test_single_week_corpus(spark, tmp_path):
    # one week only: CUSUM/PSI have no week >= 1 to score — both must
    # return ZERO rows (not crash on a missing store); the lateness
    # monitor has one forced-0.0 first batch; the rest degrade to a
    # one-batch stream
    rows = [
        (i, BASE + 60 * i, 100 + i % 3, "view", 1.0 + i) for i in range(20)
    ]
    sf = _write_events(spark, tmp_path, rows)
    for name in _EVENT_QUERIES:
        got = _assert_match(spark, sf, name)
        if name in ("stream_cusum_store_parity", "stream_psi_store_parity"):
            assert len(got) == 0


def test_constant_reference_week(spark, tmp_path):
    # week 0 constant value: CUSUM sigma floors at 1e-9 (any change
    # alarms immediately), PSI reference collapses to a single
    # zero-width bin; week 1 shifts the level
    rows = [(i, BASE + 600 * i, 1 + i % 5, "view", 5.0) for i in range(30)]
    rows += [
        (100 + i, BASE + WEEK + 600 * i, 1 + i % 5, "view", 9.0 + i % 2)
        for i in range(30)
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = _assert_match(spark, sf, "stream_cusum_store_parity")
    assert bool(got["alarm"].iloc[0])  # sigma-floored z is enormous
    _assert_match(spark, sf, "stream_psi_store_parity")


def test_hot_key_truncation_slack(spark, tmp_path):
    # 30 users in one type in week 0 (> HH_M = 16 candidates), a second
    # week re-ranks: the merged estimate bands must carry nonzero slack
    rows = []
    eid = 0
    for wk in range(2):
        for u in range(30):
            for _ in range(1 + (u % 7)):  # distinct counts, many ties
                rows.append((eid, BASE + wk * WEEK + eid % WEEK, u, "click", 1.0))
                eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = _assert_match(spark, sf, "stream_heavy_store_parity")
    assert (got["upper_count"] > got["est_count"]).any()


def test_dedup_waves_on_synthetic_duplicates(spark, tmp_path):
    # planted EXACT duplicates across waves: the duplicate text's only
    # accepted copy is the global min doc_id, in its own wave
    docs = []
    for i in range(40):
        text = "dup dup dup" if i % 10 == 0 else f"unique text {i}"
        docs.append((i, text, "en", "web", len(text)))
    spark.createDataFrame(
        docs, "doc_id LONG, text STRING, lang STRING, source STRING,"
        " n_chars LONG"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    q = _QUERIES["stream_dedup_store_parity"]
    got = q.run(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    want = con.execute(q.oracle).fetchdf()
    got = got.sort_values("wave").reset_index(drop=True)
    want = want.sort_values("wave").reset_index(drop=True)
    assert got.astype(str).equals(want.astype(str))
    # wave 0 holds doc 0 (the keeper); the 3 other dup copies vanish
    assert int(got["n_accepted"].sum()) == 37
