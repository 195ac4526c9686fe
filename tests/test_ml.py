"""ML-block equivalence tests (SURVEY §5): the distributed linear
algebra must match straight numpy on the same (collected) data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fiveg_spark.ml.features import FEATURES, feature_frame, robust_scale, with_split
from fiveg_spark.ml.hybrid import hybrid_eval
from fiveg_spark.ml.model import forward, init_weights, predict_residuals
from fiveg_spark.ml.sequences import sliding_sequences
from fiveg_spark.ml.var import (
    collect_gram,
    lag_design,
    normal_equations,
    solve_coefficients,
)
from fiveg_spark.operators.kpi import kpi36
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def scaled(spark):
    df, _, _ = robust_scale(feature_frame(kpi36(spark, SF_DIR)))
    df.cache().count()
    return df


def test_robust_scaler_train_median_zero(scaled):
    """After robust scaling, the train split's median is 0 per feature."""
    train = scaled.filter(F.col("split") == "train")
    meds = train.groupBy("slice").agg(
        *[F.expr(f"percentile({f}, 0.5)").alias(f) for f in FEATURES]
    )
    for row in meds.collect():
        for f in FEATURES:
            assert abs(row[f]) < 1e-9, f"{row['slice']}.{f} median {row[f]}"


def test_var_normal_equations_match_numpy_lstsq(scaled):
    design = lag_design(scaled, p=3).filter(F.col("split") == "train")
    coeffs = solve_coefficients(normal_equations(design))

    rows = design.orderBy("slice", "window_start").collect()
    by_slice: dict[str, list] = {}
    for r in rows:
        by_slice.setdefault(r["slice"], []).append(r)
    for slice_name, rs in by_slice.items():
        X = np.array([r["x"] for r in rs])
        Y = np.array([r["y"] for r in rs])
        B_np, *_ = np.linalg.lstsq(X, Y, rcond=None)
        B_spark = coeffs[slice_name]
        assert B_spark.shape == B_np.shape
        np.testing.assert_allclose(B_spark, B_np, rtol=1e-4, atol=1e-6)


def test_gram_carries_the_target_moments(scaled):
    """n, Σy and YᵀY per slice come off the one collected Gram of
    [X | Y]: the intercept cell, the intercept row of XᵀY and the
    target block."""
    design = lag_design(scaled, p=3).filter(F.col("split") == "train")
    gram = collect_gram(normal_equations(design))
    rows = design.select("slice", "y").collect()
    assert set(gram) == {r["slice"] for r in rows}
    for slice_name, (xtx, xty, yty) in gram.items():
        Y = np.array([r["y"] for r in rows if r["slice"] == slice_name])
        assert xtx[0, 0] == len(Y)
        assert np.allclose(xty[0], Y.sum(axis=0))
        assert np.allclose(yty, Y.T @ Y)


def test_sliding_sequences_are_the_preceding_rows(spark, scaled):
    w = 5
    seqs = sliding_sequences(scaled, window=w)
    one_slice = seqs.filter(F.col("slice") == "eMBB").orderBy("window_start")
    seq_rows = one_slice.collect()
    base = (
        scaled.filter(F.col("slice") == "eMBB")
        .orderBy("window_start")
        .select("window_start", *FEATURES)
        .collect()
    )
    by_ts = {r["window_start"]: [r[f] for f in FEATURES] for r in base}
    ts_sorted = [r["window_start"] for r in base]
    idx = {t: i for i, t in enumerate(ts_sorted)}
    assert len(seq_rows) == len(base) - w
    for r in seq_rows[:25]:
        i = idx[r["window_start"]]
        expected = [by_ts[ts_sorted[j]] for j in range(i - w, i)]
        got = [list(v) for v in r["seq"]]
        np.testing.assert_allclose(got, expected)
        np.testing.assert_allclose(list(r["target"]), by_ts[r["window_start"]])


def test_spark_forward_matches_local_numpy(spark, scaled):
    w = init_weights()
    seqs = sliding_sequences(scaled, window=10).limit(40)
    preds = predict_residuals(seqs, spark.sparkContext.broadcast(w))
    got = {
        (r["slice"], r["window_start"]): np.array(r["resid_pred"])
        for r in preds.collect()
    }
    local_rows = seqs.collect()
    X = np.stack([np.stack([np.asarray(r) for r in row["seq"]]) for row in local_rows])
    expected = forward(X, w)
    assert len(got) == len(local_rows)
    for i, row in enumerate(local_rows):
        # float32 forward pass: Arrow round-trip + chunked batching reorder
        # summations, so drift up to a few ULPs per layer is expected.
        np.testing.assert_allclose(
            got[(row["slice"], row["window_start"])], expected[i], rtol=1e-4, atol=1e-5
        )


def test_hybrid_eval_surface(spark):
    df = hybrid_eval(spark, SF_DIR, p=2, window=12)
    rows = df.collect()
    assert {r["feature"] for r in rows} == set(FEATURES)
    assert all(r["rmse"] >= 0 and r["mae"] >= 0 for r in rows)
    assert all(r["n"] > 0 for r in rows)


def test_hybrid_eval_does_not_depend_on_the_physical_plan(spark):
    """The float32 forward's output for a row moves with the rows that
    share its chunk, so chunks follow each series: the metrics must not
    move with the shuffle width or with AQE's partition coalescing."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    seen = {}
    try:
        for parts in ("1", "8"):
            for aqe in ("true", "false"):
                for k, v in zip(keys, (parts, aqe)):
                    spark.conf.set(k, v)
                rows = hybrid_eval(spark, SF_DIR, p=2, window=12).collect()
                seen[(parts, aqe)] = sorted(tuple(r) for r in rows)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    distinct = {tuple(v) for v in seen.values()}
    assert len(distinct) == 1, seen


def test_fused_forecast_matches_the_stepwise_path(spark):
    """hybrid_forecast's one per-slice pass against the stepwise frames
    (residual_pipeline → sequences → predict_residuals → compose): same
    rows, y bit for bit (y = var_pred + resid, then inverse-scaled), and
    yhat within the float32 forward's batch drift."""
    from fiveg_spark.ml.hybrid import hybrid_forecast, residual_pipeline

    p, window, splits = 2, 12, ("train", "val", "test")
    fused = {
        (r["slice"], r["window_start"], r["split"], r["feature"]): (r["yhat"], r["y"])
        for r in hybrid_forecast(spark, SF_DIR, p=p, window=window, splits=splits).collect()
    }

    resid, sequences, params = residual_pipeline(spark, SF_DIR, p=p, window=window)
    preds = predict_residuals(sequences, spark.sparkContext.broadcast(init_weights()))
    var_pred = {
        (r["slice"], r["window_start"]): r["var_pred"]
        for r in resid.select("slice", "window_start", "var_pred").collect()
    }
    scaler = {r["slice"]: r for r in params.collect()}
    stepwise = {}
    for r in preds.collect():
        s = scaler[r["slice"]]
        vp = np.array(var_pred[(r["slice"], r["window_start"])])
        y_scaled = vp + np.array(r["target"])
        yhat_scaled = vp + np.array(r["resid_pred"])
        for i, f in enumerate(FEATURES):
            iqr = s[f"{f}_iqr"]
            scale, center = (iqr if iqr > 0 else 1.0), s[f"{f}_center"]
            stepwise[(r["slice"], r["window_start"], r["split"], f)] = (
                max(yhat_scaled[i] * scale + center, 0.0),
                y_scaled[i] * scale + center,
            )

    assert set(fused) == set(stepwise)
    keys = sorted(stepwise)
    assert [fused[k][1] for k in keys] == [stepwise[k][1] for k in keys]
    np.testing.assert_allclose(
        [fused[k][0] for k in keys], [stepwise[k][0] for k in keys], rtol=1e-4, atol=1e-5
    )


def test_hybrid_eval_plan_reads_no_file_and_runs_one_grouped_pass(spark):
    """The forecast tail reads the checkpointed design only: no parquet
    re-scan (the scaler params arrive as literals), no window (the
    residual windows are built inside the per-slice pass), and exactly
    one grouped-map Python pass."""
    df = hybrid_eval(spark, SF_DIR, p=2, window=12)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    final = plan.executedPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan
    names = []

    def walk(node):
        names.append(node.nodeName())
        if node.nodeName().endswith("QueryStage"):
            walk(node.plan())
        for child in _seq(node.children()):
            walk(child)

    walk(final)
    assert [n for n in names if n.startswith("Scan")] == ["Scan ExistingRDD"], names
    assert "Window" not in names, names
    assert names.count("FlatMapGroupsInPandas") == 1, names


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def _nodes(node):
    yield node
    for child in _seq(node.children()):
        yield from _nodes(child)


def test_feature_frame_prunes_kpi36_to_five_aggregates(spark):
    """The forecast reads kpi36 through a projection: Catalyst must
    prune the 31 unread KPIs, leaving ONE aggregation that computes
    only the 5 formulas the features read (the plan the hourly CTE's
    own aggregation had)."""
    plan = feature_frame(kpi36(spark, SF_DIR))._jdf.queryExecution().optimizedPlan()
    aggs = [n for n in _nodes(plan) if n.nodeName() == "Aggregate"]
    assert len(aggs) == 1
    funcs = [
        e.aggregateFunction().prettyName()
        for named in _seq(aggs[0].aggregateExpressions())
        for e in _nodes(named)
        if e.nodeName() == "AggregateExpression"
    ]
    assert sorted(funcs) == ["avg", "avg", "count", "stddev_samp", "sum"]


def test_split_proportions(spark):
    df = with_split(feature_frame(kpi36(spark, SF_DIR)))
    counts = {
        (r["slice"], r["split"]): r["cnt"]
        for r in df.groupBy("slice", "split").agg(F.count("*").alias("cnt")).collect()
    }
    slices = {s for s, _ in counts}
    for s in slices:
        n = sum(counts[(s, sp)] for sp in ("train", "val", "test"))
        assert counts[(s, "train")] == int(0.7 * n)
        assert counts[(s, "train")] + counts[(s, "val")] == int(0.85 * n)


def test_holt_spark_matches_python_recursion(spark):
    """D21: the distributed applyInPandas Holt fit must equal the pure
    recursion on the collected series, slice by slice."""
    from fiveg_spark.ml.features import feature_frame
    from fiveg_spark.ml.holt import holt_fit, holt_forecast

    got = {r["slice"]: r for r in holt_forecast(spark, SF_DIR).collect()}
    frame = (
        feature_frame(kpi36(spark, SF_DIR))
        .select("slice", "window_start", "throughput")
        .toPandas()
        .sort_values(["slice", "window_start"])
    )
    for s, grp in frame.groupby("slice"):
        level, trend, mae = holt_fit(grp["throughput"].to_numpy())
        r = got[s]
        assert r["n_hours"] == len(grp)
        assert abs(r["level"] - round(level, 4)) < 1e-9
        assert abs(r["trend"] - round(trend, 4)) < 1e-9
        assert abs(r["one_step_mae"] - round(mae, 4)) < 1e-9
        assert abs(r["fc_h2"] - round(level + 2 * trend, 4)) < 1e-9


def test_holt_tracks_planted_linear_trend():
    """A noiseless linear series y = 10 + 3t must converge to trend≈3 and
    forecast the true continuation."""
    from fiveg_spark.ml.holt import holt_fit

    y = [10.0 + 3.0 * t for t in range(50)]
    level, trend, mae = holt_fit(y)
    assert abs(trend - 3.0) < 1e-6
    assert abs(level - y[-1]) < 1e-6
    assert mae < 1e-6


def test_holt_winters_matches_reference_and_beats_holt_on_seasonal(spark):
    """D22: (1) the distributed per-slice HW fit equals the pure-Python
    recursion; (2) on a noiseless trend+seasonal series HW's one-step
    error is ~0 while trend-only Holt's is dominated by the seasonal
    amplitude."""
    import math

    from fiveg_spark.ml.holt import SEASON, holt_fit, holt_winters_fit, holt_winters_forecast
    from tests.conftest import SF_DIR

    # synthetic: linear trend + daily sawtooth, zero noise
    y = [10.0 + 0.5 * t + 5.0 * math.sin(2 * math.pi * (t % SEASON) / SEASON)
         for t in range(6 * SEASON)]
    level, trend, seasonals, mae = holt_winters_fit(y)
    _, _, holt_mae = holt_fit(y)
    assert mae < 0.25 * holt_mae, f"HW {mae} not clearly below Holt {holt_mae}"
    assert abs(trend - 0.5) < 0.05

    rows = {r["slice"]: r for r in holt_winters_forecast(spark, SF_DIR).collect()}
    assert set(rows) == {"eMBB", "URLLC", "mMTC"}
    from fiveg_spark.ml.features import feature_frame

    pdf = (
        feature_frame(kpi36(spark, SF_DIR))
        .select("slice", "window_start", "throughput")
        .orderBy("window_start")
        .toPandas()
    )
    for s, r in rows.items():
        series = pdf[pdf["slice"] == s]["throughput"].to_numpy()
        lv, tr, seas, mae_ref = holt_winters_fit(series)
        assert r["n_hours"] == len(series)
        assert abs(r["level"] - round(lv, 4)) < 1e-9
        assert abs(r["trend"] - round(tr, 4)) < 1e-9
        assert abs(r["one_step_mae"] - round(mae_ref, 4)) < 1e-9
        h1 = lv + tr + seas[len(series) % SEASON]
        assert abs(r["fc_h1"] - round(h1, 4)) < 1e-9


def test_kalman_spark_matches_python_recursion(spark):
    """D25: the distributed applyInPandas Kalman filter must equal the
    pure recursion on the collected series, slice by slice."""
    from fiveg_spark.ml.features import feature_frame
    from fiveg_spark.ml.kalman import kalman_fit, kalman_level

    got = {r["slice"]: r for r in kalman_level(spark, SF_DIR).collect()}
    frame = (
        feature_frame(kpi36(spark, SF_DIR))
        .select("slice", "window_start", "throughput")
        .toPandas()
        .sort_values(["slice", "window_start"])
    )
    for s, grp in frame.groupby("slice"):
        x, p, k, mae, _ = kalman_fit(grp["throughput"].to_numpy())
        r = got[s]
        assert r["n_hours"] == len(grp)
        assert abs(r["level"] - round(x, 4)) < 1e-9
        assert abs(r["p_var"] - round(p, 4)) < 1e-9
        assert abs(r["gain"] - round(k, 4)) < 1e-9
        assert abs(r["one_step_mae"] - round(mae, 4)) < 1e-9


def test_kalman_gain_converges_to_riccati_steady_state():
    """On any long series the adaptive gain must converge to the
    closed-form Riccati fixed point, and the filtered level of a
    constant series must converge to that constant."""
    import numpy as np

    from fiveg_spark.ml.kalman import kalman_fit, steady_state_gain

    y = np.full(200, 42.0)
    x, p, k, mae, n = kalman_fit(y)
    assert n == 199
    assert abs(k - steady_state_gain()) < 1e-9  # converged
    assert abs(x - 42.0) < 1e-9
    assert mae < 1e-9

    # noisy constant: level estimate lands near the truth, and the
    # filter smooths (one-step MAE below the raw noise scale)
    rng = np.random.default_rng(7)
    noisy = 42.0 + rng.normal(0.0, 1.0, 500)
    x2, _, k2, mae2, _ = kalman_fit(noisy)
    assert abs(x2 - 42.0) < 0.5
    assert abs(k2 - steady_state_gain()) < 1e-9
    assert mae2 < 1.5  # ~E|N(0,1)+filter error|, far below 3-sigma


def test_holt_grid_search_selects_best_combo(spark):
    from fiveg_spark.ml.holt import ALPHA, BETA, holt_grid_search

    rows = holt_grid_search(spark, SF_DIR).collect()
    by_slice = {}
    for r in rows:
        by_slice.setdefault(r["slice"], []).append(r)
    assert all(len(v) == 9 for v in by_slice.values())  # full 3x3 grid
    for s, grp in by_slice.items():
        best = [r for r in grp if r["is_best"]]
        assert len(best) == 1, s  # exactly one winner per slice
        default = [
            r for r in grp if r["alpha"] == ALPHA and r["beta"] == BETA
        ]
        assert len(default) == 1  # the certified D21 combo is in-grid
        # the selected combo never loses to the default
        assert best[0]["one_step_mae"] <= default[0]["one_step_mae"] + 1e-9
