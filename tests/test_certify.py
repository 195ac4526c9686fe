"""ml/certify.py — the invariant rows must actually hold at test SF.

The oracle side (DuckDB recomputing the n_* counts from raw events) is
exercised by drive_contract / the driver; here we pin the Spark side:
every boolean column TRUE and the counts self-consistent.  Only the
cheap certs run per-suite — the training cert is covered by
test_train.py (same code path) and by the driver window.
"""

from __future__ import annotations

from tests.conftest import SF_DIR


def _rows(df):
    return [r.asDict() for r in df.collect()]


def test_var_ols_cert_invariants(spark):
    from fiveg_spark.ml.certify import N_TERMS, var_ols_cert

    rows = _rows(var_ols_cert(spark, SF_DIR))
    assert len(rows) == 3
    for r in rows:
        assert r["n_terms"] == N_TERMS
        assert r["n_obs"] > N_TERMS  # overdetermined system
        assert r["normal_eq_ok"] and r["beats_mean_ok"], r


def test_huber_cert_invariants(spark):
    from fiveg_spark.ml.certify import huber_cert

    rows = _rows(huber_cert(spark, SF_DIR))
    assert len(rows) == 3
    for r in rows:
        assert r["grad_ok"] and r["loss_le_ols"], r


def test_isotonic_and_pca_cert_invariants(spark):
    from fiveg_spark.ml.certify import isotonic_cert, pca_cert

    (iso,) = _rows(isotonic_cert(spark, SF_DIR))
    assert iso["n_pairs"] > 0
    assert iso["monotone_ok"] and iso["mse_improves"] and iso["mean_preserved"]

    (pca,) = _rows(pca_cert(spark, SF_DIR))
    assert pca["k"] == 4 and pca["n_vectors"] > 0
    assert pca["ratios_monotone_ok"] and pca["ratios_bounded_ok"]
    assert pca["pc1_ratio_ok"]


def test_gru_forward_cert_invariants(spark):
    from fiveg_spark.ml.certify import GRU_SAMPLE, gru_forward_cert

    (r,) = _rows(gru_forward_cert(spark, SF_DIR))
    assert r["n_checked"] == min(GRU_SAMPLE, r["n_sequences"])
    assert r["forward_matches"] and r["all_finite"], r


def test_hybrid_conformal_cert_invariants_and_coverage(spark):
    # Booleans must hold (theorem side) AND the raw test-era coverage —
    # which the contract row intentionally doesn't carry — should land
    # near the 90% nominal level when val and test eras are exchangeable
    # enough; allow generous drift slack on the tiny test corpus.
    from pyspark.sql import functions as F

    from fiveg_spark.ml.certify import hybrid_conformal_cert
    from fiveg_spark.ml.hybrid import hybrid_forecast

    rows = _rows(hybrid_conformal_cert(spark, SF_DIR))
    assert len(rows) == 21  # 3 slices x 7 features
    for r in rows:
        assert r["radius_nonneg_ok"] and r["val_coverage_ok"], r
        assert r["test_coverage_in_range"], r
        assert r["n_val"] > 0 and r["n_test"] > 0

    # raw-surface coverage check (same pipeline the cert consumes)
    long = hybrid_forecast(spark, SF_DIR, splits=("val", "test"))
    err = long.withColumn("abs_err", F.abs(F.col("y") - F.col("yhat")))
    q = (
        err.filter(F.col("split") == "val")
        .groupBy("slice", "feature")
        .agg(F.expr("percentile(abs_err, 0.9)").alias("r90"))
    )
    cov = (
        err.filter(F.col("split") == "test")
        .join(q, ["slice", "feature"])
        .groupBy("slice", "feature")
        .agg(
            F.avg(
                F.when(F.col("abs_err") <= F.col("r90"), 1.0).otherwise(0.0)
            ).alias("cov")
        )
    )
    covs = [r["cov"] for r in cov.collect()]
    assert sum(covs) / len(covs) > 0.6  # mean coverage near nominal


def test_ridge_cert_invariants_and_augmented_lstsq_parity(spark):
    import numpy as np

    from fiveg_spark.ml.certify import P_LAGS, RIDGE_LAMBDAS, ridge_cert
    from fiveg_spark.ml.features import feature_frame, robust_scale
    from fiveg_spark.ml.var import collect_gram, lag_design, normal_equations
    from fiveg_spark.operators.kpi import kpi36
    from pyspark.sql import functions as F

    rows = _rows(ridge_cert(spark, SF_DIR))
    assert len(rows) == 3 * len(RIDGE_LAMBDAS)
    for r in rows:
        assert r["solve_ok"] and r["shrink_ok"], r
        assert r["objective_ok"] and r["sse_order_ok"], r

    # independent algorithm: ridge via AUGMENTED least squares
    # [X; sqrt(lam) I] — lstsq, not a Gram solve — must agree with the
    # certified Gram-path coefficients
    scaled, _, _ = robust_scale(feature_frame(kpi36(spark, SF_DIR)))
    design = lag_design(scaled, p=P_LAGS).filter(F.col("split") == "train")
    gram = collect_gram(normal_equations(design))
    one = design.filter(F.col("slice") == sorted(gram)[0])
    X = np.array([r["x"] for r in one.select("x").collect()], dtype=float)
    Y = np.array([r["y"] for r in one.select("y").collect()], dtype=float)
    xtx, xty, _yty = gram[sorted(gram)[0]]
    lam = RIDGE_LAMBDAS[1]
    b_gram = np.linalg.solve(xtx + lam * np.eye(xtx.shape[0]), xty)
    Xa = np.vstack([X, np.sqrt(lam) * np.eye(X.shape[1])])
    Ya = np.vstack([Y, np.zeros((X.shape[1], Y.shape[1]))])
    b_aug, *_ = np.linalg.lstsq(Xa, Ya, rcond=None)
    assert np.abs(b_gram - b_aug).max() < 1e-6


def test_var_order_cert_theorems_and_residual_parity(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from fiveg_spark.ml.certify import (
        ORDER_CANDIDATES,
        P_LAGS,
        _order_criteria,
        select_var_order,
        var_order_cert,
    )
    from fiveg_spark.ml.features import FEATURES, feature_frame, robust_scale
    from fiveg_spark.ml.var import lag_design
    from fiveg_spark.operators.kpi import kpi36

    rows = _rows(var_order_cert(spark, SF_DIR))
    assert len(rows) == 3 * len(ORDER_CANDIDATES)
    k = len(FEATURES)
    for r in rows:
        assert r["sse_decreases_ok"] and r["logdet_decreases_ok"], r
        assert r["order_relation_ok"], r
        assert r["n_params"] == k * (k * r["p"] + 1)

    # the selection surface agrees with an argmin over criteria
    # recomputed by the shared helper, and respects the BIC <= AIC
    # penalty-ordering theorem at these sample sizes
    crits = _order_criteria(spark, SF_DIR)
    sel = select_var_order(spark, SF_DIR)
    assert set(sel) == set(crits)
    for s, picks in sel.items():
        _n, c = crits[s]
        assert picks["aic"] == min(ORDER_CANDIDATES, key=lambda p: (c[p][0], p))
        assert picks["bic"] == min(ORDER_CANDIDATES, key=lambda p: (c[p][1], p))
        assert picks["bic"] <= picks["aic"]

    # independent algorithm: EXPLICIT residuals via lstsq on the
    # truncated design columns — ln|R'R/n| must match the Gram-identity
    # logdet (E = Y'Y - (X'Y)'B) the cert computes, per candidate order
    scaled, _, _ = robust_scale(feature_frame(kpi36(spark, SF_DIR)))
    design = lag_design(scaled, p=P_LAGS).filter(F.col("split") == "train")
    s0 = sorted(crits)[0]
    one = design.filter(F.col("slice") == s0)
    X = np.array([r["x"] for r in one.select("x").collect()], dtype=float)
    Y = np.array([r["y"] for r in one.select("y").collect()], dtype=float)
    n = len(X)
    assert n == crits[s0][0]
    for p in ORDER_CANDIDATES:
        m_terms = k * p + 1
        B, *_ = np.linalg.lstsq(X[:, :m_terms], Y, rcond=None)
        R = Y - X[:, :m_terms] @ B
        E = R.T @ R
        sign, logdet = np.linalg.slogdet(E / n + 1e-12 * np.eye(k))
        assert sign > 0
        _aic, _bic, _sse, cert_logdet, m_params = crits[s0][1][p]
        assert abs(cert_logdet - logdet) < 1e-6, (p, cert_logdet, logdet)
        aic_ref = logdet + 2.0 * m_params / n
        assert abs(crits[s0][1][p][0] - aic_ref) < 1e-6


def test_granger_matrix_finds_planted_one_directional_causality(spark):
    import datetime as dt
    import math

    from pyspark.sql import functions as F  # noqa: F401

    from fiveg_spark.ml.certify import granger_cert, granger_matrix

    # eMBB (user 0) is an unpredictable driver (shader-hash noise);
    # URLLC (user 1) follows it at lag 2; mMTC (user 2) is independent
    # noise.  Granger must find eMBB -> URLLC and nothing back (an
    # iid driver's own future is unpredictable from any past).
    t0 = dt.datetime(2024, 3, 4)
    drv = [1000.0 + 500.0 * (math.sin(h * 12.9898) * 43758.5453 % 1.0)
           for h in range(260)]
    ind = [800.0 + 400.0 * (math.sin(h * 7.1234) * 9631.477 % 1.0)
           for h in range(260)]
    rows, eid = [], 0
    for h in range(4, 260):
        follower = 0.9 * drv[h - 2] + 50.0 + (h % 2)
        for uid, v in ((0, drv[h]), (1, follower), (2, ind[h])):
            rows.append(
                (eid, t0 + dt.timedelta(hours=h), "view", uid, v, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, event_type STRING, user_id BIGINT,"
        " value DOUBLE, props STRING",
    ).createOrReplaceTempView("events")

    got = {(r["cause"], r["effect"]): r.asDict()
           for r in granger_matrix(spark, None).collect()}
    assert len(got) == 6
    for r in got.values():
        assert r["nested_sse_ok"] and r["f_nonneg_ok"]

    fwd = got[("eMBB", "URLLC")]
    assert fwd["granger_causes"] is True and fwd["f_stat"] > 50
    back = got[("URLLC", "eMBB")]
    assert back["granger_causes"] is False

    # the cert surface is the same rows minus the unhashable F columns
    cert = granger_cert(spark, None).columns
    assert "f_stat" not in cert and "granger_causes" not in cert
