"""Round-2 operator property tests: transition matrix, RFM bands, KMV
sketch, changepoint, RRF fusion, skew profile.

Oracle parity for each is covered by test_oracle_parity; these pin the
SEMANTICS (probability closure, band ranges, estimator error, planted
changepoint recovery, rank arithmetic) that a hash match alone can't
explain."""

from __future__ import annotations

import datetime as dt

from fiveg_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _run(spark, name):
    import __spark_entry__ as contract

    return contract.queries()[name](spark, SF_DIR).toPandas()


def test_transition_matrix_rows_are_distributions(spark):
    pdf = _run(spark, "transition_matrix")
    assert (pdf["n_transitions"] > 0).all()
    sums = pdf.groupby("prev_type")["p_transition"].sum()
    assert ((sums - 1.0).abs() < 1e-3).all()


def test_rfm_segments_cover_all_users(spark):
    pdf = _run(spark, "rfm_segments")
    n_users = load_table(spark, "events", SF_DIR).select("user_id").distinct().count()
    assert pdf["n_users"].sum() == n_users
    for c in ("r_band", "f_band", "m_band"):
        assert pdf[c].between(1, 5).all()


def test_kmv_estimates_bounded(spark):
    from fiveg_spark.operators.rollup_stats import KMV_K

    pdf = _run(spark, "kmv_distinct_rollup")
    # Days (or the merged row) whose distinct count is below k carry the
    # exact value — zero error by construction.
    exact_rows = pdf[pdf["exact_distinct"] < KMV_K]
    assert (exact_rows["rel_err"] < 1e-6).all()
    # Estimation path: KMV with k=16 has σ ≈ 1/√14 ≈ 0.27; 3σ bound.
    assert (pdf["rel_err"] < 0.8).all()
    assert (pdf["kmv_estimate"] > 0).all()


def test_changepoint_recovers_planted_step(spark):
    rows = []
    t0 = dt.datetime(2024, 3, 1)
    for i in range(120):  # 5 days hourly; step at hour 60
        v = 100.0 if i < 60 else 500.0
        rows.append((i, t0 + dt.timedelta(hours=i), i % 7, "view", v, '{"k": 1}'))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    old = spark.table("events") if "events" in [t.name for t in spark.catalog.listTables()] else None
    df.createOrReplaceTempView("events")
    try:
        from fiveg_spark.operators.ts_diagnostics import _changepoint_sql

        out = spark.sql(_changepoint_sql("spark")).toPandas()
        assert len(out) == 1
        # split reported at the last left-segment hour: 59 or 60
        split_idx = (out["split_hour"].iloc[0] - t0).total_seconds() / 3600
        assert split_idx in (59.0, 60.0)
        assert out["var_reduction"].iloc[0] > 0.95
    finally:
        spark.catalog.dropTempView("events")
        if old is not None:
            old.createOrReplaceTempView("events")


def test_changepoint_properties(spark):
    pdf = _run(spark, "best_changepoint")
    assert (pdf["var_reduction"] <= 1.0 + 1e-9).all()
    assert (pdf["sse_split"] <= pdf["sse_nosplit"] + 1e-6).all()
    assert (pdf["left_hours"] >= 24).all()
    assert (pdf["right_hours"] >= 24).all()


def test_rrf_fusion_rank_arithmetic(spark):
    pdf = _run(spark, "rrf_fusion")
    assert len(pdf) == 10
    expected = 1.0 / (60.0 + pdf["rank_cos"]) + 1.0 / (60.0 + pdf["rank_euc"])
    assert ((pdf["rrf_score"] - expected).abs() < 1e-3).all()
    # fused list is sorted by rrf score
    assert (pdf["rrf_score"].diff().dropna() <= 1e-12).all()


def test_skew_profile_consistency(spark):
    pdf = _run(spark, "skew_profile").set_index("key_col")
    n_events = load_table(spark, "events", SF_DIR).count()
    assert (pdf["n_rows"] == n_events).all()
    assert (pdf["top_key_share"] <= 1.0).all()
    assert (pdf["max_key_rows"] >= pdf["p99_key_rows"] - 1e-9).all()
    assert (pdf["p99_key_rows"] >= pdf["p50_key_rows"] - 1e-9).all()
    # event_type has 5 keys → each ~20%: strong "skew" by share ratio
    assert pdf.loc["event_type", "n_keys"] == 5


def _events_from(spark, rows):
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, event_type STRING, user_id BIGINT,"
        " value DOUBLE, props STRING",
    ).createOrReplaceTempView("events")


def test_twap_weights_by_holding_time_not_sample_count(spark):
    import datetime as dt

    from fiveg_spark.operators.timeseries import _twap_sql

    # value 100 holds 00:00->23:00 (23h), then a burst of 10s at 23:00
    # and 23:30 (0.5h each): plain avg = 40, TWAP = (100*23 + 10*1)/24
    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (0, t0, "gauge", 1, 100.0, "{}"),
        (1, t0 + dt.timedelta(hours=23), "gauge", 1, 10.0, "{}"),
        (2, t0 + dt.timedelta(hours=23, minutes=30), "gauge", 1, 10.0, "{}"),
    ]
    _events_from(spark, rows)
    (r,) = spark.sql(_twap_sql("spark")).collect()
    assert r["n_readings"] == 3
    assert r["plain_avg"] == 40.0
    assert abs(r["twap"] - (100 * 23 + 10 * 1) / 24) < 1e-6
    assert r["sampling_bias"] > 50  # the stale reading dominates time


def test_ks_two_sample_detects_planted_shift_and_stays_quiet_on_stationary(spark):
    import datetime as dt

    from fiveg_spark.operators.ts_diagnostics import _ks_parts
    from fiveg_spark.plans.registry import run_parts

    # flows_cte maps user_id%3 -> slice and value -> pkt_len: user 1
    # (URLLC) steps its hourly bytes up 20x in the second era, user 0
    # (eMBB) stays flat
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for h in range(48):
        shifted = 2000.0 if h >= 24 else 100.0
        for uid, ln in ((1, shifted), (0, 500.0)):
            rows.append(
                (eid, t0 + dt.timedelta(hours=h), "view", uid, ln, "{}")
            )
            eid += 1
    _events_from(spark, rows)
    got = {r["slice"]: r.asDict() for r in run_parts(spark, _ks_parts).collect()}
    assert got["URLLC"]["drifted"] is True
    assert got["URLLC"]["ks_d"] > got["URLLC"]["d_crit"]
    assert got["eMBB"]["drifted"] is False
    assert got["eMBB"]["ks_d"] <= got["eMBB"]["d_crit"]


def test_mann_whitney_detects_level_shift_scipy_parity(spark):
    import datetime as dt

    from fiveg_spark.operators.ts_diagnostics import _mw_parts
    from fiveg_spark.plans.registry import run_parts

    # URLLC (user 1) steps up mid-series; eMBB (user 0) stays flat with
    # heavy ties (constant value -> var_u = 0 -> z = 0 guard)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for h in range(48):
        up = 900.0 + h if h >= 24 else 100.0 + h
        for uid, ln in ((1, up), (0, 500.0)):
            rows.append((eid, t0 + dt.timedelta(hours=h), "view", uid, ln, "{}"))
            eid += 1
    _events_from(spark, rows)
    got = {r["slice"]: r.asDict() for r in run_parts(spark, _mw_parts).collect()}
    assert got["URLLC"]["shifted"] is True
    assert abs(got["URLLC"]["z_score"]) > 3
    # all-tied slice: tie correction zeroes the variance -> guarded z=0
    assert got["eMBB"]["z_score"] == 0.0 and got["eMBB"]["shifted"] is False

    # numeric cross-check on the shifted slice vs scipy's normal-approx
    # U test (same midrank + tie-correction formulas)
    try:
        from scipy.stats import mannwhitneyu
    except ImportError:
        return
    import numpy as np

    ref = np.array([100.0 + h for h in range(24)])
    cur = np.array([900.0 + h for h in range(24, 48)])
    res = mannwhitneyu(ref, cur, alternative="two-sided", method="asymptotic")
    # our z uses U_ref; scipy reports U for x: same magnitude
    expected_u = res.statistic
    assert abs(got["URLLC"]["u_stat"] - expected_u) < 1e-6


def test_quantile_transform_uniformizes_train_and_clips_test(spark):
    import datetime as dt

    from fiveg_spark.operators.timeseries import _quantile_transform_sql

    # user 0 only -> one slice; 100 hours of strictly increasing values,
    # so the train era (first 70) maps to exact midranks and the test
    # era (beyond the train max) clips to 1.0
    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (h, t0 + dt.timedelta(hours=h), "view", 0, 100.0 + h, "{}")
        for h in range(100)
    ]
    _events_from(spark, rows)
    got = [r.asDict() for r in spark.sql(_quantile_transform_sql("spark")).collect()]
    train = [r for r in got if r["part"] == "train"]
    test = [r for r in got if r["part"] == "test"]
    assert len(train) == 70 and len(test) == 15
    # strictly increasing distinct values: q of the k-th train row is
    # (k - 0.5)/70, so the mean is exactly 0.5
    qs = sorted(r["q_train"] for r in train)
    assert abs(sum(qs) / len(qs) - 0.5) < 1e-6
    assert qs[0] == round(0.5 / 70 + 1e-9, 4)
    assert all(r["q_train"] == 1.0 for r in test)  # beyond train max


def test_entropy_rate_deterministic_vs_random_chains(spark):
    import datetime as dt
    import math

    from fiveg_spark.operators.behavior import _entropy_rate_parts
    from fiveg_spark.plans.registry import run_parts

    # user 0: deterministic cycle a->b->a->b (H(next|prev) = 0);
    # user 1: from 'c' the next event alternates c/d evenly over time
    # -> H(next|'c') = ln 2
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for i in range(40):
        rows.append((eid, t0 + dt.timedelta(minutes=i), "a" if i % 2 == 0 else "b", 0, 1.0, "{}"))
        eid += 1
    seq = []
    for i in range(40):
        seq.append("c")
        seq.append("c" if i % 2 == 0 else "d")
    for i, typ in enumerate(seq):
        rows.append((eid, t0 + dt.timedelta(minutes=i), typ, 1, 1.0, "{}"))
        eid += 1
    _events_from(spark, rows)
    got = {r["prev_type"]: r.asDict()
           for r in run_parts(spark, _entropy_rate_parts).collect()}
    assert got["a"]["h_cond_nats"] == 0.0  # always -> b
    assert got["b"]["h_cond_nats"] == 0.0  # always -> a
    # from 'c': roughly half the transitions go c, half d (edge effects
    # from the alternating construction skew the split slightly)
    assert abs(got["c"]["h_cond_nats"] - math.log(2)) < 0.1
    all_row = got["ALL"]
    assert 0.0 < all_row["h_cond_nats"] < all_row["h_marginal_nats"] + 1e-9
    assert all_row["n_transitions"] == sum(
        v["n_transitions"] for k, v in got.items() if k != "ALL"
    )


def test_theilsen_ignores_outliers_ols_cannot(spark):
    import datetime as dt

    from fiveg_spark.operators.ts_diagnostics import _theilsen_parts
    from fiveg_spark.plans.registry import run_parts

    # clean linear trend of +3 per hour in value (x8 in throughput_bps,
    # the hourly rollup's unit), with two absurd outlier hours: the
    # median-of-slopes fit must recover ~24 bps/hour regardless
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for h in range(72):
        v = 100.0 + 3.0 * h
        if h in (20, 45):
            v = 1e6
        rows.append((h, t0 + dt.timedelta(hours=h), "view", 0, v, "{}"))
    _events_from(spark, rows)
    (r,) = run_parts(spark, _theilsen_parts).collect()
    assert abs(r["slope_per_hour"] - 24.0) < 0.05
    assert r["n_pairs"] == 72 * 71 // 2  # all pairs inside the 168h band


def test_conformal_sweep_radii_and_coverage_monotone(spark):
    from fiveg_spark.operators.ts_diagnostics import _conformal_sweep_sql
    from fiveg_spark.plans.registry import ensure_views

    ensure_views(spark, ("events",), SF_DIR)
    rows = [r.asDict() for r in spark.sql(_conformal_sweep_sql("spark")).collect()]
    by_slice = {}
    for r in rows:
        by_slice.setdefault(r["slice"], []).append(r)
    assert all(len(v) == 3 for v in by_slice.values())
    for v in by_slice.values():
        v.sort(key=lambda r: r["alpha"])
        radii = [r["interval_radius"] for r in v]
        covs = [r["test_coverage"] for r in v]
        # wider nominal level -> wider interval -> no less coverage
        assert radii == sorted(radii)
        assert covs == sorted(covs)
        assert all(0.0 <= c <= 1.0 for c in covs)


def test_slo_burn_rate_planted_outage(spark):
    import datetime as dt

    from fiveg_spark.operators.flows import (
        FAST_BURN,
        _slo_burn_sql,
    )

    # user 0 (eMBB): packets every 2 min (all IATs <= 0.5s fail? no:
    # 120s > 0.5 -> all BAD).  Build instead: bursts of back-to-back
    # packets (iat ~0 -> good) in healthy hours; in outage hours the
    # flow sends only sparse packets (iat > 0.5 -> bad).
    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for h in range(24):
        if h < 18:  # healthy: 20 packets 0.1s apart
            for i in range(20):
                rows.append((eid, t0 + dt.timedelta(hours=h, milliseconds=100 * i),
                             "view", 0, 100.0, "{}"))
                eid += 1
        else:  # outage: 20 sparse packets, 60s apart -> iat 60s
            for i in range(20):
                rows.append((eid, t0 + dt.timedelta(hours=h, seconds=60 * i),
                             "view", 0, 100.0, "{}"))
                eid += 1
    _events_from(spark, rows)
    got = sorted(
        (r["h"], r.asDict()) for r in spark.sql(_slo_burn_sql("spark")).collect()
    )
    healthy = [d for _, d in got[:18]]
    outage = [d for _, d in got[20:]]  # windows fully inside the outage tail
    assert all(h["sli"] > 0.9 for h in healthy)
    assert all(not h["fast_burn_alert"] for h in healthy[:12])
    assert all(o["sli"] < 0.1 for o in outage)
    assert any(o["fast_burn_alert"] for o in outage)
    assert all(o["burn_rate"] > FAST_BURN / 2 for o in outage)


def test_iat_burstiness_separates_periodic_from_bursty(spark):
    import datetime as dt

    from fiveg_spark.operators.ts_diagnostics import _iat_burstiness_sql

    # user 0 (eMBB): metronome — every IAT exactly 60s -> sigma = 0 ->
    # B = -1, memory guarded to 0 (constant series).  user 1 (URLLC):
    # bursts of 1s spacing separated by 1000s silences -> sigma > mu ->
    # B > 0, and consecutive IATs alternate within-burst/gap regimes.
    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for i in range(60):
        rows.append((eid, t0 + dt.timedelta(seconds=60 * i), "view", 0, 100.0, "{}"))
        eid += 1
    t = t0
    for burst in range(6):
        for i in range(10):
            rows.append((eid, t, "view", 1, 100.0, "{}"))
            eid += 1
            t += dt.timedelta(seconds=1)
        t += dt.timedelta(seconds=1000)
    _events_from(spark, rows)
    got = {r["slice"]: r.asDict()
           for r in spark.sql(_iat_burstiness_sql("spark")).collect()}
    assert got["eMBB"]["burstiness"] == -1.0
    assert got["eMBB"]["memory_coeff"] == 0.0
    assert got["URLLC"]["burstiness"] > 0.5
    assert got["URLLC"]["std_iat"] > got["URLLC"]["mean_iat"]


def test_page_hinkley_flags_shift_direction_and_stays_quiet(spark):
    import datetime as dt

    from fiveg_spark.operators.ts_diagnostics import _page_hinkley_sql

    # URLLC (user 1) steps UP mid-series -> drift_up only; mMTC (user 2)
    # steps DOWN -> drift_down only; eMBB (user 0) stays flat with mild
    # alternation -> both quiet (the running-mean recentering plus the
    # direction-mirrored delta keeps stationary PH near zero).
    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for h in range(96):
        up = 2000.0 if h >= 48 else 100.0
        down = 100.0 if h >= 48 else 2000.0
        flat = 500.0 + (h % 2)
        for uid, v in ((1, up), (2, down), (0, flat)):
            rows.append((eid, t0 + dt.timedelta(hours=h), "view", uid, v, "{}"))
            eid += 1
    _events_from(spark, rows)
    got = {r["slice"]: r.asDict()
           for r in spark.sql(_page_hinkley_sql("spark")).collect()}
    assert got["URLLC"]["drift_up"] == 1 and got["URLLC"]["drift_down"] == 0
    assert got["mMTC"]["drift_down"] == 1 and got["mMTC"]["drift_up"] == 0
    assert got["eMBB"]["drift_up"] == 0 and got["eMBB"]["drift_down"] == 0
    assert got["URLLC"]["ph_up_max"] > got["URLLC"]["threshold"]


def test_cramer_von_mises_detects_planted_shift_and_stays_quiet(spark):
    import datetime as dt

    from fiveg_spark.operators.ts_diagnostics import _cvm_parts
    from fiveg_spark.plans.registry import run_parts

    # same planted scenario as the KS test: URLLC steps its hourly bytes
    # up 20x in the second era, eMBB stays flat
    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for h in range(48):
        shifted = 2000.0 if h >= 24 else 100.0
        for uid, ln in ((1, shifted), (0, 500.0)):
            rows.append((eid, t0 + dt.timedelta(hours=h), "view", uid, ln, "{}"))
            eid += 1
    _events_from(spark, rows)
    got = {r["slice"]: r.asDict() for r in run_parts(spark, _cvm_parts).collect()}
    assert got["URLLC"]["drifted"] is True
    assert got["URLLC"]["cvm_stat"] > 0.461
    assert got["eMBB"]["drifted"] is False
    # scipy cross-check of the statistic on the planted halves
    try:
        from scipy.stats import cramervonmises_2samp
    except ImportError:
        return
    ref = [100.0 * 8] * 24
    cur = [2000.0 * 8] * 24
    res = cramervonmises_2samp(ref, cur, method="asymptotic")
    assert abs(got["URLLC"]["cvm_stat"] - res.statistic) < 0.05


def test_partition_completeness_flags_backfill_holes(spark):
    import datetime as dt

    from fiveg_spark.operators.quality import _partition_completeness_sql

    # day 1: hours 0-5 and 10-12 active -> 9 active of a 13h span, max
    # gap 5h, has_holes.  day 2: hours 0-11 dense -> completeness 1.0.
    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for h in list(range(6)) + list(range(10, 13)):
        rows.append((eid, t0 + dt.timedelta(hours=h), "view", 1, 1.0, "{}"))
        eid += 1
    for h in range(12):
        rows.append((eid, t0 + dt.timedelta(days=1, hours=h), "view", 1, 1.0, "{}"))
        eid += 1
    _events_from(spark, rows)
    got = {r["day"].isoformat(): r.asDict()
           for r in spark.sql(_partition_completeness_sql("spark")).collect()}
    d1, d2 = got["2024-03-01"], got["2024-03-02"]
    assert d1["hours_active"] == 9 and d1["span_hours"] == 13
    assert abs(d1["completeness"] - 9 / 13) < 1e-3
    assert d1["max_gap_hours"] == 5.0 and d1["has_holes"] is True
    assert d2["completeness"] == 1.0 and d2["has_holes"] is False
    assert d2["max_gap_hours"] == 1.0


def test_anova_separated_means_significant_identical_not(spark):
    import datetime as dt

    from fiveg_spark.operators.stats_assoc import _anova_sql

    t0 = dt.datetime(2024, 3, 1)

    def run(offsets):
        rows, eid = [], 0
        for h in range(48):
            for uid in (0, 1, 2):
                v = offsets[uid] + (h % 5) * 10.0  # within-group noise
                rows.append(
                    (eid, t0 + dt.timedelta(hours=h), "view", uid, v, "{}")
                )
                eid += 1
        _events_from(spark, rows)
        (r,) = spark.sql(_anova_sql("spark")).collect()
        return r.asDict()

    apart = run({0: 100.0, 1: 5000.0, 2: 20000.0})
    assert apart["k_groups"] == 3 and apart["significant"] is True
    assert apart["f_stat"] > 100 and apart["eta_sq"] > 0.9

    same = run({0: 100.0, 1: 100.0, 2: 100.0})
    assert same["significant"] is False
    assert same["eta_sq"] < 0.05


def test_ljung_box_flags_sinusoid_not_noise_scipy_parity(spark):
    import datetime as dt
    import math

    from fiveg_spark.operators.ts_diagnostics import _ljung_box_sql

    # eMBB (user 0): strong 24h sinusoid -> massive Q; URLLC (user 1):
    # deterministic white noise (fractional shader hash) -> Q below the
    # chi2 threshold
    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for h in range(120):
        season = 1000.0 + 500.0 * math.sin(2 * math.pi * h / 24.0)
        noise = 1000.0 + 500.0 * (math.sin(h * 12.9898) * 43758.5453 % 1.0)
        for uid, v in ((0, season), (1, noise)):
            rows.append((eid, t0 + dt.timedelta(hours=h), "view", uid, v, "{}"))
            eid += 1
    _events_from(spark, rows)
    got = {r["slice"]: r.asDict()
           for r in spark.sql(_ljung_box_sql("spark")).collect()}
    assert got["eMBB"]["autocorrelated"] is True
    assert got["eMBB"]["q_stat"] > 100
    assert got["URLLC"]["autocorrelated"] is False

    # numeric cross-check vs statsmodels-free manual LB on the raw series
    try:
        import numpy as np
    except ImportError:
        return
    v = np.array([8 * (1000.0 + 500.0 * math.sin(2 * math.pi * h / 24.0))
                  for h in range(120)])
    c = v - v.mean()
    ss = float((c * c).sum())
    n = len(v)
    q = n * (n + 2) * sum(
        (float((c[k:] * c[:-k]).sum()) / ss) ** 2 / (n - k)
        for k in range(1, 7)
    )
    assert abs(got["eMBB"]["q_stat"] - q) < 0.05 * q


def test_funnel_ci_brackets_rate_and_matches_wilson_formula(spark):
    import datetime as dt
    import math

    from fiveg_spark.operators.timeseries import _funnel_ci_sql

    # 100 users view; 40 click after; 10 purchase after clicking
    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for u in range(100):
        rows.append((eid, t0, "view", u, 1.0, "{}")); eid += 1
        if u < 40:
            rows.append((eid, t0 + dt.timedelta(minutes=1), "click", u, 1.0, "{}")); eid += 1
        if u < 10:
            rows.append((eid, t0 + dt.timedelta(minutes=2), "purchase", u, 1.0, "{}")); eid += 1
    _events_from(spark, rows)
    got = {(r["stage_from"], r["stage_to"]): r.asDict()
           for r in spark.sql(_funnel_ci_sql("spark")).collect()}
    vc = got[("view", "click")]
    assert vc["n_from"] == 100 and vc["n_to"] == 40
    assert abs(vc["rate"] - 0.4) < 1e-9
    assert vc["ci_lo"] < 0.4 < vc["ci_hi"]
    # closed-form Wilson at z=1.96, n=100, p=0.4
    z, n, p = 1.96, 100, 0.4
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
    assert abs(vc["ci_lo"] - (center - half)) < 1e-3
    assert abs(vc["ci_hi"] - (center + half)) < 1e-3
    cp = got[("click", "purchase")]
    assert cp["n_from"] == 40 and cp["n_to"] == 10


def test_retention_halflife_recovers_planted_decay(spark):
    import datetime as dt

    from fiveg_spark.operators.timeseries import _retention_halflife_parts
    from fiveg_spark.plans.registry import run_parts

    # one cohort of 64 users, geometric halving each week: week w keeps
    # 64/2^w users -> r(w) = 2^-w -> half-life exactly 1 week
    t0 = dt.datetime(2024, 3, 4)
    rows, eid = [], 0
    for w in range(5):
        for u in range(64 >> w):
            rows.append(
                (eid, t0 + dt.timedelta(weeks=w), "view", u, 1.0, "{}")
            )
            eid += 1
    _events_from(spark, rows)
    got = {r["week_offset"]: r.asDict()
           for r in run_parts(spark, _retention_halflife_parts).collect()}
    assert got[0]["retention"] == 1.0
    assert abs(got[1]["retention"] - 0.5) < 1e-9
    assert abs(got[4]["retention"] - 0.0625) < 1e-9
    assert abs(got[1]["halflife_weeks"] - 1.0) < 0.01


def test_order_ship_latency_percentiles_exact(spark):
    import datetime as dt

    from fiveg_spark.operators.tpch_deep import _ship_latency_sql

    t0 = dt.datetime(2024, 1, 1)
    orders = [(i, 0, "O", 10.0, t0, "1-URGENT") for i in range(10)]
    spark.createDataFrame(
        orders,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
        " o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    ).createOrReplaceTempView("orders")
    # one line per order, latencies 10, 20, ..., 100 days
    lines = [
        (i, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
         t0 + dt.timedelta(days=10 * (i + 1)))
        for i in range(10)
    ]
    spark.createDataFrame(
        lines,
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,"
        " l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,"
        " l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING,"
        " l_linestatus STRING, l_shipdate TIMESTAMP",
    ).createOrReplaceTempView("lineitem")
    (r,) = spark.sql(_ship_latency_sql("spark")).collect()
    assert r["n_lines"] == 10 and r["avg_days"] == 55.0
    assert r["p50_days"] == 55.0  # interpolated between 50 and 60
    assert r["max_days"] == 100.0
    assert abs(r["within_30d_share"] - 0.3) < 1e-9  # 10/20/30 qualify


def test_graph_reciprocity_matches_pure_python(spark):
    from fiveg_spark.operators.ts_advanced import _HC_EDGES_SQL, _reciprocity_parts
    from fiveg_spark.plans.registry import ensure_views, run_parts
    from tests.conftest import SF_DIR

    ensure_views(
        spark, ("customer", "nation", "orders", "lineitem", "supplier"), SF_DIR
    )
    got = {r["nation"]: r.asDict()
           for r in run_parts(spark, _reciprocity_parts).collect()}
    edges = {(r["src"], r["dst"]) for r in spark.sql(_HC_EDGES_SQL).collect()}
    n_recip_total = sum(1 for (a, b) in edges if (b, a) in edges)
    for (a, _b) in edges:
        out_d = sum(1 for (x, _y) in edges if x == a)
        in_d = sum(1 for (_x, y) in edges if y == a)
        n_rec = sum(1 for (x, y) in edges if x == a and (y, x) in edges)
        assert got[a]["out_degree"] == out_d
        assert got[a]["in_degree"] == in_d
        assert got[a]["n_reciprocal"] == n_rec
        assert abs(got[a]["graph_reciprocity"]
                   - round(n_recip_total / len(edges), 4)) < 1e-3


def test_anomaly_consensus_votes_on_planted_spike(spark):
    import datetime as dt
    import math

    from fiveg_spark.operators.ts_advanced import _anomaly_consensus_parts
    from fiveg_spark.plans.registry import run_parts

    # eMBB: gentle sinusoid with ONE 20x spike at hour 50 -> all three
    # detectors vote (global z, MAD, seasonal residual); no other hour
    # should reach consensus.  URLLC: constant -> zero rows (all
    # zero-spread guards suppress).
    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for h in range(96):
        v = 1000.0 + 50.0 * math.sin(2 * math.pi * h / 24.0)
        if h == 50:
            v = 20000.0
        for uid, val in ((0, v), (1, 500.0)):
            rows.append((eid, t0 + dt.timedelta(hours=h), "view", uid, val, "{}"))
            eid += 1
    _events_from(spark, rows)
    got = [r.asDict() for r in run_parts(spark, _anomaly_consensus_parts).collect()]
    assert all(r["slice"] == "eMBB" for r in got)
    spike = [r for r in got if r["window_start"].hour == 2
             and r["window_start"].day == 3]
    consensus_rows = [r for r in got if r["consensus"]]
    assert len(consensus_rows) == 1
    assert consensus_rows[0]["votes"] == 3
    assert consensus_rows[0]["vote_z"] == 1
    assert consensus_rows[0]["vote_mad"] == 1
    assert consensus_rows[0]["vote_seasonal"] == 1


def test_welch_contrast_flags_weekend_shift(spark):
    import datetime as dt

    from fiveg_spark.operators.ts_diagnostics import _welch_sql

    # 2024-03-04 is a Monday; 3 full weeks of hourly data.  URLLC
    # (user 1) triples its weekend level; eMBB (user 0) is flat with
    # mild noise -> insignificant.
    t0 = dt.datetime(2024, 3, 4)
    rows, eid = [], 0
    for h in range(24 * 21):
        day = (h // 24) % 7
        weekend = day >= 5
        shifted = (3000.0 if weekend else 1000.0) + (h % 3)
        flat = 500.0 + (h % 3)
        for uid, v in ((1, shifted), (0, flat)):
            rows.append((eid, t0 + dt.timedelta(hours=h), "view", uid, v, "{}"))
            eid += 1
    _events_from(spark, rows)
    got = {r["slice"]: r.asDict() for r in spark.sql(_welch_sql("spark")).collect()}
    assert got["URLLC"]["n_weekday"] == 15 * 24
    assert got["URLLC"]["n_weekend"] == 6 * 24
    assert got["URLLC"]["significant"] is True
    assert got["URLLC"]["mean_weekend"] > got["URLLC"]["mean_weekday"] * 2
    assert got["eMBB"]["significant"] is False


def test_code_like_score_separates_code_from_prose(spark):
    from fiveg_spark.operators.text import _code_detect_sql

    rows = [
        (0, "def f(x): return {x: g(x)}; y = f(1);", "en", "s", 0),
        (1, "the quick brown fox jumps over the lazy dog again", "en", "s", 0),
        (2, "", "en", "s", 0),  # empty: guard path, not code
    ]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).createOrReplaceTempView("documents")
    got = {r["doc_id"]: r.asDict()
           for r in spark.sql(_code_detect_sql("spark")).collect()}
    assert got[0]["is_code"] is True
    assert got[0]["structural_density"] > 0.1
    assert got[1]["is_code"] is False
    assert got[1]["code_score"] < 0.05
    assert got[2]["is_code"] is False and got[2]["code_score"] == 0.0


def test_session_paths_mines_dominant_trigram_and_respects_gaps(spark):
    import datetime as dt

    from fiveg_spark.operators.behavior import _session_paths_sql

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows, eid = [], 0
    # 5 users each run the checkout journey view>view>purchase in one
    # tight session (1-min steps)
    for u in range(5):
        for i, et in enumerate(("view", "view", "purchase")):
            rows.append((eid, t0 + dt.timedelta(minutes=i), et, u, 1.0, "{}"))
            eid += 1
    # one user runs a different journey once
    for i, et in enumerate(("view", "click", "view")):
        rows.append((eid, t0 + dt.timedelta(minutes=i), et, 9, 1.0, "{}"))
        eid += 1
    # a user whose 4 events split 2+2 across a 2-hour gap: two 2-event
    # sessions -> NO trigram may bridge the gap
    for i in range(4):
        ts = t0 + dt.timedelta(minutes=i) + (
            dt.timedelta(hours=2) if i >= 2 else dt.timedelta()
        )
        rows.append((eid, ts, "view", 8, 1.0, "{}"))
        eid += 1
    _events_from(spark, rows)
    got = [r.asDict() for r in spark.sql(_session_paths_sql("spark")).collect()]
    assert got[0]["rank"] == 1
    assert got[0]["path"] == "view>view>purchase"
    assert got[0]["n_occurrences"] == 5
    assert got[0]["share"] == round(5.0 / 6.0, 4)  # dbl() ships 4 dp
    assert {r["path"] for r in got} == {"view>view>purchase", "view>click>view"}


def test_degree_assortativity_star_negative_cycle_degenerate(spark):
    from fiveg_spark.operators.ts_advanced import _assortativity_parts

    tail = _assortativity_parts("spark")[1]

    def run_edges(edges):
        spark.createDataFrame(
            edges, "src STRING, dst STRING"
        ).createOrReplaceTempView("_mz_da_edges")
        (r,) = spark.sql(tail).collect()
        return r.asDict()

    # mixed star: hub sends to a,b and receives from c,d -> every edge
    # pairs (src_out, dst_in) as (2,1) or (1,2) -> r_out_in = -1
    star = run_edges(
        [("h", "a"), ("h", "b"), ("c", "h"), ("d", "h")]
    )
    assert star["n_edges"] == 4
    assert abs(star["r_out_in"] + 1.0) < 1e-6
    # 3-cycle: every degree is 1 -> zero variance -> corr_safe's
    # degenerate-0 convention on all four mixing correlations
    cyc = run_edges([("a", "b"), ("b", "c"), ("c", "a")])
    assert cyc["n_edges"] == 3
    for k in ("r_out_in", "r_out_out", "r_in_in", "r_in_out"):
        assert cyc[k] == 0.0


def test_trending_types_lift_ranks_and_new_type_floor(spark):
    import datetime as dt

    from fiveg_spark.operators.timeseries import _trending_parts
    from fiveg_spark.plans.registry import run_parts

    t0 = dt.datetime(2024, 3, 4)
    rows, eid = [], 0

    def add(day, typ, n):
        nonlocal eid
        for i in range(n):
            rows.append(
                (eid, t0 + dt.timedelta(days=day, minutes=i), typ, 0, 1.0, "{}")
            )
            eid += 1

    # 7 baseline days (0..6) + anchor day 7
    for day in range(7):
        add(day, "view", 10)      # steady: lift 1.0
        add(day, "purchase", 2)   # surges 10x on the anchor
    add(7, "view", 10)
    add(7, "purchase", 20)
    add(7, "launch", 3)           # brand-new type: floored baseline
    _events_from(spark, rows)
    got = {r["event_type"]: r.asDict()
           for r in run_parts(spark, _trending_parts).collect()}

    v = got["view"]
    assert v["n_current"] == 10 and v["n_baseline"] == 70
    assert v["lift"] == 1.0 and v["trending"] is False
    p = got["purchase"]
    assert p["n_current"] == 20 and p["n_baseline"] == 14
    assert p["lift"] == 10.0 and p["trending"] is True
    assert p["rank_gain"] == 1  # was #2 on baseline, #1 now
    n = got["launch"]
    assert n["n_baseline"] == 0
    assert n["lift"] == 21.0  # 3 / (1/7): the 1-event/week floor
    assert n["trending"] is True


def test_calendar_outliers_flag_spiked_monday_only(spark):
    import datetime as dt

    from fiveg_spark.operators.ts_diagnostics import _calendar_outlier_sql

    # 5 full weeks from a Monday, 10 events/day, except Monday #3
    # (day 14) at 40.  Its LOO Monday mean is exactly 10 -> ratio 4.0
    # -> outlier; a normal Monday's LOO mean is (80-10)/4 = 17.5 ->
    # ratio 0.5714 -> NOT outlier (just above the 0.5 edge).
    t0 = dt.datetime(2024, 3, 4, 12)
    rows, eid = [], 0
    for day in range(35):
        n = 40 if day == 14 else 10
        for i in range(n):
            rows.append(
                (eid, t0 + dt.timedelta(days=day, minutes=i), "view", 0, 1.0, "{}")
            )
            eid += 1
    _events_from(spark, rows)
    got = {r["day"].isoformat(): r.asDict()
           for r in spark.sql(_calendar_outlier_sql("spark")).collect()}
    assert len(got) == 35
    spike = got["2024-03-18"]
    assert spike["dow"] == 0 and spike["n_events"] == 40
    assert spike["loo_dow_mean"] == 10.0 and spike["volume_ratio"] == 4.0
    assert spike["is_outlier"] is True
    normal = got["2024-03-04"]
    assert normal["loo_dow_mean"] == 17.5
    assert abs(normal["volume_ratio"] - 0.5714) < 1e-9
    assert normal["is_outlier"] is False
    assert sum(1 for r in got.values() if r["is_outlier"]) == 1


def test_calendar_outliers_under_two_samples_never_flag(spark):
    import datetime as dt

    from fiveg_spark.operators.ts_diagnostics import _calendar_outlier_sql

    t0 = dt.datetime(2024, 3, 4, 12)
    rows = [
        (d * 10 + i, t0 + dt.timedelta(days=d, minutes=i), "view", 0, 1.0, "{}")
        for d in range(3)
        for i in range(5 if d < 2 else 50)
    ]
    _events_from(spark, rows)
    got = [r.asDict() for r in spark.sql(_calendar_outlier_sql("spark")).collect()]
    assert len(got) == 3
    for r in got:
        assert r["n_same_dow"] == 1
        # dbl() ships the no-information NULL as 0.0 (shared convention)
        assert r["loo_dow_mean"] == 0.0 and r["volume_ratio"] == 0.0
        assert r["is_outlier"] is False


def test_session_stats_pins_planted_rhythm(spark):
    import datetime as dt

    from fiveg_spark.operators.behavior import _session_stats_sql

    t0 = dt.datetime(2024, 3, 1, 9)
    rows = [
        # user 0: session 1 = 3 events over 10 min, then a 3h break,
        # session 2 = 2 events over 5 min
        (0, t0, "view", 0, 1.0, "{}"),
        (1, t0 + dt.timedelta(minutes=5), "view", 0, 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=10), "view", 0, 1.0, "{}"),
        (3, t0 + dt.timedelta(hours=3), "view", 0, 1.0, "{}"),
        (4, t0 + dt.timedelta(hours=3, minutes=5), "view", 0, 1.0, "{}"),
        # user 1: a single one-event session (NULL gap, zero duration)
        (5, t0, "view", 1, 1.0, "{}"),
    ]
    _events_from(spark, rows)
    (r,) = spark.sql(_session_stats_sql("spark")).collect()
    assert r["n_users"] == 2 and r["n_sessions"] == 3
    assert r["avg_sessions_per_user"] == 1.5
    assert r["p50_sessions_per_user"] == 1.5  # midpoint of {1, 2}
    # user 0 sessions: 600 s and 300 s -> mean 450; user 1: 0
    assert r["mean_session_duration_s"] == 225.0
    # only user 0 has a gap: session2 start (3h) - session1 end (10m)
    assert r["mean_intersession_gap_s"] == (3 * 3600 - 600.0)
    assert r["share_single_session"] == 0.5
    # events per session: user 0 mean (3+2)/2 = 2.5, user 1 = 1
    assert r["mean_events_per_session"] == 1.75


def test_model_router_routes_all_three_ladder_rungs(spark):
    import datetime as dt
    import math

    from fiveg_spark.operators.ts_diagnostics import _model_router_parts
    from fiveg_spark.plans.registry import run_parts

    # eMBB (user 0): strong 24h sinusoid -> autocorrelated + seasonal
    # -> holt_winters.  URLLC (user 1): smooth aperiodic ramp ->
    # autocorrelated, aseasonal -> var.  mMTC (user 2): deterministic
    # shader-hash white noise -> mean.
    t0 = dt.datetime(2024, 3, 4)
    rows, eid = [], 0
    for h in range(240):
        season = 1000.0 + 500.0 * math.sin(2 * math.pi * h / 24.0)
        ramp = 100.0 + 10.0 * h
        noise = 1000.0 + 500.0 * (math.sin(h * 12.9898) * 43758.5453 % 1.0)
        for uid, v in ((0, season), (1, ramp), (2, noise)):
            rows.append((eid, t0 + dt.timedelta(hours=h), "view", uid, v, "{}"))
            eid += 1
    _events_from(spark, rows)
    got = {r["slice"]: r.asDict()
           for r in run_parts(spark, _model_router_parts).collect()}

    assert got["eMBB"]["autocorrelated"] is True
    assert got["eMBB"]["is_seasonal"] is True
    assert got["eMBB"]["seasonal_strength"] > 0.9
    assert got["eMBB"]["recommended_model"] == "holt_winters"

    assert got["URLLC"]["autocorrelated"] is True
    assert got["URLLC"]["is_seasonal"] is False
    assert got["URLLC"]["recommended_model"] == "var"

    assert got["mMTC"]["autocorrelated"] is False
    assert got["mMTC"]["recommended_model"] == "mean"


def test_diebold_mariano_prefers_the_right_forecaster(spark):
    import datetime as dt
    import math

    from fiveg_spark.operators.ts_diagnostics import _diebold_mariano_sql

    # eMBB (user 0): strong 24h sinusoid + small jitter -> the
    # seasonal-naive (lag 24) forecast is near-perfect while naive
    # (lag 1) pays the slope each step -> DM strongly positive.
    # URLLC (user 1): slow smooth ramp -> lag-1 error (10 per step) is
    # far below lag-24 error (240) -> DM strongly negative.
    t0 = dt.datetime(2024, 3, 4)
    rows, eid = [], 0
    for h in range(240):
        season = 1000.0 + 500.0 * math.sin(2 * math.pi * h / 24.0) + (h % 3)
        ramp = 100.0 + 10.0 * h
        for uid, v in ((0, season), (1, ramp)):
            rows.append((eid, t0 + dt.timedelta(hours=h), "view", uid, v, "{}"))
            eid += 1
    _events_from(spark, rows)
    got = {r["slice"]: r.asDict()
           for r in spark.sql(_diebold_mariano_sql("spark")).collect()}

    e = got["eMBB"]
    assert e["n_obs"] == 240 - 24
    assert e["significant"] is True and e["better_model"] == "seasonal_naive"
    assert e["dm_stat"] > 1.96 and e["mean_loss_diff"] > 0

    u = got["URLLC"]
    assert u["significant"] is True and u["better_model"] == "naive"
    assert u["dm_stat"] < -1.96 and u["mean_loss_diff"] < 0


def test_mann_kendall_scipy_free_cross_check_and_trend_tags(spark):
    import datetime as dt

    from fiveg_spark.operators.ts_diagnostics import _mann_kendall_parts
    from fiveg_spark.plans.registry import run_parts

    # eMBB (user 0): strictly increasing ramp -> S = n(n-1)/2, z >> 2,
    # 'increasing'.  URLLC (user 1): strictly decreasing.  mMTC
    # (user 2): constant -> all ties -> var_s = 0 guard -> 'none'.
    t0 = dt.datetime(2024, 3, 4)
    rows, eid = [], 0
    n_hours = 72
    for h in range(n_hours):
        for uid, v in ((0, 100.0 + h), (1, 5000.0 - h), (2, 777.0)):
            rows.append((eid, t0 + dt.timedelta(hours=h), "view", uid, v, "{}"))
            eid += 1
    _events_from(spark, rows)
    got = {r["slice"]: r.asDict()
           for r in run_parts(spark, _mann_kendall_parts).collect()}

    n = n_hours
    full_s = n * (n - 1) // 2
    var_s = n * (n - 1) * (2 * n + 5) / 18.0
    expected_z = (full_s - 1) / var_s**0.5

    up = got["eMBB"]
    assert up["s_stat"] == full_s and up["n_pairs"] == full_s
    assert abs(up["z_score"] - round(expected_z + 1e-9, 4)) < 1e-9
    assert up["significant"] is True and up["trend"] == "increasing"

    down = got["URLLC"]
    assert down["s_stat"] == -full_s
    assert down["trend"] == "decreasing" and down["significant"] is True

    flat = got["mMTC"]
    assert flat["s_stat"] == 0 and flat["z_score"] == 0.0
    assert flat["trend"] == "none" and flat["significant"] is False


def test_growth_accounting_ledger_on_planted_lifecycle(spark):
    import datetime as dt

    from fiveg_spark.operators.behavior import _growth_accounting_sql

    # Monday-anchored weeks.  Users: A active wk 0,1,2 (new, then
    # retained twice); B active wk 0 then RESURRECTS wk 2; C active
    # wk 0 only (churns at wk 1); D joins wk 1 and churns at wk 2.
    t0 = dt.datetime(2024, 3, 4, 10)
    # E is active week 4 only: week 3 is a ZERO-ACTIVITY calendar week
    # whose churn (everyone from week 2) must still be reported
    plan = {"A": (0, 1, 2), "B": (0, 2), "C": (0,), "D": (1,), "E": (4,)}
    uid = {"A": 0, "B": 1, "C": 2, "D": 3, "E": 4}
    rows, eid = [], 0
    for name, weeks in plan.items():
        for w in weeks:
            rows.append(
                (eid, t0 + dt.timedelta(weeks=w), "view", uid[name], 1.0, "{}")
            )
            eid += 1
    _events_from(spark, rows)
    got = {r["week_idx"] - min(rr["week_idx"] for rr in _g): r.asDict()
           for _g in [spark.sql(_growth_accounting_sql("spark")).collect()]
           for r in _g}

    w0, w1, w2 = got[0], got[1], got[2]
    assert (w0["active_users"], w0["new_users"]) == (3, 3)
    assert w0["churned"] == 0
    assert (w1["active_users"], w1["new_users"], w1["retained"]) == (2, 1, 1)
    assert w1["churned"] == 2  # B and C dropped off week 0's actives
    assert (w2["active_users"], w2["retained"], w2["resurrected"]) == (2, 1, 1)
    assert w2["churned"] == 1  # D
    assert all(r["ledger_ok"] for r in got.values())
    # quick ratio wk2: (0 new + 1 resurrected) / 1 churned = 1.0
    assert w2["quick_ratio"] == 1.0
    assert w0["quick_ratio"] == 0.0  # churn-free week: the 0.0 convention

    # the zero-activity week 3 EMITS, carrying week 2's full churn;
    # week 4 restarts from zero with no phantom churn
    w3, w4 = got[3], got[4]
    assert w3["active_users"] == 0 and w3["churned"] == 2
    assert w3["ledger_ok"]
    assert (w4["active_users"], w4["new_users"], w4["churned"]) == (1, 1, 0)
