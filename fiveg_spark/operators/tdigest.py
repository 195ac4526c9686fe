"""t-digest mergeable quantile rollup (SURVEY §2 C64).

The sketch family (HLL distincts, KMV, Count-Min, Misra-Gries,
histogram-quantiles) gains the industry-standard QUANTILE sketch:
the merging t-digest (Dunning & Ertl, "Computing extremely accurate
quantiles using t-digests", 2019 — public algorithm, original
implementation).  Per day, events compress into <= ~2δ centroids via
``applyInPandas``; the month-level digest then merges from CENTROID
ROWS ONLY — re-aggregation without rescanning the fact table, the same
hypertable-rollup contract as the other sketches.  Unlike the
fixed-grid histogram rollup (C49), the t-digest adapts its resolution
to the data (finest at the tails) with no pre-chosen bucket bounds.

Certification (the approx_variants pattern): estimates have no DuckDB
twin, so the contract row carries the oracle-recomputable row counts
plus booleans in which Spark bounds ITS OWN estimates against EXACT
interpolated percentiles computed distributed on the same data —
est_p50 must land inside the exact [p40, p60] value band and est_p95
inside [p92, p98] (bands, not point equality: ties and interpolation
conventions differ legitimately; a digest outside the band is a real
quality break).

Scale: the per-day compress is one ``applyInPandas`` over the day
grouping (same shuffle any daily rollup pays); everything after runs
on centroid rows — days × O(δ) — independent of the fact-table size.
The only collects are centroid rows and the per-grain percentile
anchors, both bounded by grain count, not data size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.plans.registry import Query

DELTA = 100.0  # compression: centroid count <= ~2*delta


def tdigest_compress(
    values: np.ndarray, weights: np.ndarray, delta: float = DELTA
) -> tuple[np.ndarray, np.ndarray]:
    """Merging-variant compression: sorted points absorb into the
    current centroid while its mass stays under the k1 size ceiling
    4·N·q(1−q)/δ (q = centroid's mid-quantile).  Returns (means,
    weights), means strictly sorted."""
    order = np.argsort(values, kind="stable")
    v = np.asarray(values, dtype=np.float64)[order]
    w = np.asarray(weights, dtype=np.float64)[order]
    total = float(w.sum())
    means: list[float] = []
    masses: list[float] = []
    cur_sum = v[0] * w[0]
    cur_w = float(w[0])
    w_before = 0.0
    for i in range(1, len(v)):
        q = (w_before + 0.5 * (cur_w + w[i])) / total
        limit = 4.0 * total * q * (1.0 - q) / delta
        if cur_w + w[i] <= max(limit, 1.0):
            cur_sum += v[i] * w[i]
            cur_w += float(w[i])
        else:
            means.append(cur_sum / cur_w)
            masses.append(cur_w)
            w_before += cur_w
            cur_sum = v[i] * w[i]
            cur_w = float(w[i])
    means.append(cur_sum / cur_w)
    masses.append(cur_w)
    return np.asarray(means), np.asarray(masses)


def tdigest_quantile(means: np.ndarray, masses: np.ndarray, q: float) -> float:
    """Interpolated quantile: centroid mass centered at its mean
    (Dunning's standard query rule), clamped to the digest range."""
    total = masses.sum()
    target = q * total
    cum = np.cumsum(masses) - masses / 2.0
    if target <= cum[0]:
        return float(means[0])
    if target >= cum[-1]:
        return float(means[-1])
    j = int(np.searchsorted(cum, target) - 1)
    frac = (target - cum[j]) / (cum[j + 1] - cum[j])
    return float(means[j] + frac * (means[j + 1] - means[j]))


_CENTROID_SCHEMA = "grain string, mean double, weight double"


def _day_digests(pdf: pd.DataFrame) -> pd.DataFrame:
    if len(pdf) == 0:
        return pd.DataFrame({"grain": [], "mean": [], "weight": []})
    means, masses = tdigest_compress(
        pdf["value"].to_numpy(np.float64), np.ones(len(pdf))
    )
    return pd.DataFrame(
        {"grain": pdf["grain"].iloc[0], "mean": means, "weight": masses}
    )


def tdigest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.plans.registry import ensure_views
    from fiveg_spark.sources.tables import load_table

    ensure_views(spark, ("events",), sf_dir)
    events = load_table(spark, "events", sf_dir).select(
        F.col("ts").cast("date").cast("string").alias("grain"),
        F.col("value").cast("double").alias("value"),
    )
    centroids = (
        events.groupBy("grain")
        .applyInPandas(_day_digests, schema=_CENTROID_SCHEMA)
        .collect()  # bounded: grains x O(delta), independent of |events|
    )
    by_grain: dict[str, list] = {}
    for r in centroids:
        by_grain.setdefault(r["grain"], []).append((r["mean"], r["weight"]))
    # month merge from centroid rows ONLY (no fact rescan)
    all_means = np.asarray([m for rows in by_grain.values() for m, _ in rows])
    all_w = np.asarray([w for rows in by_grain.values() for _, w in rows])
    ests: dict[str, tuple[float, float]] = {}
    for grain, rows in by_grain.items():
        mm = np.asarray([m for m, _ in rows])
        ww = np.asarray([w for _, w in rows])
        ests[grain] = (
            tdigest_quantile(mm, ww, 0.5),
            tdigest_quantile(mm, ww, 0.95),
        )
    m_m, m_w = tdigest_compress(all_means, all_w)
    ests["ALL"] = (
        tdigest_quantile(m_m, m_w, 0.5),
        tdigest_quantile(m_m, m_w, 0.95),
    )
    # exact interpolated percentile BANDS, computed distributed
    per_day = events.groupBy("grain").agg(
        F.count("*").alias("n"),
        F.percentile("value", 0.40).alias("p40"),
        F.percentile("value", 0.60).alias("p60"),
        F.percentile("value", 0.92).alias("p92"),
        F.percentile("value", 0.98).alias("p98"),
    )
    overall = events.agg(
        F.lit("ALL").alias("grain"),
        F.count("*").alias("n"),
        F.percentile("value", 0.40).alias("p40"),
        F.percentile("value", 0.60).alias("p60"),
        F.percentile("value", 0.92).alias("p92"),
        F.percentile("value", 0.98).alias("p98"),
    )
    anchors = per_day.unionByName(overall).collect()  # grains+1 rows
    rows = []
    for a in sorted(anchors, key=lambda r: r["grain"]):
        e50, e95 = ests[a["grain"]]
        rows.append(
            (
                a["grain"],
                a["n"],
                bool(a["p40"] - 1e-9 <= e50 <= a["p60"] + 1e-9),
                bool(a["p92"] - 1e-9 <= e95 <= a["p98"] + 1e-9),
            )
        )
    return spark.createDataFrame(
        rows, "grain string, n_rows long, p50_in_band boolean, p95_in_band boolean"
    )


_TDIGEST_ORACLE = """
SELECT grain, n_rows, TRUE AS p50_in_band, TRUE AS p95_in_band FROM (
  SELECT CAST(CAST(ts AS DATE) AS STRING) AS grain,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY CAST(CAST(ts AS DATE) AS STRING)
  UNION ALL
  SELECT 'ALL', CAST(count(*) AS BIGINT) FROM events
) g
ORDER BY grain
"""

QUERIES = [
    Query("tdigest_quantile_rollup", tdigest_rollup, _TDIGEST_ORACLE),
]
