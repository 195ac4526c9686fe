"""Feature-frame construction + RobustScaler, shared by the ML block.

Mirrors train.py:52-110 (FEATURE_MAP projection, missing→0.0) and
train.py:193-196 (RobustScaler fit on the ordered 70% train split,
transform applied everywhere).  As in the reference, the features are
read off the KPI table: ``feature_frame`` projects any hourly KPI frame
(``kpi36``, or ``kpi36_from_packets`` over a capture), and Catalyst
prunes the KPI aggregation to the 5 KPIs it reads.  The frame is the
hourly slice series (3 slices × ~720 h at any sf), so all ML steps
downstream operate on a reduced DataFrame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# feature ← KPI column (train.py FEATURE_MAP); None: a source missing
# from the KPI set (Retransmission_Ratio, Entropy_Score) → 0.0
# (train.py:104-109)
FEATURE_KPIS = {
    "throughput": "Throughput_bps",
    "packets": "Total_Packets",
    "jitter": "Jitter",
    "latency": "Avg_IAT",
    "reliability": None,
    "congestion": "Avg_Win_Size",
    "complexity": None,
}
FEATURES = tuple(FEATURE_KPIS)


def feature_frame(kpis: DataFrame) -> DataFrame:
    """(slice, window_start, 7 feature cols) — train.py's final_df."""
    return kpis.select(
        "slice",
        "window_start",
        *[(F.col(k) if k else F.lit(0.0)).alias(f) for f, k in FEATURE_KPIS.items()],
    )


def with_split(df: DataFrame) -> DataFrame:
    """Ordered 70/15/15 split tag per slice (train.py:186-190)."""
    w = Window.partitionBy("slice").orderBy("window_start")
    wn = Window.partitionBy("slice")
    df = df.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    return df.withColumn(
        "split",
        F.when(F.col("rn") <= F.floor(0.7 * F.col("n")), "train")
        .when(F.col("rn") <= F.floor(0.85 * F.col("n")), "val")
        .otherwise("test"),
    )


def robust_scale(df: DataFrame) -> tuple[DataFrame, DataFrame, tuple[Column, Column]]:
    """Fit median/IQR per slice on the train split, transform ALL rows.

    Returns (scaled_frame, params, (centers, scales)).  Eager: the split
    frame is checkpointed at call time, since it feeds the fit AND the
    transform, so the KPI aggregate under it runs once.  ``params`` (one row per slice) is
    collected and applied as literals: ``centers`` and ``scales`` are
    array<double> columns read at each row's slice, and callers that
    invert the transform reuse them, so no plan downstream re-runs the
    aggregate or joins it back.  sklearn semantics: zero-IQR features
    (the constant 0.0 fillers) divide by 1.0, not 0."""
    split_df = with_split(df).localCheckpoint()
    aggs = []
    for f in FEATURES:
        aggs.append(F.expr(f"percentile({f}, 0.5)").alias(f"{f}_center"))
        aggs.append(
            F.expr(f"percentile({f}, 0.75) - percentile({f}, 0.25)").alias(f"{f}_iqr")
        )
    params = split_df.filter(F.col("split") == "train").groupBy("slice").agg(*aggs)
    rows = sorted(params.collect(), key=lambda r: r["slice"])

    def per_slice(value) -> Column:
        pairs = []
        for r in rows:
            pairs += [F.lit(r["slice"]), F.array(*[value(r, f) for f in FEATURES])]
        return F.create_map(*pairs)[F.col("slice")]

    def scale(r, f) -> Column:
        iqr = F.lit(r[f"{f}_iqr"]).cast("double")
        return F.when(iqr > 0, iqr).otherwise(F.lit(1.0))

    centers = per_slice(lambda r, f: F.lit(r[f"{f}_center"]).cast("double"))
    scales = per_slice(scale)
    scaled = split_df.select(
        "slice",
        "window_start",
        "rn",
        "n",
        "split",
        *[
            ((F.col(f) - F.element_at(centers, i + 1)) / F.element_at(scales, i + 1)).alias(f)
            for i, f in enumerate(FEATURES)
        ],
    )
    return scaled, params, (centers, scales)


def as_vector(df: DataFrame, out: str = "x") -> DataFrame:
    """Pack the 7 feature columns into one array<double> column."""
    return df.withColumn(out, F.array(*[F.col(f) for f in FEATURES]))
