"""foreachBatch streaming t-digest maintenance: the STREAMING feeder of
the C64 quantile-sketch rollup (SURVEY §2 B21).

Where the sketch sink (B17) keeps DISTINCT-count rows current and the
heavy-hitters sink (B20) keeps top-k rows current, this sink keeps
latency/value QUANTILES current: each micro-batch compresses its
values into <= ~2δ t-digest centroids per (event_type, day) and
appends them as plain rows.  Consumers answer p50/p95/p99 from
CENTROID ROWS ONLY — the fact stream is never rescanned, and the
store stays at |keys|·|batches|·O(δ) rows regardless of stream volume
(the same asymmetry that makes the whole sketch family viable at
100 TB).

Merge correctness is the t-digest's own contract (Dunning & Ertl
2019): digests merge by compressing the union of their centroid sets,
weights carried — associative up to compression error, so partial
granularity and append order never matter.  The quantile error bound
(finest at the tails) is certified batch-side by C64's band tests;
pytest asserts the streamed store's estimates land in the same
exact-percentile bands.

Idempotence: the standard transactional-sink recipe shared with
B17/B20 — foreachBatch replays a batch with the SAME batch_id after a
crash; the writer reads the store's max batch_id (one tiny column)
and skips batches at or below it.  A crash between append and
checkpoint can leave a duplicate APPEND for one batch id; every
centroid row carries a deterministic centroid_id within its
(key, batch_id), so readers dedup exactly on
(key, batch_id, centroid_id) — a racing duplicate can never
double-weight a quantile (the same recipe as B17's count dedup).

Scale: the per-batch compress is one applyInPandas over the batch's
(type, day) grouping — the shuffle any daily rollup pays, on batch
rows only; reads group centroid rows (tiny) and never touch facts.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.operators.tdigest import tdigest_compress, tdigest_quantile
from fiveg_spark.streaming.store_guard import partial_sink, rewrite

_PARTIAL_SCHEMA = (
    "event_type string, day timestamp, centroid_id int,"
    " mean double, weight double, n long"
)


def _compress_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    if len(pdf) == 0:
        return pd.DataFrame(
            {
                "event_type": [],
                "day": [],
                "centroid_id": [],
                "mean": [],
                "weight": [],
                "n": [],
            }
        )
    means, masses = tdigest_compress(
        pdf["value"].to_numpy(np.float64), np.ones(len(pdf))
    )
    return pd.DataFrame(
        {
            "event_type": pdf["event_type"].iloc[0],
            "day": pdf["day"].iloc[0],
            "centroid_id": range(len(means)),  # deterministic: means sorted
            "mean": means,
            "weight": masses,
            "n": len(pdf),
        }
    )


def foreach_batch_tdigest(path: str) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` appending per-(event_type, day) partial
    t-digest centroids of ``value`` for each micro-batch."""
    return partial_sink(
        path,
        lambda batch_df: batch_df.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.col("value").cast("double").alias("value"),
        )
        .groupBy("event_type", "day")
        .applyInPandas(_compress_batch, schema=_PARTIAL_SCHEMA),
    )


def _deduped(raw: DataFrame) -> DataFrame:
    """Crash-duplicate removal: a replayed append rewrites the SAME
    (key, batch_id, centroid_id) rows — keep one of each."""
    return raw.groupBy(
        "event_type", "day", "batch_id", "centroid_id"
    ).agg(
        F.first("mean").alias("mean"),
        F.first("weight").alias("weight"),
        F.max("n").alias("n"),
    )


_MERGED_SCHEMA = (
    "event_type string, day timestamp, n_events long,"
    " est_p50 double, est_p95 double, est_p99 double, last_batch_id long"
)


def _merge_key(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    # n repeats the batch's row count on every centroid row: sum once
    # per batch_id
    per_batch = pdf.drop_duplicates("batch_id")[["batch_id", "n"]]
    means, masses = tdigest_compress(
        pdf["mean"].to_numpy(np.float64), pdf["weight"].to_numpy(np.float64)
    )
    return pd.DataFrame(
        {
            "event_type": [pdf["event_type"].iloc[0]],
            "day": [pdf["day"].iloc[0]],
            "n_events": [int(per_batch["n"].sum())],
            "est_p50": [tdigest_quantile(means, masses, 0.50)],
            "est_p95": [tdigest_quantile(means, masses, 0.95)],
            "est_p99": [tdigest_quantile(means, masses, 0.99)],
            "last_batch_id": [int(pdf["batch_id"].max())],
        }
    )


def read_daily_quantiles(spark: SparkSession, path: str) -> DataFrame:
    """Merged view: one row per (event_type, day) with p50/p95/p99
    estimates and the exact event count — from centroid rows only."""
    return _deduped(spark.read.parquet(path)).groupBy(
        "event_type", "day"
    ).applyInPandas(_merge_key, schema=_MERGED_SCHEMA)


def compact(spark: SparkSession, path: str) -> None:
    """Collapse partial centroid history into ONE digest per key,
    preserving the high-water batch_id for the replay guard."""

    def _compact_key(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        per_batch = pdf.drop_duplicates("batch_id")[["batch_id", "n"]]
        means, masses = tdigest_compress(
            pdf["mean"].to_numpy(np.float64),
            pdf["weight"].to_numpy(np.float64),
        )
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "day": pdf["day"].iloc[0],
                "centroid_id": range(len(means)),
                "mean": means,
                "weight": masses,
                "n": int(per_batch["n"].sum()),
                "batch_id": int(pdf["batch_id"].max()),
            }
        )

    merged = _deduped(spark.read.parquet(path)).groupBy(
        "event_type", "day"
    ).applyInPandas(_compact_key, schema=_PARTIAL_SCHEMA + ", batch_id long")
    rewrite(path, merged)


def _digest_cdf(means, masses, x: float) -> float:
    """Dunning's interpolated CDF query (mass centered at each mean),
    the inverse of tdigest_quantile's rule."""
    import numpy as np

    total = float(masses.sum())
    cum = np.cumsum(masses) - masses / 2.0
    if x <= means[0]:
        return 0.0 if x < means[0] else float(cum[0] / total)
    if x >= means[-1]:
        return 1.0 if x > means[-1] else float(cum[-1] / total)
    j = int(np.searchsorted(means, x, side="right") - 1)
    if means[j + 1] == means[j]:
        return float(cum[j] / total)
    frac = (x - means[j]) / (means[j + 1] - means[j])
    return float((cum[j] + frac * (cum[j + 1] - cum[j])) / total)


_DRIFT_SCHEMA = (
    "event_type string, n_a long, n_b long,"
    " ks_distance double, p50_shift double, drifted boolean"
)


def period_drift(
    spark: SparkSession,
    path: str,
    days_a: tuple,
    days_b: tuple,
    threshold: float = 0.2,
):
    """Distribution drift per event_type between two day ranges,
    answered from CENTROID ROWS ONLY (the backlog's 'KS distance
    between period digests'): each period's days merge into one digest
    (the B21 contract), the KS-style statistic is the max |CDF_A −
    CDF_B| over the union of both digests' centroid locations (the
    sup over the piecewise-linear difference is attained there up to
    interpolation error), plus the p50 shift.  ``days_a``/``days_b``
    are (start, end) inclusive date bounds (anything ``to_date``
    accepts).  At 100 TB this compares WEEKS of stream without
    touching a single fact row — the whole reason the sink stores
    digests instead of aggregates."""
    import numpy as np

    raw = _deduped(spark.read.parquet(path))

    def in_range(lo, hi):
        return raw.where(
            (F.col("day") >= F.to_timestamp(F.lit(lo)))
            & (F.col("day") <= F.to_timestamp(F.lit(hi)))
        )

    def merge_side(pdf: pd.DataFrame):
        means, masses = tdigest_compress(
            pdf["mean"].to_numpy(np.float64), pdf["weight"].to_numpy(np.float64)
        )
        n = int(pdf.drop_duplicates(["day", "batch_id"])["n"].sum())
        return means, masses, n

    # centroid rows are tiny (|keys|*|batches|*O(delta)): the collect
    # is bounded by sketch size, never stream size
    sides = {}
    for tag, (lo, hi) in (("a", days_a), ("b", days_b)):
        for typ, g in (
            in_range(lo, hi).toPandas().groupby("event_type")
        ):
            sides.setdefault(typ, {})[tag] = merge_side(g)
    rows = []
    for typ in sorted(sides):
        if "a" not in sides[typ] or "b" not in sides[typ]:
            continue
        (ma, wa, na) = sides[typ]["a"]
        (mb, wb, nb) = sides[typ]["b"]
        grid = np.unique(np.concatenate([ma, mb]))
        ks = max(
            abs(_digest_cdf(ma, wa, float(x)) - _digest_cdf(mb, wb, float(x)))
            for x in grid
        )
        shift = tdigest_quantile(mb, wb, 0.5) - tdigest_quantile(ma, wa, 0.5)
        rows.append(
            (typ, na, nb, float(ks), float(shift), bool(ks >= threshold))
        )
    return spark.createDataFrame(rows, _DRIFT_SCHEMA)
