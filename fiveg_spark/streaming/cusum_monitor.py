"""Streaming two-sided CUSUM change detector: the SEQUENTIAL companion
to the PSI monitor (drift_monitor.py).  PSI scores each batch against
the reference in isolation — a small persistent shift under the alert
threshold never fires.  CUSUM (Page 1954) accumulates standardized
deviations ACROSS batches, so a 0.5-sigma drift that PSI would forever
ignore crosses the decision interval after enough batches; that is the
detector production monitoring pairs with a distributional score.

Design:
- the reference (`fit_reference_stats`) is per-key (mu, sigma), fit
  once from a batch frame and broadcast — frozen, like the PSI monitor;
- per batch and key the detector folds the batch MEAN into the classic
  recursions  s⁺ ← max(0, s⁺ + z − k),  s⁻ ← max(0, s⁻ − z − k)  with
  z = (mean − mu)/sigma·sqrt(n) (the sqrt(n) because a batch mean of n
  points has sigma/sqrt(n) scale), alarming when either side exceeds h;
- STATE lives in the STORE (the dedup-sink doctrine): the state file
  holds one row per (key, batch_id); the current state is the max-
  batch_id row per key, and a batch whose id is at or below the stored
  high-water mark is a replay and becomes a no-op — crash-safe without
  a second state system;
- alarms append to a metrics sink keyed by (batch_id, key), and the
  alarmed side's accumulator RESETS (standard post-alarm restart).

Scale: per batch the work is one groupBy(key) mean over the batch plus
the state read — the accumulators are bounded by the key cardinality,
never by stream length.  The state dir is APPEND-ONLY between
compactions, so the state read costs |keys|·|batches-since-compaction|
rows; ``compact_state`` collapses history to the |keys| current rows
(watermark preserved) and a long-running monitor schedules it
periodically — without it the per-batch read grows linearly with
stream age (r7 self-review finding).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.streaming.store_guard import has_parquet, rewrite

K_SLACK = 0.5  # reference-sigma slack per step (detects >~1-sigma shifts)
H_DECISION = 4.0  # decision interval


def fit_reference_stats(
    df: DataFrame, key_col: str, value_col: str
) -> dict[str, tuple[float, float]]:
    """Per-key frozen (mu, sigma); sigma floors at a tiny epsilon so a
    constant reference still standardizes (any change then alarms)."""
    rows = (
        df.groupBy(key_col)
        .agg(
            F.avg(value_col).alias("mu"),
            F.coalesce(F.stddev_samp(value_col), F.lit(0.0)).alias("sd"),
        )
        .collect()
    )
    return {
        r[key_col]: (float(r["mu"]), max(float(r["sd"]), 1e-9)) for r in rows
    }


def foreach_batch_cusum(
    path: str,
    reference: dict[str, tuple[float, float]],
    key_col: str,
    value_col: str,
    k_slack: float = K_SLACK,
    h: float = H_DECISION,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch maintaining per-key CUSUM state under ``path`` —
    ``state/`` rows (key, s_pos, s_neg, batch_id) and ``metrics/`` rows
    (batch_id, key, n_rows, z, s_pos, s_neg, alarm)."""

    state_dir = f"{path}/state"
    metrics_dir = f"{path}/metrics"

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        state: dict[str, tuple[float, float]] = {}
        # not store_guard.is_replay: the replay check reads the batch_id
        # high-water mark from the same aggregate that loads the state,
        # so the state store is read once per batch
        if has_parquet(state_dir):
            latest = (
                spark.read.parquet(state_dir)
                .groupBy("key")
                .agg(
                    F.max_by("s_pos", "batch_id").alias("s_pos"),
                    F.max_by("s_neg", "batch_id").alias("s_neg"),
                    F.max("batch_id").alias("b"),
                )
                .collect()
            )
            top = max((r["b"] for r in latest), default=None)
            if top is not None and batch_id <= top:
                return  # replayed batch: state already reflects it
            state = {r["key"]: (r["s_pos"], r["s_neg"]) for r in latest}

        means = (
            batch_df.groupBy(F.col(key_col).alias("key"))
            .agg(F.avg(value_col).alias("m"), F.count("*").alias("n"))
            .collect()
        )
        s_rows, m_rows = [], []
        for r in means:
            key = r["key"]
            if key not in reference:
                continue  # unseen key: the PSI monitor owns that alert
            mu, sd = reference[key]
            z = (float(r["m"]) - mu) / sd * float(r["n"]) ** 0.5
            s_pos, s_neg = state.get(key, (0.0, 0.0))
            s_pos = max(0.0, s_pos + z - k_slack)
            s_neg = max(0.0, s_neg - z - k_slack)
            alarm = s_pos > h or s_neg > h
            m_rows.append(
                (int(batch_id), key, int(r["n"]), z, s_pos, s_neg, alarm)
            )
            if alarm:  # post-alarm restart
                s_pos, s_neg = 0.0, 0.0
            s_rows.append((key, s_pos, s_neg, int(batch_id)))
        if not s_rows:
            return
        spark.createDataFrame(
            s_rows, "key STRING, s_pos DOUBLE, s_neg DOUBLE, batch_id LONG"
        ).write.mode("append").parquet(state_dir)
        spark.createDataFrame(
            m_rows,
            "batch_id LONG, key STRING, n_rows LONG, z DOUBLE,"
            " s_pos DOUBLE, s_neg DOUBLE, alarm BOOLEAN",
        ).write.mode("append").parquet(metrics_dir)

    return step


def read_alarms(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/metrics").filter(F.col("alarm"))


def compact_state(spark: SparkSession, path: str) -> None:
    """Collapse the append-only state history to the current row per
    key, each keeping its own latest batch_id — the GLOBAL max (the
    replay watermark) survives because some key carries it.  Run
    periodically on a long-lived monitor: the per-batch state read is
    sized by rows-since-last-compaction."""
    state_dir = f"{path}/state"
    current = (
        spark.read.parquet(state_dir)
        .groupBy("key")
        .agg(
            F.max_by("s_pos", "batch_id").alias("s_pos"),
            F.max_by("s_neg", "batch_id").alias("s_neg"),
            F.max("batch_id").alias("batch_id"),
        )
    )
    rewrite(state_dir, current)
