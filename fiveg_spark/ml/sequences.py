"""Sliding-window sequence generation (SURVEY §2 D7).

The reference builds (N, 60, 7) numpy tensors in a driver loop
(train.py:223-232 ``make_seq``).  Distributed form: one window shuffle
per series key, then ``collect_list`` over a 60-row frame — each output
row carries its own (window × features) array, so downstream inference
is embarrassingly parallel and no tensor ever materializes on the
driver.

At 100 TB the sequence frame is ~window× the input in bytes; it is
never wider than one series partition, and inference consumes it
streaming (Arrow batches), so nothing requires the full tensor in one
place — the property that makes the driver-loop original single-node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fiveg_spark.ml.features import as_vector

WINDOW = 60


SEQ_COLUMNS = ("slice", "window_start", "split", "seq", "target")


def preceding_windows(
    df: DataFrame, value: str, window: int = WINDOW, columns: tuple[str, ...] = SEQ_COLUMNS
) -> DataFrame:
    """One row per row t of each slice's series with a full history:
    ``seq`` holds ``value`` at rows t-window .. t-1, ``target`` is
    ``value`` at row t — exactly make_seq's (X[i], y[i]) pairing keyed
    by the timestamp of y.  ``columns`` orders the output."""
    exprs = {
        "seq": f"collect_list({value}) OVER (PARTITION BY slice ORDER BY window_start "
        f"ROWS BETWEEN {window} PRECEDING AND 1 PRECEDING) AS seq",
        "target": f"{value} AS target",
    }
    out = df.selectExpr(*(exprs.get(c, c) for c in columns))
    return out.filter(F.size("seq") == window)


def sliding_sequences(df: DataFrame, window: int = WINDOW) -> DataFrame:
    """(slice, window_start, split, seq: array<array<double>>,
    target: array<double>) over the feature vector ``x``."""
    return preceding_windows(as_vector(df, "x"), "x", window)


def sequence_counts(df: DataFrame, window: int = WINDOW) -> DataFrame:
    """Small summary surface for the rows-only driver check."""
    return (
        sliding_sequences(df, window)
        .groupBy("slice", "split")
        .agg(
            F.count("*").alias("n_sequences"),
            F.min("window_start").alias("first_target"),
            F.max("window_start").alias("last_target"),
        )
    )
