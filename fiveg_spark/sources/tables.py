"""Parquet table loaders for the driver testdata star schema.

Scans stay declarative (``spark.read.parquet``) so Catalyst keeps column
pruning and predicate pushdown; callers filter/select on the returned
DataFrame and the plan shows ``PushedFilters``/pruned ``ReadSchema``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Event-time columns whose physical parquet type has varied across driver
# testdata generations: TIMESTAMP(NANOS) (read as long via nanosAsLong)
# or TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ).
# Either way we normalize to TIMESTAMP_LTZ carrying the file's exact
# micros as UTC micros — the one shape every downstream expression
# (unix_micros, date_trunc, double casts) was written against, and the
# same instant DuckDB's naive TIMESTAMP/epoch_us() sees.
_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Enforce the two runtime confs table reads depend on, on whatever
    session the caller built (the verify harness uses a vanilla one):
    without nanosAsLong, a TIMESTAMP(NANOS) parquet generation raises
    PARQUET_TYPE_ILLEGAL; a UTC session tz makes the NTZ→LTZ cast
    micros-preserving regardless of host tz.  Called on EVERY load AND
    every cached re-registration (plans.registry.ensure_views), so a
    test or harness that mutates the tz cannot silently poison later
    queries.

    Also pins the PYTHON process tz to UTC: PySpark's collect() renders
    timestamp instants as naive datetimes in the OS timezone of the
    Python process — session tz notwithstanding — so on a non-UTC host
    every collected timestamp (and therefore every oracle comparison)
    would shift by the tz offset."""
    if os.environ.get("TZ") != "UTC":
        os.environ["TZ"] = "UTC"
        if hasattr(time, "tzset"):
            time.tzset()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _TS_COLS.get(name, ()):
        df = normalize_event_ts(df, c)
    return df


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP_LTZ(UTC micros)
    whatever physical shape the source produced (works on streaming
    DataFrames too — pure column expressions).

    Self-contained w.r.t. session timezone: the NTZ branch rebuilds the
    instant from wall-clock parts with an explicit 'UTC' zone argument
    (a plain ``CAST(ntz AS TIMESTAMP)`` goes through the session tz and
    would shift the instant on a non-UTC session)."""
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":  # TIMESTAMP(NANOS) generation: ns→us exact DIV
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    if dt == "timestamp_ntz":  # MICROS generation: same micros, as UTC
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
        if tz in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
            # micros-preserving no-op under a UTC session (the engine
            # default, set by get_spark/load_table) — zero per-row cost
            return df.withColumn(col, F.col(col).cast("timestamp"))
        return df.withColumn(
            col,
            F.expr(
                f"make_timestamp(year({col}), month({col}), day({col}), "
                f"hour({col}), minute({col}), date_part('SECOND', {col}), 'UTC')"
            ),
        )
    return df
