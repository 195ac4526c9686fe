"""SparkSession factory tuned for the engine.

Defaults are sized for local testing but every knob is env-overridable so
the same entrypoint scales to a multi-executor cluster (AQE handles runtime
re-planning; shuffle partitions and file split sizes are the two knobs that
matter most at 100 TB).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession


def default_shuffle_partitions() -> int:
    """The session's shuffle-partition sizing, shared with operators that
    embed an explicit REPARTITION count (dedup's pre-hash rebalance) so
    the hint can never diverge from spark.sql.shuffle.partitions."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    if not cpus.isdigit():
        raise ValueError(f"SPARK_GRAFT_CPUS must be a core count, got {cpus!r}")
    default = max(8, int(cpus))
    return int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(default)))


def get_spark(
    app_name: str = "fiveg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    - AQE on (coalesce + skew-join): runtime re-planning replaces any
      hand-tuned partition counts when data sizes surprise us.
    - Arrow on: every pandas interchange (model inference UDFs) is
      columnar-batched.
    - 128 MiB file split target: keeps scan tasks balanced on wide
      parquet at cluster scale.
    """
    # pin the process tz BEFORE the JVM starts: PySpark's collect()
    # renders timestamp instants in the Python process's OS timezone
    # (session tz notwithstanding), so a non-UTC host would shift every
    # collected timestamp (see sources.tables.ensure_session_confs)
    if os.environ.get("TZ") != "UTC":
        os.environ["TZ"] = "UTC"
        if hasattr(time, "tzset"):
            time.tzset()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata parquet stores TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long and convert in sources.tables (exact
        # integer ns→us truncation — matches DuckDB's conversion bit-for-bit)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        # managed-table warehouse (bucketed tables) out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/fiveg_spark_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        # FileScan metadata (DataFilters/PushedFilters/ReadSchema) is
        # string-truncated at a CHARACTER budget (default 100) — after
        # heavy session churn wider expression ids (#45678 vs #4) push
        # a borderline list over the budget, so the SAME plan renders
        # truncated-or-not depending on session history and the A24
        # ledger fingerprint flips (the r13 q2/q3 'reshaped' incident;
        # theilsen r10w2 was the truncated-tail variant).  A big budget
        # makes plan renders deterministic and keeps full filter text
        # in the hash.
        .config("spark.sql.maxMetadataStringLength", "10000")
    )
    spark = builder.getOrCreate()
    # enforce on REUSED sessions too (getOrCreate may return a session
    # built before this config existed — runtime-settable)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    spark.sparkContext.setLogLevel("WARN")
    return spark
