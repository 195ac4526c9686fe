"""36-KPI computation — the engine's flagship operator.

Re-expresses the reference KPI pipeline (KafkaKpiPipeline.scala:63-176
``KpiComputer.compute36KPIs`` and :398-465 ``computeBatchKPIs``) as a
declarative Spark plan:

    packet view (map-only projection)
      → per-flow IAT  (ONE window shuffle on (slice, flow_id))
      → tumbling-window groupBy  (ONE agg shuffle on (slice, window_start))
      → 36 aggregates, all JVM built-ins inside WholeStageCodegen

The driver testdata has no packet captures, so the generic ``events``
table is mapped onto packet-event semantics deterministically (same CASE
arithmetic in Spark and in the DuckDB oracle):

    event_type → protocol class,  user_id → flow,  value → packet length,
    user_id % 3 → slice,  props.k → port/window/flags material.

At 100 TB both shuffles key on high-cardinality columns (flows, then
slice×hour) so partitions stay balanced; AQE skew-join/coalesce is on in
the session.  No Python runs anywhere in this plan.

Every aggregate expression exists ONCE, in the ``KPIS`` table, as SQL
text shared by the Spark plan (via ``F.expr``), the DuckDB oracle and
the streaming aggregation — parity by construction.
Floats are rounded to 4 decimals on both sides to absorb summation-order
noise; counts are CAST to BIGINT (DuckDB sum(int) is HUGEINT otherwise).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.functions.stats import pop_kurtosis_sql, pop_skewness_sql
from fiveg_spark.plans.registry import cnt, dbl, distinct_cnt, epoch, json_int, pct
from fiveg_spark.sources.tables import load_table

EPS = 1e-6
# Reference thresholds (KafkaKpiPipeline.scala:25-27) are packet-scale
# (0.1 s idle, 100/1400 B); the month-long synthetic events stream is
# hour-scale, so the defaults are rescaled: module constants, overridden
# only per call through the ``idle_threshold``/``small_pkt``/``large_pkt``
# keywords of ``kpi_sql``, ``kpi_aggregates`` and ``kpi36_from_packets``.
IDLE_THRESHOLD_S = 600.0  # IAT above this = idle period
SMALL_PKT = 50.0
LARGE_PKT = 150.0


def packet_projection(dialect: str) -> list[str]:
    """Shared events→packet-event projection over a layer that already
    extracted ``k``; only the epoch snippet differs between dialects."""
    return [
        "event_id",
        "ts",
        (
            "CASE CAST(user_id % 3 AS INT) WHEN 0 THEN 'eMBB' "
            "WHEN 1 THEN 'URLLC' ELSE 'mMTC' END AS slice"
        ),
        "user_id AS flow_id",
        f"{epoch('ts', dialect)} AS ts_sec",
        "value AS pkt_len",
        (
            "CASE WHEN event_type IN ('click', 'purchase') THEN 'TCP' "
            "WHEN event_type IN ('view', 'signup') THEN 'UDP' "
            "ELSE 'ICMP' END AS protocol"
        ),
        "k AS src_port",
        "CAST((user_id * 31 + k) % 1000 AS INT) AS dst_port",
        "CAST((k * 13) % 100 AS INT) AS win_size",
        "CAST(k % 32 AS INT) AS tcp_flags",
    ]


IAT_EXPR = (
    "coalesce(ts_sec - lag(ts_sec) OVER "
    "(PARTITION BY slice, flow_id ORDER BY ts_sec, event_id), 0.0) AS iat"
)


# The 36 KPIs (ref KafkaKpiPipeline.scala:104-164), in output order: ONE
# table feeds the batch flagship, its DuckDB oracle, the streaming
# aggregation and the stream≡batch parity query.  ``sql`` is one
# aggregate over the per-flow frame (``{idle_threshold}``,
# ``{small_pkt}``, ``{large_pkt}``, ``{eps}`` fill in at spelling time).
# An ``approx`` KPI (MEDIAN or DISTINCT) names only its column: the
# exact median / distinct count is spelled per engine, and streaming —
# where neither is incrementally computable in append mode — swaps in
# percentile_approx / HLL, the trade the reference's own streaming path
# makes (KafkaKpiPipeline.scala:126).
FLOAT, COUNT = "float", "count"  # 4-decimal rounded DOUBLE / BIGINT
MEDIAN, DISTINCT = "median", "distinct"


@dataclass(frozen=True)
class Kpi:
    name: str
    kind: str
    sql: str
    approx: str | None = None


_IDLE = "sum(CASE WHEN iat > {idle_threshold} THEN 1 ELSE 0 END)"

KPIS: tuple[Kpi, ...] = (
    # ---- Volume (4) ----
    Kpi("Throughput_bps", FLOAT, "sum(pkt_len) * 8"),
    Kpi("Total_Packets", COUNT, "count(*)"),
    Kpi("Total_Bytes", FLOAT, "sum(pkt_len)"),
    Kpi("Byte_Velocity", FLOAT, "sum(pkt_len) / (sum(iat) + {eps})"),
    # ---- Temporal (11) ----
    Kpi("Avg_IAT", FLOAT, "avg(iat)"),
    Kpi("Jitter", FLOAT, "stddev_samp(iat)"),
    Kpi("IAT_Skewness", FLOAT, pop_skewness_sql("iat")),
    Kpi("IAT_Kurtosis", FLOAT, pop_kurtosis_sql("iat")),
    Kpi("Min_IAT", FLOAT, "min(iat)"),
    Kpi("Max_IAT", FLOAT, "max(iat)"),
    Kpi("IAT_PAPR", FLOAT, "max(iat) / (avg(iat) + {eps})"),
    Kpi("Transmission_Duration", FLOAT, "max(ts_sec) - min(ts_sec)"),
    Kpi("Idle_Periods", COUNT, _IDLE),
    Kpi("Idle_Rate", FLOAT, f"{_IDLE} / count(*)"),
    Kpi("IAT_Median", FLOAT, "iat", MEDIAN),
    # ---- Packet size (9) ----
    Kpi("Avg_Packet_Size", FLOAT, "avg(pkt_len)"),
    Kpi("Pkt_Size_StdDev", FLOAT, "stddev_samp(pkt_len)"),
    Kpi("Pkt_Size_Skewness", FLOAT, pop_skewness_sql("pkt_len")),
    Kpi("Pkt_Size_Kurtosis", FLOAT, pop_kurtosis_sql("pkt_len")),
    Kpi("Min_Pkt_Size", FLOAT, "min(pkt_len)"),
    Kpi("Max_Pkt_Size", FLOAT, "max(pkt_len)"),
    Kpi("Unique_Pkt_Sizes", COUNT, "pkt_len", DISTINCT),
    Kpi("Small_Pkt_Ratio", FLOAT,
        "sum(CASE WHEN pkt_len < {small_pkt} THEN 1 ELSE 0 END) / count(*)"),
    Kpi("Large_Pkt_Ratio", FLOAT,
        "sum(CASE WHEN pkt_len > {large_pkt} THEN 1 ELSE 0 END) / count(*)"),
    # ---- Protocol (4) ----
    Kpi("TCP_Ratio", FLOAT, "sum(CASE WHEN protocol = 'TCP' THEN 1 ELSE 0 END) / count(*)"),
    Kpi("UDP_Ratio", FLOAT, "sum(CASE WHEN protocol = 'UDP' THEN 1 ELSE 0 END) / count(*)"),
    Kpi("Protocol_Diversity", COUNT, "protocol", DISTINCT),
    Kpi("Unique_Src_Ports", COUNT, "src_port", DISTINCT),
    # ---- TCP health (6) ----
    Kpi("Avg_Win_Size", FLOAT, "avg(win_size)"),
    Kpi("Win_Size_StdDev", FLOAT, "stddev_samp(win_size)"),
    Kpi("Min_Win_Size", FLOAT, "min(win_size)"),
    Kpi("Max_Win_Size", FLOAT, "max(win_size)"),
    Kpi("Zero_Win_Count", COUNT, "sum(CASE WHEN win_size = 0 THEN 1 ELSE 0 END)"),
    # RST flag = bit 2 (0x04), ref KafkaKpiPipeline.scala:158
    Kpi("RST_Count", COUNT, "sum(CASE WHEN tcp_flags % 8 >= 4 THEN 1 ELSE 0 END)"),
    # ---- Flow (2) ----
    Kpi("Unique_Dst_Ports", COUNT, "dst_port", DISTINCT),
    Kpi("Coeff_Variation_Size", FLOAT, "stddev_samp(pkt_len) / (avg(pkt_len) + {eps})"),
)


def kpi_sql(
    kpi: Kpi,
    dialect: str,
    idle_threshold: float = IDLE_THRESHOLD_S,
    small_pkt: float = SMALL_PKT,
    large_pkt: float = LARGE_PKT,
) -> str:
    """``kpi``'s bare aggregate in ``dialect``: "spark" / "duckdb" give
    the exact batch value, "stream" the append-mode-safe Spark form."""
    if kpi.approx == MEDIAN:
        if dialect == "stream":
            return f"percentile_approx({kpi.sql}, 0.5, 100)"
        return pct(kpi.sql, 0.5, dialect)
    if kpi.approx == DISTINCT:
        if dialect == "stream":
            return f"approx_count_distinct({kpi.sql})"
        return distinct_cnt(kpi.sql, dialect)
    return kpi.sql.format(
        idle_threshold=idle_threshold, small_pkt=small_pkt, large_pkt=large_pkt, eps=EPS
    )


def kpi_column(kpi: Kpi, expr: str, alias: str | None = None) -> str:
    """``expr AS <alias>`` (default: the KPI's name) with the batch
    output discipline: FLOAT rounded to 4 decimals, COUNT cast to
    BIGINT."""
    return (dbl if kpi.kind == FLOAT else cnt)(expr, alias or kpi.name)


def kpi_as(name: str, alias: str, dialect: str) -> str:
    """The batch column of the KPI called ``name``, aliased ``alias`` —
    how other hourly series spell a KPI without restating its formula."""
    kpi = next(k for k in KPIS if k.name == name)
    return kpi_column(kpi, kpi_sql(kpi, dialect), alias)


def kpi_aggregates(
    idle_threshold: float = IDLE_THRESHOLD_S,
    small_pkt: float = SMALL_PKT,
    large_pkt: float = LARGE_PKT,
    dialect: str = "spark",
) -> list[str]:
    """The 36 rounded KPI aggregate expressions, as SQL valid in
    ``dialect`` ("spark" or "duckdb")."""
    return [
        kpi_column(k, kpi_sql(k, dialect, idle_threshold, small_pkt, large_pkt))
        for k in KPIS
    ]


def packet_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet → canonical packet-event view (map-only, codegen'd)."""
    events = load_table(spark, "events", sf_dir)
    # the one JSON field the packet mapping reads, extracted ONCE in a
    # pre-projection layer (JSON parsing is the most expensive scalar in
    # the scan; doing it once instead of 4× saves ~½ the map time)
    with_k = events.selectExpr("*", f"{json_int('props', 'k', 'spark')} AS k")
    return with_k.selectExpr(*packet_projection("spark"))


def with_iat(packets: DataFrame) -> DataFrame:
    """Per-flow inter-arrival time (ref KafkaKpiPipeline.scala:86-97).
    One shuffle on (slice, flow_id); event_id tiebreak keeps the order
    total so results are engine-deterministic."""
    return packets.selectExpr("*", IAT_EXPR)


def kpi36_from_packets(
    packets: DataFrame,
    window: str = "hour",
    **agg_kwargs,
) -> DataFrame:
    """36 KPIs from ANY canonical packet frame (events-mapped view, PCAP
    decode via ``sources.pcap.to_canonical_packets``, or Kafka-parsed
    records) — the single aggregation the whole ingest tier feeds."""
    flows = with_iat(packets)
    aggs = [F.expr(e) for e in kpi_aggregates(dialect="spark", **agg_kwargs)]
    return (
        flows.withColumn("window_start", F.date_trunc(window, F.col("ts")))
        .groupBy("slice", "window_start")
        .agg(*aggs)
    )


def kpi36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 36 KPIs per (slice, hour window)."""
    return kpi36_from_packets(packet_view(spark, sf_dir))


def flows_cte(dialect: str) -> str:
    """Reusable CTE prefix: events → (+k) → packets → flows (with
    per-flow IAT).  Shared by every events-derived operator in BOTH
    dialects."""
    proj = ",\n      ".join(packet_projection(dialect))
    return f"""WITH events_k AS (
      SELECT *, {json_int("props", "k", dialect)} AS k FROM events
    ), packets AS (
      SELECT
      {proj}
      FROM events_k
    ), flows AS (
      SELECT *, {IAT_EXPR}
      FROM packets
    )"""


def kpi36_oracle_sql() -> str:
    aggs = ",\n      ".join(kpi_aggregates(dialect="duckdb"))
    return f"""
    {flows_cte("duckdb")}
    SELECT
      slice,
      date_trunc('hour', ts) AS window_start,
      {aggs}
    FROM flows
    GROUP BY slice, date_trunc('hour', ts)
    """
