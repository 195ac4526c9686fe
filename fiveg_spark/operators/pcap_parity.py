"""PCAP decode on the oracle path (SURVEY §2 A2/A31 certification
closer): the reference's flagship source — executor-side capture-file
decode (PcapKpiExtractor.scala:59-228) — certified end-to-end against
the DuckDB oracle, the same gap-closing move operators/artifacts.py
makes for the lakehouse surface.

The query synthesizes a deterministic multi-slice capture directory in
a per-run scratch dir (the reference's HDFS layout: embb/ urllc/ mmtc/
subdirs), reads it back through the REAL production path —
``spark.read.format("pcap")``, the Spark 4 Python DataSource with
file-pruning slice pushdown — and aggregates to per-slice rows whose
every value has a CLOSED FORM derived from the construction parameters
alone.  The oracle is that closed form as a VALUES literal: it never
sees the decoder, so parity proves the byte-level decode (endianness
probe, Ethernet/IPv4/TCP-UDP offsets, unsigned timestamp arithmetic,
truncated-tail recovery) reproduces the construction exactly.

What the construction plants, deliberately:

- both pcap endiannesses (embb little, urllc big — the magic probe);
- TCP and UDP in one slice (transport demux + flow_id composition);
- a TRUNCATED capture tail in mmtc (the decoder must recover the
  complete leading packets and drop the partial one cleanly);
- a non-.pcap stray file (the extension filter prunes it unread);
- a per-slice ``pushdown_n`` column computed by a SECOND, filtered
  scan — certifying the slice_type pushdown's file pruning returns
  the same packets as the full scan's post-hoc grouping.

Scale: certification runs at fixed tiny size; the production path's
100 TB argument lives in sources/pcap_datasource.py (file-granular
partitions, path-level slice pruning, pre-Arrow protocol filtering).
"""

from __future__ import annotations

import os
import shutil
import struct
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.plans.registry import Query

TS0 = 1_700_000_000
_ETH, _IP, _TCP, _UDP = 14, 20, 20, 8


def _tcp_packet(sport: int, payload_len: int) -> bytes:
    eth = b"\x00" * 12 + b"\x08\x00"
    total = _IP + _TCP + payload_len
    ip = bytes([0x45, 0]) + struct.pack(">H", total)
    ip += b"\x00\x00\x00\x00" + bytes([64, 6]) + b"\x00\x00"
    ip += bytes((10, 0, 0, 1)) + bytes((10, 0, 0, 2))
    tcp = struct.pack(">HH", sport, 80) + struct.pack(">I", 7)
    tcp += b"\x00\x00\x00\x00" + bytes([0x50, 0x18]) + struct.pack(">H", 256)
    tcp += b"\x00\x00\x00\x00"
    return eth + ip + tcp + b"x" * payload_len


def _udp_packet(sport: int, payload_len: int) -> bytes:
    eth = b"\x00" * 12 + b"\x08\x00"
    total = _IP + _UDP + payload_len
    ip = bytes([0x45, 0]) + struct.pack(">H", total)
    ip += b"\x00\x00\x00\x00" + bytes([64, 17]) + b"\x00\x00"
    ip += bytes((10, 0, 0, 3)) + bytes((10, 0, 0, 4))
    udp = struct.pack(">HHHH", sport, 53, _UDP + payload_len, 0)
    return eth + ip + udp + b"y" * payload_len


def _pcap(packets: list[bytes], little: bool) -> bytes:
    """Classic pcap: ts = TS0+i sec, i*1000 usec; orig_len = cap+8."""
    end = "<" if little else ">"
    out = struct.pack(f"{end}IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1)
    for i, pkt in enumerate(packets):
        out += struct.pack(f"{end}IIII", TS0 + i, i * 1000, len(pkt), len(pkt) + 8)
        out += pkt
    return out


# ---- the construction (all sizes/ports deterministic) --------------------
# (slice, subdir, little-endian?, [(kind, sport, payload_len), ...],
#  truncate_tail_bytes)
_LAYOUT = (
    ("eMBB", "embb", True,
     [("tcp", 1000 + i, 10 + i) for i in range(8)]
     + [("udp", 2000 + i, 6) for i in range(5)], 0),
    ("URLLC", "urllc", False,
     [("tcp", 3000 + i, 12) for i in range(6)], 0),
    # 4 packets, tail cut 10 bytes short: the 4th record's header reads
    # fine but its data overruns the file -> decoder must keep 1..3
    ("mMTC", "mmtc", True,
     [("tcp", 4000 + i, 5) for i in range(4)], 10),
)


def _closed_form() -> list[tuple]:
    """Expected per-slice aggregates from the construction parameters —
    arithmetic only, the decoder is never consulted."""
    rows = []
    for slice_type, _sub, _little, pkts, trunc in _LAYOUT:
        n_full = len(pkts) - (1 if trunc else 0)  # truncated tail drops 1
        kept = pkts[:n_full]
        cap = [
            _ETH + _IP + (_TCP if k == "tcp" else _UDP) + plen
            for (k, _sp, plen) in kept
        ]
        rows.append((
            slice_type,
            n_full,
            sum(1 for k, _s, _p in kept if k == "tcp"),
            sum(1 for k, _s, _p in kept if k == "udp"),
            sum(cap),
            sum(c + 8 for c in cap),          # orig_len convention
            len({(k, sp) for k, sp, _p in kept}),  # distinct flow_ids
            TS0 * 1000,                        # packet 0: usec 0
            (TS0 + n_full - 1) * 1000 + (n_full - 1),  # i*1000 usec → +i ms
            n_full,                            # pushdown scan sees the same
        ))
    return rows


_COLS = ("slice_type", "n_packets", "n_tcp", "n_udp", "sum_captured",
         "sum_pktlen", "n_flows", "min_ts_ms", "max_ts_ms", "pushdown_n")
_SCHEMA = ("slice_type STRING, n_packets LONG, n_tcp LONG, n_udp LONG,"
           " sum_captured LONG, sum_pktlen LONG, n_flows LONG,"
           " min_ts_ms LONG, max_ts_ms LONG, pushdown_n LONG")


def _write_layout(root: str) -> None:
    for _slice, sub, little, pkts, trunc in _LAYOUT:
        d = os.path.join(root, sub)
        os.makedirs(d, exist_ok=True)
        blob = _pcap(
            [(_tcp_packet if k == "tcp" else _udp_packet)(sp, plen)
             for k, sp, plen in pkts],
            little,
        )
        if trunc:
            blob = blob[:-trunc]
        with open(os.path.join(d, "cap0.pcap"), "wb") as f:
            f.write(blob)
    # stray non-pcap file: the extension filter must prune it unread
    with open(os.path.join(root, "mmtc", "notes.txt"), "wb") as f:
        f.write(b"not a capture")


def _pcap_read_parity_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.sources.pcap_datasource import register_pcap_source

    root = tempfile.mkdtemp(prefix="fiveg_pcap_parity_")
    try:
        _write_layout(root)
        register_pcap_source(spark)
        full = spark.read.format("pcap").load(root)
        agg = full.groupBy("slice_type").agg(
            F.count("*").alias("n_packets"),
            F.sum((F.col("protocol") == "TCP").cast("long")).alias("n_tcp"),
            F.sum((F.col("protocol") == "UDP").cast("long")).alias("n_udp"),
            F.sum("captured_len").alias("sum_captured"),
            F.sum("packet_len").alias("sum_pktlen"),
            F.countDistinct("flow_id").alias("n_flows"),
            F.min("timestamp_ms").alias("min_ts_ms"),
            F.max("timestamp_ms").alias("max_ts_ms"),
        )
        from fiveg_spark.plans.plan_ledger import note_precollect
        note_precollect(agg)
        rows = {r["slice_type"]: r for r in agg.collect()}
        out = []
        for slice_type, *_rest in _LAYOUT:
            # second scan, pushed equality: file pruning must deliver
            # the same packets the full scan grouped post-hoc
            pushed = (
                spark.read.format("pcap").load(root)
                .filter(F.col("slice_type") == slice_type)
                .count()
            )
            r = rows[slice_type]
            out.append((*[r[c] for c in _COLS[:-1]], int(pushed)))
        return spark.createDataFrame(out, _SCHEMA)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _pcap_read_parity_oracle() -> str:
    values = ",\n      ".join(
        "(" + ", ".join(
            f"'{v}'" if isinstance(v, str) else str(v) for v in row
        ) + ")"
        for row in _closed_form()
    )
    cast = ", ".join(
        _COLS[0] if c == "slice_type" else f"CAST({c} AS BIGINT) AS {c}"
        for c in _COLS
    )
    return f"""
    SELECT {cast}
    FROM (VALUES
      {values}
    ) AS t({", ".join(_COLS)})
    """


QUERIES = [
    Query("pcap_read_parity", _pcap_read_parity_run,
          _pcap_read_parity_oracle()),
]


# --------------------------------------------------------------------------
# A37: the WRITE path certified — a deterministic packet frame derived
# from `events` in closed form goes OUT through the Spark 4 Python
# DataSource writer (df.write.format("pcap")) and comes BACK through
# the certified A31 reader; per-(slice, protocol) aggregates pin every
# encoded field.  The oracle recomputes the same aggregates straight
# from `events` with the same closed-form mapping — it never sees a
# capture byte, so parity proves encode→decode is the identity on the
# representable field set (ms-grain timestamps, lengths, IPs, ports,
# TCP seq/flags/window, slice routing via marker subdirs).
# --------------------------------------------------------------------------

# the closed-form event_id/user_id → packet-field mapping, written
# once as (spark_sql, duckdb) shared ANSI fragments
_WRT_MAP = {
    "slice_type": "CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'eMBB'"
                  " WHEN 1 THEN 'URLLC' ELSE 'mMTC' END",
    "protocol": "CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'TCP'"
                " WHEN 1 THEN 'UDP' WHEN 2 THEN 'ICMP' ELSE 'OTHER' END",
    "timestamp_ms": "1700000000000 + event_id * 7",
    "packet_len": "60 + event_id % 1400",
    "src_ip": "'10.' || CAST(user_id % 200 AS STRING) || '.'"
              " || CAST(event_id % 250 AS STRING) || '.1'",
    "dst_ip": "'10.0.' || CAST(event_id % 100 AS STRING) || '.2'",
    "src_port": "1024 + event_id % 60000",
    "dst_port": "80 + event_id % 1000",
    "tcp_flags": "event_id % 256",
    "window_size": "event_id % 65536",
    "seq_number": "(event_id * 2654435761) % 4294967296",
}


def _pcap_write_roundtrip_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.plans.registry import ensure_views
    from fiveg_spark.sources.pcap_datasource import register_pcap_source

    register_pcap_source(spark)
    ensure_views(spark, ("events",), sf_dir)
    m = dict(_WRT_MAP)
    packets = spark.sql(f"""
        SELECT {m['slice_type']} AS slice_type,
               CAST({m['timestamp_ms']} AS LONG) AS timestamp_ms,
               CAST({m['packet_len']} AS INT) AS packet_len,
               {m['protocol']} AS protocol,
               {m['src_ip']} AS src_ip, {m['dst_ip']} AS dst_ip,
               CAST({m['src_port']} AS INT) AS src_port,
               CAST({m['dst_port']} AS INT) AS dst_port,
               CAST({m['tcp_flags']} AS INT) AS tcp_flags,
               CAST({m['window_size']} AS INT) AS window_size,
               CAST({m['seq_number']} AS LONG) AS seq_number
        FROM events
    """)
    root = tempfile.mkdtemp(prefix="fiveg_pcap_wrt_")
    try:
        # 4 tasks × ≤3 slice dirs: the per-(task, slice) file routing
        # and the overwrite snapshot/commit protocol both execute
        (packets.repartition(4)
         .write.format("pcap").mode("overwrite").save(root))
        back = spark.read.format("pcap").load(root)
        agg = (
            back.groupBy("slice_type", "protocol")
            .agg(
                F.count("*").alias("n_pkts"),
                F.sum("packet_len").alias("sum_pktlen"),
                F.sum("captured_len").alias("sum_captured"),
                F.sum("timestamp_ms").alias("sum_ts_ms"),
                F.countDistinct("src_port").alias("n_src_ports"),
                F.countDistinct("src_ip").alias("n_src_ips"),
                F.sum("tcp_flags").alias("sum_flags"),
                F.sum("window_size").alias("sum_win"),
                F.sum("seq_number").alias("sum_seq"),
            )
            .orderBy("slice_type", "protocol")
        )
        from fiveg_spark.plans.plan_ledger import note_precollect
        note_precollect(agg)
        rows = [tuple(r) for r in agg.collect()]
        return spark.createDataFrame(
            rows,
            "slice_type STRING, protocol STRING, n_pkts LONG,"
            " sum_pktlen LONG, sum_captured LONG, sum_ts_ms LONG,"
            " n_src_ports LONG, n_src_ips LONG, sum_flags LONG,"
            " sum_win LONG, sum_seq LONG",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _pcap_write_roundtrip_oracle() -> str:
    m = dict(_WRT_MAP)
    # DuckDB has no STRING type name inside CAST; swap for VARCHAR
    ip_src = m["src_ip"].replace("AS STRING", "AS VARCHAR")
    ip_dst = m["dst_ip"].replace("AS STRING", "AS VARCHAR")
    return f"""
    WITH mapped AS (
      SELECT {m['slice_type']} AS slice_type,
             {m['protocol']} AS protocol,
             CAST({m['timestamp_ms']} AS BIGINT) AS timestamp_ms,
             CAST({m['packet_len']} AS BIGINT) AS packet_len,
             {ip_src} AS src_ip, {ip_dst} AS dst_ip,
             CAST({m['src_port']} AS BIGINT) AS src_port,
             CAST({m['tcp_flags']} AS BIGINT) AS tcp_flags,
             CAST({m['window_size']} AS BIGINT) AS window_size,
             CAST({m['seq_number']} AS BIGINT) AS seq_number
      FROM events
    )
    SELECT slice_type, protocol,
           CAST(count(*) AS BIGINT) AS n_pkts,
           CAST(sum(packet_len) AS BIGINT) AS sum_pktlen,
           -- encoded frame sizes are closed form: TCP 55 bytes, the
           -- 8-byte transport stub 42 (sources/pcap_writer.py)
           CAST(sum(CASE WHEN protocol = 'TCP' THEN 55 ELSE 42 END)
                AS BIGINT) AS sum_captured,
           CAST(sum(timestamp_ms) AS BIGINT) AS sum_ts_ms,
           CAST(count(DISTINCT src_port) AS BIGINT) AS n_src_ports,
           CAST(count(DISTINCT src_ip) AS BIGINT) AS n_src_ips,
           -- non-TCP rows read back with the decoder's zero defaults
           CAST(sum(CASE WHEN protocol = 'TCP' THEN tcp_flags ELSE 0 END)
                AS BIGINT) AS sum_flags,
           CAST(sum(CASE WHEN protocol = 'TCP' THEN window_size ELSE 0 END)
                AS BIGINT) AS sum_win,
           CAST(sum(CASE WHEN protocol = 'TCP' THEN seq_number ELSE 0 END)
                AS BIGINT) AS sum_seq
    FROM mapped
    GROUP BY slice_type, protocol
    ORDER BY slice_type, protocol
    """


QUERIES.append(
    Query("pcap_write_roundtrip_parity", _pcap_write_roundtrip_run,
          _pcap_write_roundtrip_oracle())
)


def _pcap_stream_write_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A39 certified: the SAME closed-form events-derived packet frame
    as pcap_write_roundtrip_parity, delivered through the STREAMING
    sink — the mapped frame lands as parquet, a maxFilesPerTrigger
    availableNow stream re-reads it and writes captures via
    ``writeStream.format("pcap")`` (per-epoch deterministic names,
    commit manifests), and the read-back aggregates must match the
    identical oracle.  Certifies the exactly-once commit path end to
    end: every packet lands exactly once across the epochs."""
    import tempfile as _tf

    from fiveg_spark.plans.registry import ensure_views
    from fiveg_spark.sources.pcap_datasource import register_pcap_source

    register_pcap_source(spark)
    ensure_views(spark, ("events",), sf_dir)
    m = dict(_WRT_MAP)
    packets = spark.sql(f"""
        SELECT {m['slice_type']} AS slice_type,
               CAST({m['timestamp_ms']} AS LONG) AS timestamp_ms,
               CAST({m['packet_len']} AS INT) AS packet_len,
               {m['protocol']} AS protocol,
               {m['src_ip']} AS src_ip, {m['dst_ip']} AS dst_ip,
               CAST({m['src_port']} AS INT) AS src_port,
               CAST({m['dst_port']} AS INT) AS dst_port,
               CAST({m['tcp_flags']} AS INT) AS tcp_flags,
               CAST({m['window_size']} AS INT) AS window_size,
               CAST({m['seq_number']} AS LONG) AS seq_number
        FROM events
    """)
    root = _tf.mkdtemp(prefix="fiveg_pcap_swrt_")
    src = os.path.join(root, "src")
    out = os.path.join(root, "caps")
    ckpt = os.path.join(root, "ckpt")
    try:
        # 4 source files → 4 micro-batches through the streaming sink
        packets.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema(packets.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.format("pcap")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        back = spark.read.format("pcap").load(out)
        agg = (
            back.groupBy("slice_type", "protocol")
            .agg(
                F.count("*").alias("n_pkts"),
                F.sum("packet_len").alias("sum_pktlen"),
                F.sum("captured_len").alias("sum_captured"),
                F.sum("timestamp_ms").alias("sum_ts_ms"),
                F.countDistinct("src_port").alias("n_src_ports"),
                F.countDistinct("src_ip").alias("n_src_ips"),
                F.sum("tcp_flags").alias("sum_flags"),
                F.sum("window_size").alias("sum_win"),
                F.sum("seq_number").alias("sum_seq"),
            )
            .orderBy("slice_type", "protocol")
        )
        from fiveg_spark.plans.plan_ledger import note_precollect
        note_precollect(agg)
        rows = [tuple(r) for r in agg.collect()]
        return spark.createDataFrame(
            rows,
            "slice_type STRING, protocol STRING, n_pkts LONG,"
            " sum_pktlen LONG, sum_captured LONG, sum_ts_ms LONG,"
            " n_src_ports LONG, n_src_ips LONG, sum_flags LONG,"
            " sum_win LONG, sum_seq LONG",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES.append(
    Query("pcap_stream_write_parity", _pcap_stream_write_run,
          _pcap_write_roundtrip_oracle())
)
