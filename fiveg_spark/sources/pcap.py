"""PCAP decode → packet-event rows (SURVEY §2 A2).

Re-expresses the reference's executor-side PCAP decode
(PcapKpiExtractor.scala:59-228).  Captures are read through ONE path,
the ``format("pcap")`` data source (``sources/pcap_datasource.py``),
which calls the decoder here once per capture file:

- The byte-level decode — classic pcap global header, per-packet
  headers, Ethernet/IPv4/TCP-UDP field extraction — is genuinely
  unexpressible in SQL, so it runs as a Python generator on the
  executor, one pass per file.  This is the ONLY Python hot path in
  the ingest tier.
- A pcap file must be decoded by one task (packet records are
  variable-length and not splittable), so parallelism = #files, which
  matches the reference's one-file-per-executor layout.  At 100 TB the
  unit of work is the capture file; thousands of files spread evenly.

Field semantics match PcapKpiExtractor.scala:138-227: same endianness
probe, same Ethernet/IP/TCP offsets, same flowId composition, same
timestamp arithmetic (unsigned 32-bit sec + usec/1e6).
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

PACKET_SCHEMA = T.StructType(
    [
        T.StructField("slice_type", T.StringType()),
        T.StructField("file_name", T.StringType()),
        T.StructField("timestamp", T.DoubleType()),
        T.StructField("timestamp_ms", T.LongType()),
        T.StructField("packet_len", T.IntegerType()),
        T.StructField("captured_len", T.IntegerType()),
        T.StructField("protocol", T.StringType()),
        T.StructField("src_ip", T.StringType()),
        T.StructField("dst_ip", T.StringType()),
        T.StructField("src_port", T.IntegerType()),
        T.StructField("dst_port", T.IntegerType()),
        T.StructField("flow_id", T.StringType()),
        T.StructField("ip_header_len", T.IntegerType()),
        T.StructField("tcp_flags", T.IntegerType()),
        T.StructField("window_size", T.IntegerType()),
        T.StructField("seq_number", T.LongType()),
    ]
)

# dir-name → slice label, as the reference infers slice from HDFS layout
SLICE_MARKERS = {"embb": "eMBB", "urllc": "URLLC", "mmtc": "mMTC"}


def infer_slice(path: str) -> str:
    lowered = path.lower()
    for marker, label in SLICE_MARKERS.items():
        if marker in lowered:
            return label
    return "unknown"


def decode_pcap_bytes(data: bytes, slice_type: str, file_name: str) -> Iterator[tuple]:
    """Pure-Python classic-pcap decoder (one generator per file): every
    well-formed record in ``data``, however many."""
    if len(data) < 24:
        return
    magic = struct.unpack(">I", data[:4])[0]
    if magic in (0xD4C3B2A1, 0x4D3CB2A1):
        end = "<"
    elif magic in (0xA1B2C3D4, 0xA1B23C4D):
        end = ">"
    else:
        return  # not a classic pcap
    off = 24
    hdr = struct.Struct(f"{end}IIII")
    while off + 16 <= len(data):
        ts_sec, ts_usec, cap_len, orig_len = hdr.unpack_from(data, off)
        off += 16
        if not (0 < cap_len < 65536) or off + cap_len > len(data):
            off += max(cap_len, 0)
            continue
        pkt = data[off : off + cap_len]
        off += cap_len
        yield _parse_packet(pkt, slice_type, file_name, ts_sec, ts_usec, orig_len, cap_len)


def _parse_packet(
    pkt: bytes,
    slice_type: str,
    file_name: str,
    ts_sec: int,
    ts_usec: int,
    orig_len: int,
    cap_len: int,
) -> tuple:
    protocol, src_ip, dst_ip = "OTHER", "0.0.0.0", "0.0.0.0"
    src_port = dst_port = ip_hlen = tcp_flags = win_size = 0
    seq = 0
    if len(pkt) > 13:
        ether_type = (pkt[12] << 8) | pkt[13]
        ip_off = 14 if ether_type in (0x0800, 0x86DD) else 0
    else:
        ip_off = 0
    if len(pkt) > ip_off + 20 and (pkt[ip_off] >> 4) == 4:
        ip_hlen = (pkt[ip_off] & 0x0F) * 4
        ip_proto = pkt[ip_off + 9]
        src_ip = ".".join(str(b) for b in pkt[ip_off + 12 : ip_off + 16])
        dst_ip = ".".join(str(b) for b in pkt[ip_off + 16 : ip_off + 20])
        protocol = {6: "TCP", 17: "UDP", 1: "ICMP"}.get(ip_proto, "OTHER")
        t_off = ip_off + ip_hlen
        if len(pkt) > t_off + 4:
            src_port = (pkt[t_off] << 8) | pkt[t_off + 1]
            dst_port = (pkt[t_off + 2] << 8) | pkt[t_off + 3]
            if protocol == "TCP" and len(pkt) > t_off + 20:
                seq = int.from_bytes(pkt[t_off + 4 : t_off + 8], "big")
                tcp_flags = pkt[t_off + 13]
                win_size = (pkt[t_off + 14] << 8) | pkt[t_off + 15]
    ts_sec_u = ts_sec & 0xFFFFFFFF
    ts_usec_u = ts_usec & 0xFFFFFFFF
    return (
        slice_type,
        file_name,
        ts_sec_u + ts_usec_u / 1_000_000.0,
        ts_sec_u * 1000 + ts_usec_u // 1000,
        orig_len,
        cap_len,
        protocol,
        src_ip,
        dst_ip,
        src_port,
        dst_port,
        f"{src_ip}_{dst_ip}_{src_port}_{dst_port}_{protocol}",
        ip_hlen,
        tcp_flags,
        win_size,
        seq,
    )


def to_canonical_packets(pcap_df: DataFrame) -> DataFrame:
    """PCAP packet events → the canonical packet frame every KPI
    operator consumes (operators/kpi.py packet_view schema): the
    real-ingest end of the same pipeline the synthetic events feed.

    flow_id becomes a stable 64-bit hash of the reference's string
    flowId (srcIp_dstIp_ports_proto) so downstream keyed shuffles and
    the stateful streaming IAT treat both sources identically.
    """
    from pyspark.sql import functions as F

    return pcap_df.select(
        F.abs(F.xxhash64("flow_id", "file_name")).alias("event_id"),
        F.timestamp_micros((F.col("timestamp") * 1_000_000).cast("long")).alias("ts"),
        F.col("slice_type").alias("slice"),
        F.abs(F.xxhash64("flow_id")).alias("flow_id"),
        F.col("timestamp").alias("ts_sec"),
        F.col("packet_len").cast("double").alias("pkt_len"),
        "protocol",
        "src_port",
        "dst_port",
        F.col("window_size").alias("win_size"),
        "tcp_flags",
    )
