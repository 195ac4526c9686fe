"""PCAP decode → packet-event Arrow batches (SURVEY §2 A2).

Re-expresses the reference's executor-side PCAP decode
(PcapKpiExtractor.scala:59-228).  Captures are read through ONE path,
the ``format("pcap")`` data source (``sources/pcap_datasource.py``),
which calls the decoder here once per capture file:

- The byte-level decode — classic pcap global header, per-packet
  headers, Ethernet/IPv4/TCP-UDP field extraction — is genuinely
  unexpressible in SQL, so it runs on the executor, one pass per file.
  Python walks only the variable-length record headers (one offset per
  record); numpy gathers the fixed-offset Ethernet/IPv4/TCP-UDP fields
  for a whole batch of records at once, and ``pyarrow.compute`` formats
  the dotted IPs and ``flow_id`` strings.  The output is
  ``pyarrow.RecordBatch``es of at most ``BATCH_ROWS`` rows, which the
  data source hands to Spark without a per-row conversion.
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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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


# rows per decoded RecordBatch: a multi-GB capture streams out in
# bounded batches instead of one file-sized batch
BATCH_ROWS = 1 << 16

_ARROW_SCHEMA = to_arrow_schema(PACKET_SCHEMA)
# protocol codes index this array: 6 → TCP, 17 → UDP, 1 → ICMP, else OTHER
_PROTOCOLS = pa.array(["TCP", "UDP", "ICMP", "OTHER"])
_TCP, _UDP, _ICMP, _OTHER = range(4)


def decode_pcap_bytes(
    data: bytes, slice_type: str, file_name: str
) -> Iterator[pa.RecordBatch]:
    """Classic-pcap decoder: every well-formed record in ``data``, in
    file order, as ``PACKET_SCHEMA`` batches of at most ``BATCH_ROWS``.

    A record is skipped as malformed when its ``cap_len`` is 0, at least
    65536 or runs past the end of ``data``, or when its ``orig_len`` does
    not fit ``packet_len``'s signed 32 bits."""
    if len(data) < 24:
        return
    magic = struct.unpack(">I", data[:4])[0]
    if magic in (0xD4C3B2A1, 0x4D3CB2A1):
        end = "<"
    elif magic in (0xA1B2C3D4, 0xA1B23C4D):
        end = ">"
    else:
        return  # not a classic pcap
    buf = np.frombuffer(data, np.uint8)
    lens = struct.Struct(f"{end}II")
    n = len(data)
    off = 24
    starts: list[int] = []  # payload offsets of the pending batch
    while off + 16 <= n:
        cap_len, orig_len = lens.unpack_from(data, off + 8)
        off += 16
        if 0 < cap_len < 65536 and orig_len < 1 << 31 and off + cap_len <= n:
            starts.append(off)
            if len(starts) == BATCH_ROWS:
                yield _batch(buf, starts, end, slice_type, file_name)
                starts = []
        off += cap_len
    if starts:
        yield _batch(buf, starts, end, slice_type, file_name)


def _batch(
    buf: np.ndarray, payloads: list[int], end: str, slice_type: str, file_name: str
) -> pa.RecordBatch:
    """Decode the records whose payloads begin at the offsets
    ``payloads``: one numpy gather per header field, with the per-packet
    guards as masks."""
    m = len(payloads)
    starts = np.array(payloads)
    hdr = buf[(starts - 16)[:, None] + np.arange(16)].view(f"{end}u4").astype(np.int64)
    ts_sec, ts_usec, cap_len, orig_len = hdr.T
    last = len(buf) - 1

    def u8(idx: np.ndarray) -> np.ndarray:
        # a guard below masks every position past the packet's end;
        # clipping only keeps the gather inside the buffer
        return buf[np.minimum(idx, last)].astype(np.int64)

    def u16(idx: np.ndarray) -> np.ndarray:
        return u8(idx) << 8 | u8(idx + 1)

    ether_type = u16(starts + 12)
    ip_off = np.where(
        (cap_len > 13) & ((ether_type == 0x0800) | (ether_type == 0x86DD)), 14, 0
    )
    ip = starts + ip_off
    is_ipv4 = (cap_len > ip_off + 20) & (u8(ip) >> 4 == 4)
    ip_hlen = np.where(is_ipv4, (u8(ip) & 0x0F) * 4, 0)
    ip_proto = u8(ip + 9)
    proto = np.where(
        is_ipv4,
        np.select([ip_proto == 6, ip_proto == 17, ip_proto == 1], [_TCP, _UDP, _ICMP], _OTHER),
        _OTHER,
    )
    t_off = ip_off + ip_hlen
    t = starts + t_off
    has_ports = is_ipv4 & (cap_len > t_off + 4)
    src_port = np.where(has_ports, u16(t), 0)
    dst_port = np.where(has_ports, u16(t + 2), 0)
    is_tcp = has_ports & (proto == _TCP) & (cap_len > t_off + 20)
    seq = np.where(is_tcp, u16(t + 4) << 16 | u16(t + 6), 0)
    tcp_flags = np.where(is_tcp, u8(t + 13), 0)
    win_size = np.where(is_tcp, u16(t + 14), 0)

    def dotted(at: np.ndarray) -> pa.Array:
        octets = [pa.array(np.where(is_ipv4, u8(at + k), 0)).cast(pa.string()) for k in range(4)]
        return pc.binary_join_element_wise(*octets, ".")

    def i32(values: np.ndarray) -> pa.Array:
        return pa.array(values.astype(np.int32))

    src_ip, dst_ip = dotted(ip + 12), dotted(ip + 16)
    protocol = _PROTOCOLS.take(pa.array(proto))
    sport, dport = i32(src_port), i32(dst_port)
    flow_id = pc.binary_join_element_wise(
        src_ip, dst_ip, sport.cast(pa.string()), dport.cast(pa.string()), protocol, "_"
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.repeat(pa.scalar(slice_type, pa.string()), m),
            pa.repeat(pa.scalar(file_name, pa.string()), m),
            pa.array(ts_sec + ts_usec / 1_000_000.0),
            pa.array(ts_sec * 1000 + ts_usec // 1000),
            i32(orig_len),
            i32(cap_len),
            protocol,
            src_ip,
            dst_ip,
            sport,
            dport,
            flow_id,
            i32(ip_hlen),
            i32(tcp_flags),
            i32(win_size),
            pa.array(seq),
        ],
        schema=_ARROW_SCHEMA,
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
