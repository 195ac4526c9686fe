"""PCAP as a Spark WRITE target (SURVEY §2 A37): the Spark 4 Python
DataSource write path — the twin of A31's reader — so packet frames
land as classic-pcap capture files with
``df.write.format("pcap").mode(...).save(dir)``.

The reference only ever CONSUMES captures (PcapKpiExtractor.scala:59-
228); its test fixtures are hand-built byte blobs.  A write path makes
the engine able to MATERIALIZE captures — regression fixtures, replay
corpora, downsampled archives — through the same DataFrame API as any
other sink, and closes the loop with the certified reader: what this
writer encodes, A31/A2 decode back field-for-field.

Layout contract (mirrors the reader's inference, pcap.py:58-66): rows
route by ``slice_type`` into the marker subdirectory the reader infers
slices FROM (eMBB→``embb/``, URLLC→``urllc/``, mMTC→``mmtc/``, anything
else →``other/`` which reads back as "unknown").  One pcap file per
(task, slice): records append as encountered — no per-task buffering —
so a task's memory is O(open file handles), not O(partition bytes).

Wire format written (and what round-trips):

- classic pcap, little-endian magic 0xA1B2C3D4, linktype 1 (Ethernet);
- Ethernet II + IPv4(ihl=20) + TCP(20B + 1 pad) or an 8-byte
  UDP/ICMP/OTHER transport stub carrying the ports;
- ``timestamp_ms`` splits into (sec, usec) at ms grain — exact LONG
  round-trip; ``packet_len`` becomes orig_len; captured_len is the
  real encoded byte count (55 TCP / 42 otherwise);
- TCP rows carry seq/flags/window in their header slots; non-TCP rows
  read back with the decoder's zero defaults.

Commit protocol (the A21 artifact discipline): tasks write
``.inprogress``-suffixed files and ship (tmp, final) pairs in their
commit message; ``commit`` renames every temp to its final ``*.pcap``
name ONLY after all tasks succeeded, then writes a JSON manifest of
the committed files and — in overwrite mode — deletes exactly the
pre-existing captures snapshotted at writer construction; ``abort``
removes this write's temps.  A crashed task, or a driver crash before
job commit, leaves only ``.inprogress`` temps — readers glob
``*.pcap``, so partial output is invisible to them at every point
(both batch and stream paths share this rename-on-commit shape).

Scale: parallelism = #partitions (each task streams its rows once);
route-by-slice means a ``df.repartition("slice_type")`` upstream gives
one file per slice per task set, and file count is bounded by
partitions × live slices — the same file-granular unit the reader
parallelizes over.

Known caveat (speculation): the Python DataSource write API has no
output-committer hook to fence a SPECULATIVE duplicate task attempt.
With rename-on-commit both paths degrade safely — the losing attempt's
temp is never shipped in a commit message, so it lingers only as an
invisible ``.inprogress`` orphan (disk garbage, not a readable
duplicate capture).  Run capture writes with
``spark.speculation=false`` (the default) to avoid even the orphan, or
sweep ``*.inprogress*`` temps older than the last manifest.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import struct
import uuid
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)

# slice label → marker subdirectory (the exact inverse of
# pcap.infer_slice's SLICE_MARKERS lookup)
SLICE_DIRS = {"eMBB": "embb", "URLLC": "urllc", "mMTC": "mmtc"}
_OTHER_DIR = "other"  # contains no marker → reads back as "unknown"

_PROTO_BYTES = {"TCP": 6, "UDP": 17, "ICMP": 1}
_OTHER_PROTO = 89  # OSPF: not in the decoder's {6,17,1} map → "OTHER"

# the columns each row must carry (a subset of PACKET_SCHEMA the
# encoder can represent; file_name/flow_id/timestamp/captured_len/
# ip_header_len are DERIVED on read and ignored if present)
REQUIRED_COLUMNS = (
    "slice_type", "timestamp_ms", "packet_len", "protocol",
    "src_ip", "dst_ip", "src_port", "dst_port",
    "tcp_flags", "window_size", "seq_number",
)

GLOBAL_HEADER = struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1)
_REC_HDR = struct.Struct("<IIII")

# encoded captured_len is closed-form per protocol: Ethernet(14) +
# IPv4(20) + TCP(20+1 pad, the decoder's `> t_off+20` guard) or an
# 8-byte transport stub
TCP_CAP_LEN = 14 + 20 + 21
STUB_CAP_LEN = 14 + 20 + 8


def _ip_bytes(ip: str) -> bytes:
    parts = ip.split(".")
    if len(parts) != 4:
        raise ValueError(f"pcap writer: not an IPv4 dotted quad: {ip!r}")
    out = bytes(int(p) for p in parts)
    return out


def encode_packet(
    timestamp_ms: int,
    packet_len: int,
    protocol: str,
    src_ip: str,
    dst_ip: str,
    src_port: int,
    dst_port: int,
    tcp_flags: int,
    window_size: int,
    seq_number: int,
) -> bytes:
    """One pcap record (16-byte header + frame bytes) that A2's
    decoder parses back to exactly these field values."""
    is_tcp = protocol == "TCP"
    proto_byte = _PROTO_BYTES.get(protocol, _OTHER_PROTO)
    if is_tcp:
        transport = struct.pack(
            ">HHIIBBHHH",
            src_port & 0xFFFF, dst_port & 0xFFFF,
            seq_number & 0xFFFFFFFF, 0,
            0x50, tcp_flags & 0xFF, window_size & 0xFFFF, 0, 0,
        ) + b"\x00"  # pad past the decoder's len > t_off+20 guard
    else:
        transport = struct.pack(
            ">HHI", src_port & 0xFFFF, dst_port & 0xFFFF, 0
        )
    ip_hdr = struct.pack(
        ">BBHHHBBH4s4s",
        0x45, 0, 20 + len(transport), 0, 0, 64, proto_byte, 0,
        _ip_bytes(src_ip), _ip_bytes(dst_ip),
    )
    eth = b"\x02" * 6 + b"\x04" * 6 + b"\x08\x00"
    frame = eth + ip_hdr + transport
    ts_ms = int(timestamp_ms)
    rec = _REC_HDR.pack(
        (ts_ms // 1000) & 0xFFFFFFFF,
        (ts_ms % 1000) * 1000,
        len(frame),
        int(packet_len) & 0xFFFFFFFF,
    )
    return rec + frame


def _stream_rows_to_files(
    root: str, iterator, tmp_namer
) -> tuple[dict[str, str], int]:
    """Shared per-task encode loop: rows stream into one open file per
    slice subdir (lazily created via ``tmp_namer(subdir)``), O(handles)
    memory; any failure closes and removes every partial file before
    re-raising (no readable half-capture survives).  Returns
    ({subdir: written_path}, n_packets)."""
    handles: dict[str, tuple] = {}  # subdir -> (path, fh)
    n = 0
    try:
        for row in iterator:
            subdir = SLICE_DIRS.get(row["slice_type"], _OTHER_DIR)
            if subdir not in handles:
                os.makedirs(os.path.join(root, subdir), exist_ok=True)
                path = tmp_namer(subdir)
                fh = open(path, "wb")
                fh.write(GLOBAL_HEADER)
                handles[subdir] = (path, fh)
            _, fh = handles[subdir]
            fh.write(encode_packet(
                row["timestamp_ms"], row["packet_len"],
                row["protocol"], row["src_ip"], row["dst_ip"],
                row["src_port"], row["dst_port"], row["tcp_flags"],
                row["window_size"], row["seq_number"],
            ))
            n += 1
    except BaseException:
        for path, fh in handles.values():
            fh.close()
            try:
                os.remove(path)
            except OSError:
                pass
        raise
    for _, fh in handles.values():
        fh.close()
    return {s: p for s, (p, _) in handles.items()}, n


@dataclass
class PcapCommitMessage(WriterCommitMessage):
    # ordered (tmp_path, final_path) pairs — final naming happens at
    # COMMIT on the driver, after every task succeeded (r12 advice: a
    # task-side rename made partial output visible to readers' *.pcap
    # glob if the driver crashed mid-job; the stream writer already
    # deferred naming to commit(), the batch path now matches)
    pending: list = field(default_factory=list)
    n_packets: int = 0


@dataclass
class PcapStreamCommitMessage(WriterCommitMessage):
    # ordered (subdir, tmp_path) pairs — final naming happens at COMMIT
    # on the driver, where the batchId is known
    tmp_files: list = field(default_factory=list)
    n_packets: int = 0


class PcapWriter(DataSourceWriter):
    def __init__(self, options: dict, schema, overwrite: bool):
        root = options.get("path")
        if not root:
            raise ValueError("pcap writer requires a path")
        self._root = root
        self._overwrite = overwrite
        missing = [c for c in REQUIRED_COLUMNS if c not in schema.names]
        if missing:
            raise ValueError(
                f"pcap writer: input is missing columns {missing}; "
                f"required: {list(REQUIRED_COLUMNS)}"
            )
        # overwrite = replace the captures that existed BEFORE this
        # write; snapshot them now (driver side), delete them only in
        # commit() once every task has succeeded — a failed write
        # leaves the old captures untouched
        self._preexisting = (
            sorted(
                _glob.glob(os.path.join(root, "**", "*.pcap"),
                           recursive=True)
            )
            if overwrite else []
        )

    def write(self, iterator) -> PcapCommitMessage:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = ctx.partitionId() if ctx is not None else 0
        run = uuid.uuid4().hex[:8]

        def final_name(subdir: str) -> str:
            return os.path.join(
                self._root, subdir, f"part-{part:05d}-{run}.pcap"
            )

        by_subdir, n = _stream_rows_to_files(
            self._root, iterator,
            lambda subdir: final_name(subdir) + ".inprogress",
        )
        pending = sorted(
            (tmp, final_name(subdir)) for subdir, tmp in by_subdir.items()
        )
        return PcapCommitMessage(pending=pending, n_packets=n)

    def commit(self, messages) -> None:
        # Rename-on-commit: no *.pcap becomes visible until EVERY task
        # succeeded, so a mid-job driver crash (abort never runs) leaves
        # only .inprogress temps, which readers' *.pcap glob ignores.
        committed = []
        for m in messages:
            if m is None:
                continue
            for tmp, final in m.pending:
                os.replace(tmp, final)
                committed.append(final)
        committed.sort()
        if self._overwrite:
            keep = set(committed)
            for old in self._preexisting:
                if old not in keep:
                    try:
                        os.remove(old)
                    except OSError:
                        pass
        os.makedirs(self._root, exist_ok=True)
        manifest = {
            "files": [os.path.relpath(f, self._root) for f in committed],
            "n_packets": sum(
                m.n_packets for m in messages if m is not None
            ),
        }
        tmp = os.path.join(
            self._root, f"_pcap_write_manifest.{uuid.uuid4().hex[:8]}.tmp"
        )
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, sort_keys=True, indent=1)
        os.replace(tmp, os.path.join(self._root, "_pcap_write_manifest.json"))

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for tmp, _final in m.pending:
                try:
                    os.remove(tmp)
                except OSError:
                    pass


class PcapStreamWriter(DataSourceStreamWriter):
    """A39: the STREAMING twin — ``df.writeStream.format("pcap")``.

    Exactly-once visibility without a transactional store:

    - tasks write ``.inprogress-<uuid>`` temps and ship their paths in
      the commit message — no ``.pcap`` exists until the epoch commits;
    - ``commit(messages, batchId)`` renames temps to DETERMINISTIC
      per-epoch names ``part-b<batchId>-<task#>-<slice#>.pcap``, prunes
      any stale ``part-b<batchId>-*`` leftovers from a previous failed
      attempt of the SAME epoch, and lands a per-batch manifest — so a
      replayed epoch (crash between sink commit and checkpoint commit)
      overwrites its own files byte-for-byte instead of duplicating;
    - ``abort`` removes the attempt's temps.

    Readers glob ``*.pcap``, so they see exactly the union of committed
    epochs at every instant.
    """

    def __init__(self, options: dict, schema):
        root = options.get("path")
        if not root:
            raise ValueError("pcap stream writer requires a path")
        self._root = root
        missing = [c for c in REQUIRED_COLUMNS if c not in schema.names]
        if missing:
            raise ValueError(
                f"pcap stream writer: input is missing columns {missing};"
                f" required: {list(REQUIRED_COLUMNS)}"
            )

    def write(self, iterator) -> PcapStreamCommitMessage:
        run = uuid.uuid4().hex[:8]
        by_subdir, n = _stream_rows_to_files(
            self._root, iterator,
            lambda subdir: os.path.join(
                self._root, subdir, f".inprogress-{run}-{subdir}"
            ),
        )
        return PcapStreamCommitMessage(
            tmp_files=sorted(by_subdir.items()), n_packets=n,
        )

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 — API name
        # an all-empty epoch writes no files and may not have created
        # the root yet — commit must still land its manifest
        os.makedirs(self._root, exist_ok=True)
        finals = set()
        for mi, m in enumerate(messages):
            if m is None:
                continue
            for si, (subdir, tmp) in enumerate(m.tmp_files):
                final = os.path.join(
                    self._root, subdir,
                    f"part-b{batchId:08d}-{mi:05d}-{si}.pcap",
                )
                os.replace(tmp, final)
                finals.add(final)
        # prune leftovers of a previous attempt of this same epoch
        # (different task partitioning -> different names)
        prefix = f"part-b{batchId:08d}-"
        for sub in os.listdir(self._root):
            d = os.path.join(self._root, sub)
            if not os.path.isdir(d):
                continue
            for f in os.listdir(d):
                p = os.path.join(d, f)
                if (f.startswith(prefix) and f.endswith(".pcap")
                        and p not in finals):
                    try:
                        os.remove(p)
                    except OSError:
                        pass
        mdir = os.path.join(self._root, "_pcap_stream_commits")
        os.makedirs(mdir, exist_ok=True)
        manifest = {
            "batch_id": batchId,
            "files": sorted(os.path.relpath(f, self._root) for f in finals),
            "n_packets": sum(
                m.n_packets for m in messages if m is not None
            ),
        }
        tmp = os.path.join(mdir, f".batch-{batchId}.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, sort_keys=True, indent=1)
        os.replace(tmp, os.path.join(mdir, f"batch-{batchId:08d}.json"))

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 — API name
        for m in messages:
            if m is None:
                continue
            for _subdir, tmp in m.tmp_files:
                try:
                    os.remove(tmp)
                except OSError:
                    pass
