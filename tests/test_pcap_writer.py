"""A37 PCAP write path: encode→decode identity, slice routing,
overwrite snapshot/commit protocol, crash cleanliness, validation.
"""

from __future__ import annotations

import json
import os
import struct

import pytest

from fiveg_spark.sources.pcap_datasource import register_pcap_source
from fiveg_spark.sources.pcap_writer import (
    GLOBAL_HEADER,
    STUB_CAP_LEN,
    TCP_CAP_LEN,
    encode_packet,
)
from tests.test_sources import decoded_rows

_SCHEMA = (
    "slice_type STRING, timestamp_ms LONG, packet_len INT, protocol STRING,"
    " src_ip STRING, dst_ip STRING, src_port INT, dst_port INT,"
    " tcp_flags INT, window_size INT, seq_number LONG"
)

_ROWS = [
    ("eMBB", 1700000000123, 900, "TCP", "10.1.2.3", "10.0.0.2",
     1234, 80, 24, 5000, 4294967295),
    ("eMBB", 1700000000124, 901, "UDP", "10.9.8.7", "10.0.0.3",
     5353, 53, 0, 0, 0),
    ("URLLC", 1700000001456, 120, "ICMP", "10.4.4.4", "10.0.0.9",
     7, 8, 0, 0, 0),
    ("mMTC", 1700000002789, 64, "OTHER", "10.5.5.5", "10.6.6.6",
     99, 100, 0, 0, 0),
    ("sliceX", 1700000003999, 77, "TCP", "10.7.7.7", "10.8.8.8",
     443, 444, 2, 1, 1),
]


def _write(spark, rows, path, mode="append", repartition=None):
    df = spark.createDataFrame(rows, _SCHEMA)
    if repartition:
        df = df.repartition(repartition)
    df.write.format("pcap").mode(mode).save(path)


def test_encode_decode_identity_unit():
    """Pure unit level: one encoded record through the A2 decoder
    reproduces every representable field, no Spark involved."""
    rec = encode_packet(1700000000123, 900, "TCP", "10.1.2.3",
                        "10.0.0.2", 1234, 80, 24, 5000, 123456789)
    got = decoded_rows(GLOBAL_HEADER + rec, "eMBB", "f.pcap")
    assert len(got) == 1
    (slice_type, _f, ts, ts_ms, pkt_len, cap_len, proto, sip, dip,
     sport, dport, _flow, ip_hlen, flags, win, seq) = got[0]
    assert (slice_type, ts_ms, pkt_len, cap_len, proto) == (
        "eMBB", 1700000000123, 900, TCP_CAP_LEN, "TCP")
    assert (sip, dip, sport, dport) == ("10.1.2.3", "10.0.0.2", 1234, 80)
    assert (ip_hlen, flags, win, seq) == (20, 24, 5000, 123456789)
    assert ts == pytest.approx(1700000000.123)


def test_non_tcp_stub_lengths():
    for proto in ("UDP", "ICMP", "OTHER"):
        rec = encode_packet(1, 50, proto, "1.2.3.4", "5.6.7.8",
                            10, 20, 0, 0, 0)
        ((_s, _f, _ts, _ms, _pl, cap, p, _si, _di, sport, dport,
          _fl, _ih, flags, win, seq),) = decoded_rows(
            GLOBAL_HEADER + rec, "x", "f")
        assert cap == STUB_CAP_LEN and p == proto
        assert (sport, dport) == (10, 20)
        assert (flags, win, seq) == (0, 0, 0)  # decoder defaults


def test_roundtrip_and_slice_routing(spark, tmp_path):
    root = str(tmp_path / "caps")
    register_pcap_source(spark)
    _write(spark, _ROWS, root)
    back = {
        (r["timestamp_ms"]): r
        for r in spark.read.format("pcap").load(root).collect()
    }
    assert len(back) == len(_ROWS)
    for (sl, ms, plen, proto, sip, dip, sp, dp, fl, win, seq) in _ROWS:
        r = back[ms]
        expect_slice = sl if sl in ("eMBB", "URLLC", "mMTC") else "unknown"
        assert r["slice_type"] == expect_slice
        assert (r["packet_len"], r["protocol"]) == (plen, proto)
        assert (r["src_ip"], r["dst_ip"]) == (sip, dip)
        assert (r["src_port"], r["dst_port"]) == (sp, dp)
        if proto == "TCP":
            assert (r["tcp_flags"], r["window_size"], r["seq_number"]) == (
                fl, win, seq)
    # marker subdirs exist; the unknown slice landed in other/
    assert {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))} == {
        "embb", "urllc", "mmtc", "other"}
    manifest = json.load(open(os.path.join(root, "_pcap_write_manifest.json")))
    assert manifest["n_packets"] == len(_ROWS)
    assert sorted(manifest["files"]) == manifest["files"]
    for f in manifest["files"]:
        assert os.path.isfile(os.path.join(root, f))


def test_overwrite_replaces_only_preexisting(spark, tmp_path):
    root = str(tmp_path / "caps")
    register_pcap_source(spark)
    _write(spark, _ROWS[:2], root)
    old_files = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root) for f in fs if f.endswith(".pcap")
    }
    _write(spark, _ROWS[2:4], root, mode="overwrite")
    new_files = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root) for f in fs if f.endswith(".pcap")
    }
    assert not (old_files & new_files)  # pre-existing captures deleted
    got = sorted(
        r["timestamp_ms"]
        for r in spark.read.format("pcap").load(root).collect()
    )
    assert got == [r[1] for r in _ROWS[2:4]]


def test_append_keeps_existing(spark, tmp_path):
    root = str(tmp_path / "caps")
    register_pcap_source(spark)
    _write(spark, _ROWS[:2], root)
    _write(spark, _ROWS[2:4], root, mode="append")
    assert spark.read.format("pcap").load(root).count() == 4


def test_bad_ip_fails_task_and_leaves_no_partial_file(spark, tmp_path):
    root = str(tmp_path / "caps")
    register_pcap_source(spark)
    rows = [_ROWS[0],
            ("eMBB", 1, 10, "TCP", "not-an-ip", "10.0.0.1", 1, 2, 0, 0, 0)]
    with pytest.raises(Exception, match="IPv4|not-an-ip|ABORTED|aborted"):
        _write(spark, rows, root, repartition=1)
    leftovers = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root) for f in fs
        if f.endswith(".pcap") or f.endswith(".inprogress")
    ]
    assert leftovers == []  # crash cleanliness: no readable partial capture


def test_missing_column_rejected(spark, tmp_path):
    register_pcap_source(spark)
    df = spark.createDataFrame([(1,)], "timestamp_ms LONG")
    with pytest.raises(Exception, match="missing columns"):
        df.write.format("pcap").mode("append").save(str(tmp_path / "caps"))


def test_written_file_is_classic_pcap_little_endian(spark, tmp_path):
    root = str(tmp_path / "caps")
    register_pcap_source(spark)
    _write(spark, _ROWS[:1], root, repartition=1)
    (pcap,) = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root) for f in fs if f.endswith(".pcap")
    ]
    head = open(pcap, "rb").read(24)
    magic_be = struct.unpack(">I", head[:4])[0]
    assert magic_be == 0xD4C3B2A1  # little-endian file, decoder probe path
    _v_major, _v_minor, _tz, _sig, snap, link = struct.unpack(
        "<HHiIII", head[4:24])
    assert (snap, link) == (65535, 1)


# ---------------------------------------------------------------------------
# A39: the streaming pcap sink (DataSourceStreamWriter)
# ---------------------------------------------------------------------------


def _land_rows(spark, src, rows, name, mtime):
    import shutil as _sh

    stage = os.path.join(src, f"_stage_{name}")
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.parquet(stage)
    (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    dst = os.path.join(src, f"{name}.parquet")
    _sh.move(os.path.join(stage, part), dst)
    _sh.rmtree(stage)
    os.utime(dst, (mtime, mtime))


def _run_stream(spark, src, out, ckpt):
    q = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.format("pcap")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_stream_writer_roundtrip_and_epoch_manifests(spark, tmp_path):
    register_pcap_source(spark)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "caps", "ckpt"))
    os.makedirs(src)
    _land_rows(spark, src, _ROWS[:2], "b0", 1_000_000_000)
    _land_rows(spark, src, _ROWS[2:4], "b1", 1_000_000_100)
    _run_stream(spark, src, out, ckpt)
    got = sorted(
        r["timestamp_ms"]
        for r in spark.read.format("pcap").load(out).collect()
    )
    assert got == sorted(r[1] for r in _ROWS[:4])
    # per-epoch commit manifests landed, batch-numbered
    mdir = os.path.join(out, "_pcap_stream_commits")
    manifests = sorted(os.listdir(mdir))
    assert len(manifests) == 2
    m0 = json.load(open(os.path.join(mdir, manifests[0])))
    assert m0["n_packets"] == 2
    for f in m0["files"]:
        assert os.path.isfile(os.path.join(out, f))
    # file names are deterministic per epoch: part-b<batch>-...
    assert all(f.split("/")[-1].startswith("part-b0000000")
               for f in m0["files"])


def test_stream_writer_restart_appends_only_new(spark, tmp_path):
    register_pcap_source(spark)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "caps", "ckpt"))
    os.makedirs(src)
    _land_rows(spark, src, _ROWS[:2], "b0", 1_000_000_000)
    _run_stream(spark, src, out, ckpt)
    _land_rows(spark, src, _ROWS[2:4], "b1", 1_000_000_100)
    _run_stream(spark, src, out, ckpt)  # same checkpoint: only b1 new
    assert spark.read.format("pcap").load(out).count() == 4


def test_stream_writer_checkpoint_loss_replay_is_idempotent(spark, tmp_path):
    """Replaying the same epochs after checkpoint loss must overwrite
    the SAME per-epoch file names, not duplicate packets."""
    register_pcap_source(spark)
    src, out = str(tmp_path / "src"), str(tmp_path / "caps")
    os.makedirs(src)
    _land_rows(spark, src, _ROWS[:2], "b0", 1_000_000_000)
    _land_rows(spark, src, _ROWS[2:4], "b1", 1_000_000_100)
    _run_stream(spark, src, out, str(tmp_path / "ckpt1"))
    n1 = spark.read.format("pcap").load(out).count()
    _run_stream(spark, src, out, str(tmp_path / "ckpt2"))  # full replay
    assert spark.read.format("pcap").load(out).count() == n1 == 4
    # no stray temps
    strays = [
        f for dp, _, fs in os.walk(out) for f in fs
        if f.startswith(".inprogress")
    ]
    assert strays == []


def test_stream_writer_empty_epoch_commits_manifest(spark, tmp_path):
    """A zero-row epoch must still commit (manifest lands, no crash)
    even when the output root does not exist yet — review-pass fix."""
    register_pcap_source(spark)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "caps", "ckpt"))
    os.makedirs(src)
    _land_rows(spark, src, [], "b0", 1_000_000_000)
    _run_stream(spark, src, out, ckpt)
    mdir = os.path.join(out, "_pcap_stream_commits")
    (m,) = os.listdir(mdir)
    got = json.load(open(os.path.join(mdir, m)))
    assert got["files"] == [] and got["n_packets"] == 0
