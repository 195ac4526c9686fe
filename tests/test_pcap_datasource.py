"""A31 PCAP Python DataSource: format("pcap") reads equal the A2
decoder's rows column for column, slice pushdown prunes whole files before
a byte is read, protocol pushdown filters inside the decode loop, and
unsupported filters come back for Spark to evaluate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

from fiveg_spark.sources.pcap_datasource import (
    PcapNonMonotonicLanding,
    PcapReader,
    PcapStreamReader,
    register_pcap_source,
)
from tests.test_sources import _ipv4_tcp_packet, _pcap_bytes


def _lay_out_captures(tmp_path):
    """embb/ capture with 2 TCP packets; urllc/ capture with 1."""
    for d, n_pkts in (("embb", 2), ("urllc", 1)):
        sub = tmp_path / d
        sub.mkdir()
        pkts = [_ipv4_tcp_packet(sport=1000 + i) for i in range(n_pkts)]
        (sub / "cap0.pcap").write_bytes(_pcap_bytes(pkts))
    return str(tmp_path)


def test_format_pcap_matches_decoder_rows(spark, tmp_path):
    from fiveg_spark.sources.pcap import PACKET_SCHEMA, decode_pcap_bytes, infer_slice

    root = _lay_out_captures(tmp_path)
    register_pcap_source(spark)
    via_source = spark.read.format("pcap").load(root)
    assert via_source.schema == PACKET_SCHEMA
    expected = sorted(
        row
        for f in sorted(tmp_path.glob("*/*.pcap"))
        for row in decode_pcap_bytes(f.read_bytes(), infer_slice(str(f)), f.name)
    )
    assert sorted(map(tuple, via_source.collect())) == expected
    assert len(expected) == 3


def test_slice_pushdown_prunes_files_unread(spark, tmp_path):
    root = _lay_out_captures(tmp_path)
    # unit level: the reader receives the filter, keeps it, and its
    # partition list drops the non-matching file entirely
    r = PcapReader({"path": root})
    remaining = list(r.pushFilters([EqualTo(("slice_type",), "eMBB")]))
    assert remaining == []
    parts = r.partitions()
    assert [p.slice_type for p in parts] == ["eMBB"]

    # end to end: results match the post-scan filter semantics
    register_pcap_source(spark)
    got = (
        spark.read.format("pcap").load(root)
        .filter(F.col("slice_type") == "eMBB")
        .count()
    )
    assert got == 2


def test_protocol_pushdown_and_unsupported_filters_return(spark, tmp_path):
    root = _lay_out_captures(tmp_path)
    r = PcapReader({"path": root})
    unsupported = GreaterThanOrEqual(("src_port",), 1001)
    remaining = list(r.pushFilters([
        EqualTo(("protocol",), "UDP"), unsupported,
    ]))
    assert remaining == [unsupported]  # back to Spark for post-scan
    # pushed protocol=UDP: the decode loop skips every TCP row
    assert sum(1 for p in r.partitions() for _row in r.read(p)) == 0

    register_pcap_source(spark)
    df = spark.read.format("pcap").load(root)
    assert df.filter(F.col("protocol") == "TCP").count() == 3
    assert df.filter(F.col("protocol") == "UDP").count() == 0
    # combined: pushed equality + Spark-side residual predicate
    assert (
        df.filter((F.col("protocol") == "TCP") & (F.col("src_port") >= 1001))
        .count() == 1
    )


def test_missing_path_fails_closed():
    with pytest.raises(ValueError):
        PcapReader({})


def test_corrupt_capture_quarantines_not_kills(spark, tmp_path):
    """A garbage .pcap (bad magic) and a truncated tail in the listing
    must not kill the scan: the bad-magic file decodes to zero rows,
    the truncated file keeps its complete leading packets — the A6
    quarantine doctrine on the DataSource path."""
    d = tmp_path / "embb"
    d.mkdir()
    good = _pcap_bytes([_ipv4_tcp_packet(sport=i) for i in range(3)])
    (d / "a_good.pcap").write_bytes(good)
    (d / "b_garbage.pcap").write_bytes(b"this is not a capture at all")
    (d / "c_truncated.pcap").write_bytes(good[:-10])  # last packet cut
    register_pcap_source(spark)
    got = sorted(
        r["src_port"]
        for r in spark.read.format("pcap").load(str(tmp_path)).collect()
    )
    assert got == [0, 0, 1, 1, 2]  # 3 good + 2 recovered, garbage empty


def test_streaming_pcap_tail_is_exactly_once(spark, tmp_path):
    import time

    root = str(tmp_path / "caps")
    (tmp_path / "caps" / "embb").mkdir(parents=True)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (tmp_path / "caps" / "embb" / "a0.pcap").write_bytes(
        _pcap_bytes([_ipv4_tcp_packet(sport=1)]))
    register_pcap_source(spark)

    def run():
        q = (
            spark.readStream.format("pcap").load(root)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(out).count() == 1
    # a new capture lands; the restarted stream reads ONLY it
    time.sleep(1.1)
    (tmp_path / "caps" / "embb" / "a1.pcap").write_bytes(
        _pcap_bytes([_ipv4_tcp_packet(sport=2), _ipv4_tcp_packet(sport=3)]))
    run()
    got = sorted(r["src_port"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]  # no re-read of a0


def test_streaming_offsets_survive_earlier_sorting_directory(spark, tmp_path):
    """The advisor's failure scenario for index-based offsets: commit
    urllc/b0, then a new capture lands in embb/ — a directory whose
    files sort BEFORE the committed one in the global listing.  With
    per-directory filename watermarks the restarted stream reads ONLY
    the newcomer (an index offset would re-read b0 and skip a1)."""
    import time

    root = str(tmp_path / "caps")
    (tmp_path / "caps" / "urllc").mkdir(parents=True)
    (tmp_path / "caps" / "embb").mkdir(parents=True)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (tmp_path / "caps" / "urllc" / "b0.pcap").write_bytes(
        _pcap_bytes([_ipv4_tcp_packet(sport=10)]))
    register_pcap_source(spark)

    def run():
        q = (
            spark.readStream.format("pcap").load(root)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(out).count() == 1
    time.sleep(1.1)
    (tmp_path / "caps" / "embb" / "a1.pcap").write_bytes(
        _pcap_bytes([_ipv4_tcp_packet(sport=20)]))
    run()
    got = sorted(r["src_port"] for r in spark.read.parquet(out).collect())
    assert got == [10, 20]  # b0 not re-read, a1 not skipped


def test_streaming_out_of_order_landing_fails_loudly(tmp_path):
    """Within ONE directory filename monotonicity is still assumed —
    but violating it is now an error, not a silent re-read/skip."""
    d = tmp_path / "embb"
    d.mkdir()
    (d / "c5.pcap").write_bytes(_pcap_bytes([_ipv4_tcp_packet(sport=1)]))
    r = PcapStreamReader({"path": str(tmp_path)})
    committed = r.latestOffset()
    # a capture lands with a name sorting BELOW the committed watermark
    (d / "c1.pcap").write_bytes(_pcap_bytes([_ipv4_tcp_packet(sport=2)]))
    end = r.latestOffset()
    with pytest.raises(PcapNonMonotonicLanding):
        r.partitions(committed, end)


def test_streaming_retention_deletion_tolerated(tmp_path):
    """Deleting ALREADY-PROCESSED captures (routine retention pruning)
    must not poison restarts: the count audit only fails when files
    at-or-below the watermark EXCEED the committed count (a landing),
    not when they fall short (a deletion) — r11 ADVICE."""
    d = tmp_path / "embb"
    d.mkdir()
    for name, sport in (("c1.pcap", 1), ("c2.pcap", 2)):
        (d / name).write_bytes(_pcap_bytes([_ipv4_tcp_packet(sport=sport)]))
    r = PcapStreamReader({"path": str(tmp_path)})
    committed = r.latestOffset()
    (d / "c1.pcap").unlink()  # retention prunes a processed capture
    (d / "c3.pcap").write_bytes(_pcap_bytes([_ipv4_tcp_packet(sport=3)]))
    end = r.latestOffset()
    parts = r.partitions(committed, end)
    assert [p.path.rsplit("/", 1)[-1] for p in parts] == ["c3.pcap"]


def test_streaming_deletion_plus_landing_same_gap_fails_loudly(tmp_path):
    """The v2 count audit's blind spot (r12 ADVICE): a retention
    deletion AND an out-of-order landing in the same restart gap kept
    the at-or-below count <= n, so the unprocessed newcomer was
    silently skipped.  v3 offsets persist the processed NAME SET, so
    the landing is detected exactly even when the count nets out."""
    d = tmp_path / "embb"
    d.mkdir()
    for name, sport in (("c2.pcap", 1), ("c5.pcap", 2)):
        (d / name).write_bytes(_pcap_bytes([_ipv4_tcp_packet(sport=sport)]))
    r = PcapStreamReader({"path": str(tmp_path)})
    committed = r.latestOffset()
    (d / "c2.pcap").unlink()  # retention prunes a processed capture...
    # ...and an UNPROCESSED capture lands below the watermark: the
    # at-or-below count is back to 2 == committed n.
    (d / "c3.pcap").write_bytes(_pcap_bytes([_ipv4_tcp_packet(sport=3)]))
    end = r.latestOffset()
    with pytest.raises(PcapNonMonotonicLanding, match="c3.pcap"):
        r.partitions(committed, end)


def test_streaming_v2_count_offset_still_restarts(tmp_path):
    """A v2 checkpoint ({last, n} without names) keeps working across
    the v3 upgrade via the count-only audit fallback."""
    d = tmp_path / "embb"
    d.mkdir()
    (d / "c1.pcap").write_bytes(_pcap_bytes([_ipv4_tcp_packet(sport=1)]))
    (d / "c2.pcap").write_bytes(_pcap_bytes([_ipv4_tcp_packet(sport=2)]))
    r = PcapStreamReader({"path": str(tmp_path)})
    v2 = {"v": 2, "dirs": {str(d): {"last": "c1.pcap", "n": 1}}}
    parts = r.partitions(v2, r.latestOffset())
    assert [p.path.rsplit("/", 1)[-1] for p in parts] == ["c2.pcap"]


def test_streaming_legacy_index_offset_migrates(tmp_path):
    """A v1 checkpoint ({"index": N}) restarts against the new
    watermark offsets: the listing prefix rebuilds the marks —
    but ONLY over a single flat directory, where the prefix is
    unambiguous."""
    d = tmp_path / "embb"
    d.mkdir()
    (d / "a0.pcap").write_bytes(_pcap_bytes([_ipv4_tcp_packet(sport=1)]))
    (d / "a1.pcap").write_bytes(_pcap_bytes([_ipv4_tcp_packet(sport=2)]))
    r = PcapStreamReader({"path": str(tmp_path)})
    parts = r.partitions({"index": 1}, r.latestOffset())
    assert [p.path.rsplit("/", 1)[-1] for p in parts] == ["a1.pcap"]


def test_streaming_legacy_offset_refuses_multi_directory(tmp_path):
    """With several directories the v1 prefix is ambiguous (a file may
    have landed in an earlier-sorting directory while the stream was
    down — exactly the skip/re-read mode v2 prevents): fail closed."""
    for sub, name in (("embb", "a1.pcap"), ("urllc", "b0.pcap")):
        d = tmp_path / sub
        d.mkdir()
        (d / name).write_bytes(_pcap_bytes([_ipv4_tcp_packet(sport=1)]))
    r = PcapStreamReader({"path": str(tmp_path)})
    with pytest.raises(PcapNonMonotonicLanding):
        r.partitions({"index": 1}, r.latestOffset())


def test_conflicting_pushed_equalities_yield_empty_scan(spark, tmp_path):
    root = _lay_out_captures(tmp_path)
    # unit level: both equalities consumed, scan provably empty
    r = PcapReader({"path": root})
    assert list(r.pushFilters([
        EqualTo(("slice_type",), "eMBB"), EqualTo(("slice_type",), "URLLC"),
    ])) == []
    assert r.partitions() == []
    # idempotent duplicate does NOT empty the scan
    r2 = PcapReader({"path": root})
    r2.pushFilters([EqualTo(("slice_type",), "eMBB"),
                    EqualTo(("slice_type",), "eMBB")])
    assert [p.slice_type for p in r2.partitions()] == ["eMBB"]
    # end to end: chained .filter() equalities — Catalyst keeps both
    register_pcap_source(spark)
    got = (
        spark.read.format("pcap").load(root)
        .filter(F.col("slice_type") == "eMBB")
        .filter(F.col("slice_type") == "URLLC")
        .count()
    )
    assert got == 0
