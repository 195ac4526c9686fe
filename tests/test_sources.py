"""Source/sink tests (SURVEY §2 A2/A3/A5): synthesized pcap bytes →
decode parity; Kafka JSON round-trip; partitioned + streaming parquet
sinks."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from fiveg_spark.sources.kafka import (
    PACKET_JSON_SCHEMA,
    kafka_batch_reader,
    kafka_stream_reader,
    parse_packet_json,
    to_kafka_records,
)
from fiveg_spark.sources.pcap import decode_pcap_bytes, infer_slice
from fiveg_spark.sources.pcap_datasource import register_pcap_source
from fiveg_spark.sources.tables import normalize_event_ts
from fiveg_spark.sources.sinks import streaming_parquet_sink, write_partitioned
from tests.conftest import SF_DIR


def _ipv4_tcp_packet(
    src=(10, 0, 0, 1), dst=(10, 0, 0, 2), sport=1234, dport=80,
    seq=42, flags=0x18, win=512, payload=b"x" * 20,
) -> bytes:
    eth = b"\x00" * 12 + b"\x08\x00"  # ethertype IPv4
    ip_hdr = bytes([0x45, 0]) + struct.pack(">H", 40 + len(payload))
    ip_hdr += b"\x00\x00\x00\x00" + bytes([64, 6]) + b"\x00\x00"
    ip_hdr += bytes(src) + bytes(dst)
    tcp = struct.pack(">HH", sport, dport) + struct.pack(">I", seq)
    tcp += b"\x00\x00\x00\x00" + bytes([0x50, flags]) + struct.pack(">H", win)
    tcp += b"\x00\x00\x00\x00"
    return eth + ip_hdr + tcp + payload


def _pcap_bytes(packets, ts0=1700000000, little=True) -> bytes:
    end = "<" if little else ">"
    magic = 0xA1B2C3D4
    out = struct.pack(f"{end}IHHiIII", magic, 2, 4, 0, 0, 65535, 1)
    for i, pkt in enumerate(packets):
        out += struct.pack(f"{end}IIII", ts0 + i, i * 1000, len(pkt), len(pkt) + 8)
        out += pkt
    return out


def test_decode_pcap_field_parity():
    pkt = _ipv4_tcp_packet()
    rows = list(decode_pcap_bytes(_pcap_bytes([pkt]), "eMBB", "f.pcap"))
    assert len(rows) == 1
    r = dict(zip([f.name for f in __import__("fiveg_spark.sources.pcap", fromlist=["PACKET_SCHEMA"]).PACKET_SCHEMA.fields], rows[0]))
    assert r["protocol"] == "TCP"
    assert r["src_ip"] == "10.0.0.1" and r["dst_ip"] == "10.0.0.2"
    assert r["src_port"] == 1234 and r["dst_port"] == 80
    assert r["seq_number"] == 42 and r["tcp_flags"] == 0x18 and r["window_size"] == 512
    assert r["flow_id"] == "10.0.0.1_10.0.0.2_1234_80_TCP"
    assert r["packet_len"] == len(pkt) + 8 and r["captured_len"] == len(pkt)
    assert abs(r["timestamp"] - 1700000000.0) < 1e-9
    assert r["ip_header_len"] == 20


def test_decode_pcap_both_endianness_and_truncation():
    pkts = [_ipv4_tcp_packet(sport=i) for i in range(5)]
    for little in (True, False):
        rows = list(decode_pcap_bytes(_pcap_bytes(pkts, little=little), "URLLC", "g.pcap"))
        assert [r[9] for r in rows] == [0, 1, 2, 3, 4]  # src_port order kept
    # truncated tail: decoder stops cleanly
    blob = _pcap_bytes(pkts)[:-10]
    rows = list(decode_pcap_bytes(blob, "URLLC", "g.pcap"))
    assert len(rows) == 4


def test_decode_pcap_keeps_every_record_past_one_million():
    # the whole capture is already in memory: no record cap may
    # silently truncate a large file
    n = 1_000_001
    rec = struct.pack("<IIII", 1700000000, 0, 1, 1) + b"\x00"
    blob = _pcap_bytes([]) + rec * n
    assert sum(1 for _ in decode_pcap_bytes(blob, "eMBB", "big.pcap")) == n


def test_read_pcap_dataframe(spark, tmp_path):
    d = tmp_path / "captures" / "embb"
    d.mkdir(parents=True)
    pkts = [_ipv4_tcp_packet(sport=1000 + i) for i in range(10)]
    (d / "cap0.pcap").write_bytes(_pcap_bytes(pkts))
    (d / "ignore.txt").write_bytes(b"not a pcap")
    register_pcap_source(spark)
    df = spark.read.format("pcap").load(str(tmp_path / "captures"))
    rows = df.orderBy("src_port").collect()
    assert len(rows) == 10
    assert rows[0]["slice_type"] == "eMBB"
    assert rows[0]["file_name"] == "cap0.pcap"
    assert [r["src_port"] for r in rows] == list(range(1000, 1010))


def test_infer_slice():
    assert infer_slice("/data/URLLC/x.pcap") == "URLLC"
    assert infer_slice("/data/mmtc_day1/x.pcap") == "mMTC"
    assert infer_slice("/data/misc/x.pcap") == "unknown"


def test_kafka_json_round_trip(spark):
    packets = spark.createDataFrame(
        [
            ("eMBB", 1.5, 1500, 100, "TCP", 10, 20, "f1", 4, 100, 7),
            ("URLLC", 2.5, 2500, 50, "UDP", 11, 21, "f2", 0, 0, 0),
        ],
        schema=(
            "sliceType string, timestamp double, timestampMs long, packetLen int,"
            " protocol string, srcPort int, dstPort int, flowId string,"
            " tcpFlags int, windowSize int, seqNumber long"
        ),
    )
    records = to_kafka_records(packets, key_col="flowId")
    assert records.columns == ["key", "value"]
    # simulate the broker round-trip: key/value arrive as binary
    raw = records.select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
    )
    # malformed extra record must be dropped
    bad = spark.createDataFrame([("k", "{not json")], "key string, value string")
    raw = raw.union(bad.select(F.col("key").cast("binary"), F.col("value").cast("binary")))
    parsed = parse_packet_json(raw)
    rows = {r["flowId"]: r for r in parsed.collect()}
    assert set(rows) == {"f1", "f2"}
    assert rows["f1"]["sliceType"] == "eMBB" and rows["f1"]["windowSize"] == 100
    assert rows["f2"]["protocol"] == "UDP" and rows["f2"]["kafka_key"] == "f2"


def test_kafka_reader_builders(spark):
    r1 = kafka_stream_reader(spark, "broker:9092", "packets", max_offsets_per_trigger=1000)
    r2 = kafka_batch_reader(spark, "broker:9092", "packets")
    assert r1 is not None and r2 is not None  # construction only: no broker in env


def test_partitioned_parquet_sink(spark, tmp_path):
    from fiveg_spark.operators.kpi import kpi36

    out = str(tmp_path / "kpi_parquet")
    df = kpi36(spark, SF_DIR)
    write_partitioned(df, out, partition_by=("slice",))
    import os

    parts = sorted(p for p in os.listdir(out) if p.startswith("slice="))
    assert parts == ["slice=URLLC", "slice=eMBB", "slice=mMTC"]
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    # partition pruning: single-slice read scans one directory
    pruned = back.filter(F.col("slice") == "eMBB")
    assert "slice=eMBB" in pruned._jdf.queryExecution().executedPlan().toString() or pruned.count() > 0


def test_streaming_parquet_sink(spark, tmp_path):
    import shutil

    src = tmp_path / "events_in"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    stream = (
        spark.readStream.schema(spark.read.parquet(f"{SF_DIR}/events.parquet").schema)
        .parquet(str(src))
        .transform(normalize_event_ts)
        .withColumn(
            "slice",
            F.expr(
                "CASE CAST(user_id % 3 AS INT) WHEN 0 THEN 'eMBB'"
                " WHEN 1 THEN 'URLLC' ELSE 'mMTC' END"
            ),
        )
    )
    q = streaming_parquet_sink(
        stream,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        partition_by=("slice",),
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == spark.read.parquet(f"{SF_DIR}/events.parquet").count()


def test_pcap_to_kpi_end_to_end(spark, tmp_path):
    """The reference's full phase-2→3→4 shape: pcap bytes → decode →
    canonical packets → 36-KPI windowed aggregation → forecast
    features."""
    from fiveg_spark.operators.kpi import kpi36_from_packets
    from fiveg_spark.sources.pcap import to_canonical_packets

    d = tmp_path / "caps" / "urllc"
    d.mkdir(parents=True)
    # two flows, packets 10 min apart spanning ~3 hours
    pkts_a = [_ipv4_tcp_packet(sport=5001, payload=b"a" * (30 + 7 * i)) for i in range(12)]
    pkts_b = [_ipv4_tcp_packet(src=(10, 0, 0, 9), sport=6001, win=0, payload=b"b" * 40) for i in range(12)]
    blob = b""
    end = "<"
    blob += struct.pack(f"{end}IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1)
    for i, pkt in enumerate(pkts_a + pkts_b):
        ts = 1700000000 + (i % 12) * 600
        blob += struct.pack(f"{end}IIII", ts, 0, len(pkt), len(pkt))
        blob += pkt
    (d / "c.pcap").write_bytes(blob)

    register_pcap_source(spark)
    packets = to_canonical_packets(spark.read.format("pcap").load(str(tmp_path / "caps")))
    kpis = kpi36_from_packets(packets, idle_threshold=900.0, small_pkt=60.0, large_pkt=90.0)
    rows = kpis.collect()
    assert len(rows) == 3  # 3 hourly windows, single slice
    assert all(r["slice"] == "URLLC" for r in rows)
    assert len(rows[0].asDict()) == 2 + 36
    total = {r["window_start"]: r["Total_Packets"] for r in rows}
    assert sum(total.values()) == 24
    # zero-window TCP packets from flow B are visible in the health KPIs
    assert sum(r["Zero_Win_Count"] for r in rows) == 12

    # ... → forecast features: the same hourly KPI frame feeds the hybrid
    # (train.py FEATURE_MAP; its two sources missing from the KPIs are 0.0)
    from fiveg_spark.ml.features import feature_frame

    frows = feature_frame(kpis).collect()
    assert len(frows) == 3
    feats = {r["window_start"]: r for r in frows}
    mapped = {
        "throughput": "Throughput_bps",
        "packets": "Total_Packets",
        "jitter": "Jitter",
        "latency": "Avg_IAT",
        "congestion": "Avg_Win_Size",
    }
    for r in rows:
        f = feats[r["window_start"]]
        assert {k: f[k] for k in mapped} == {k: r[v] for k, v in mapped.items()}
        assert f["reliability"] == f["complexity"] == 0.0


def test_sorted_write_gives_skippable_row_groups(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from fiveg_spark.sources.sinks import write_sorted

    out = str(tmp_path / "sorted")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet").repartition(1)
    write_sorted(events, out, sort_by=("value",))
    [f] = glob.glob(f"{out}/*.parquet")
    md = pq.ParquetFile(f).metadata
    idx = next(
        i for i in range(md.num_columns)
        if md.row_group(0).column(i).path_in_schema == "value"
    )
    stats = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
    if len(stats) > 1:
        # sorted layout => row-group ranges are non-overlapping & increasing
        for a, b in zip(stats, stats[1:]):
            assert a.max <= b.min
    # and a selective range predicate could skip all but one group
    assert stats[0].min < stats[-1].max


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_format_matrix_round_trip(spark, tmp_path, fmt):
    from fiveg_spark.sources.sinks import read_format, write_format
    from fiveg_spark.sources.tables import load_table

    ev = (
        load_table(spark, "events", SF_DIR)
        .select("event_id", "event_type", "user_id", "value")
        .limit(200)
    )
    path = str(tmp_path / f"events_{fmt}")
    write_format(ev, path, fmt=fmt, partition_by=("event_type",))
    back = read_format(spark, path, fmt=fmt, schema=ev.schema)
    got = sorted(
        (r["event_id"], r["event_type"], r["user_id"], round(r["value"], 6))
        for r in back.collect()
    )
    want = sorted(
        (r["event_id"], r["event_type"], r["user_id"], round(r["value"], 6))
        for r in ev.collect()
    )
    assert got == want


def test_orc_partition_pruning(spark, tmp_path):
    from fiveg_spark.sources.sinks import read_format, write_format
    from fiveg_spark.sources.tables import load_table

    ev = load_table(spark, "events", SF_DIR).select("event_id", "event_type", "value")
    path = str(tmp_path / "orc_part")
    write_format(ev, path, fmt="orc", partition_by=("event_type",))
    one = read_format(spark, path, fmt="orc").filter(F.col("event_type") == "view")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan or "view" in plan
    assert one.count() == ev.filter(F.col("event_type") == "view").count()


def test_load_table_on_vanilla_session_conf(spark):
    """Regression (ADVICE r1): the driver's verify harness builds a VANILLA
    SparkSession — load_table must set nanosAsLong itself or every events/
    orders/lineitem read dies with PARQUET_TYPE_ILLEGAL.  Simulate by
    unsetting the conf that get_spark() installed, then loading."""
    from fiveg_spark.sources.tables import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    try:
        df = load_table(spark, "events", SF_DIR)
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.count() > 0
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, "true")


def test_normalize_event_ts_is_session_tz_independent(spark):
    """Regression (ADVICE r3): the NTZ branch must preserve the instant on
    a NON-UTC session — a plain NTZ→LTZ cast goes through the session tz
    and silently shifts every timestamp by the tz offset."""
    want_us = 1717245296789012  # 2024-06-01T12:34:56.789012Z
    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "America/New_York")
        ntz = spark.sql("SELECT TIMESTAMP_NTZ '2024-06-01 12:34:56.789012' AS ts")
        out = normalize_event_ts(ntz)
        assert dict(out.dtypes)["ts"] == "timestamp"
        assert out.select(F.unix_micros("ts")).collect()[0][0] == want_us
    finally:
        spark.conf.set(tz_key, old_tz)


def test_kafka_wire_round_trip_drives_streaming_kpi(spark, tmp_path):
    """A3 behavior test without a broker (r3 VERDICT): canonical packets →
    to_kafka_records (flowId-keyed JSON, the reference wire shape,
    PcapKpiExtractor publish side) → binary (key, value) files standing
    in for the topic → parse_packet_json (KafkaKpiPipeline subscribe
    side) → stateful streaming 36-KPI — and the numbers must equal the
    batch aggregation of the same records."""
    from fiveg_spark.operators.kpi import packet_view, with_iat
    from fiveg_spark.streaming.kpi_stream import streaming_kpi36

    # publish side: canonical packets serialized in the reference's JSON
    # field names (KafkaKpiPipeline.scala:245-261)
    wire_cols = [
        F.col("slice").alias("sliceType"),
        F.col("ts_sec").alias("timestamp"),
        (F.col("ts_sec") * 1000).cast("long").alias("timestampMs"),
        F.col("pkt_len").cast("int").alias("packetLen"),
        "protocol",
        F.col("src_port").alias("srcPort"),
        F.col("dst_port").alias("dstPort"),
        F.col("flow_id").cast("string").alias("flowId"),
        F.col("tcp_flags").alias("tcpFlags"),
        F.col("win_size").alias("windowSize"),
        F.col("event_id").alias("seqNumber"),
    ]
    records = to_kafka_records(
        packet_view(spark, SF_DIR).select(*wire_cols), key_col="flowId"
    ).select(F.col("key").cast("binary"), F.col("value").cast("binary"))
    topic_dir = str(tmp_path / "topic")
    records.write.parquet(topic_dir)

    # subscribe side: identical parse for stream and batch
    def to_canonical(raw):
        return parse_packet_json(raw).selectExpr(
            "sliceType AS slice",
            "seqNumber AS event_id",
            "CAST(flowId AS LONG) AS flow_id",
            "timestamp_micros(CAST(timestamp * 1e6 AS LONG)) AS ts",
            "timestamp AS ts_sec",
            "CAST(packetLen AS DOUBLE) AS pkt_len",
            "protocol",
            "srcPort AS src_port",
            "dstPort AS dst_port",
            "windowSize AS win_size",
            "tcpFlags AS tcp_flags",
        )

    raw_schema = spark.read.parquet(topic_dir).schema
    stream = to_canonical(spark.readStream.schema(raw_schema).parquet(topic_dir))
    q = (
        streaming_kpi36(stream, window="1 hour", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("kafka_kpi_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("kafka_kpi_stream").collect()
    assert len(got) > 100

    batch = (
        with_iat(to_canonical(spark.read.parquet(topic_dir)))
        .withColumn("window_start", F.date_trunc("hour", F.col("ts")))
        .groupBy("slice", "window_start")
        .agg(
            F.expr("sum(pkt_len) * 8").alias("Throughput_bps"),
            F.count("*").alias("Total_Packets"),
            F.expr("avg(iat)").alias("Avg_IAT"),
            F.expr("sum(CASE WHEN tcp_flags % 8 >= 4 THEN 1 ELSE 0 END)").alias(
                "RST_Count"
            ),
        )
    )
    b = {(r["slice"], r["window_start"]): r for r in batch.collect()}
    # append mode holds back any window the final watermark hasn't closed:
    # at most the trailing window of each slice
    assert len(b) - 3 <= len(got) <= len(b)
    for r in got:
        e = b[(r["slice"], r["window_start"])]
        assert r["Total_Packets"] == e["Total_Packets"]
        assert r["RST_Count"] == e["RST_Count"]
        assert abs(r["Throughput_bps"] - e["Throughput_bps"]) < 1e-6
        assert abs(r["Avg_IAT"] - e["Avg_IAT"]) < 1e-9


def test_training_shard_writer(spark, tmp_path):
    import glob
    import os

    from fiveg_spark.sources.sinks import write_training_shards

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=16)

    shard_dirs = sorted(glob.glob(os.path.join(out, "shard=*")))
    assert len(shard_dirs) == 16  # 500 docs -> every nibble populated
    for d in shard_dirs:
        files = [f for f in glob.glob(os.path.join(d, "*.parquet"))]
        assert len(files) == 1  # co-located: ONE sorted file per shard

    back = spark.read.parquet(out)
    assert back.count() == docs.count()

    # within each shard file the rows are in shuffle_key order
    import pyarrow.parquet as pq

    for d in shard_dirs:
        f = glob.glob(os.path.join(d, "*.parquet"))[0]
        keys = pq.read_table(f, columns=["shuffle_key"])["shuffle_key"].to_pylist()
        assert keys == sorted(keys)

    # shard assignment matches the certified training_order query rule
    # (first md5 nibble) at n_shards=16
    import __spark_entry__ as entry

    q = entry.queries()["training_order"]
    expect = {
        r["doc_id"]: r["shard"] for r in q(spark, SF_DIR).collect()
    }
    got = {r["doc_id"]: int(r["shard"]) for r in back.collect()}
    assert got == expect

    # reproducible: a second run yields the identical per-shard row order
    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, n_shards=16)
    for s in range(16):
        a = spark.read.parquet(os.path.join(out, f"shard={s}"))
        b = spark.read.parquet(os.path.join(out2, f"shard={s}"))
        assert [r["doc_id"] for r in a.collect()] == [
            r["doc_id"] for r in b.collect()
        ]

    # power-of-two guard
    with pytest.raises(ValueError):
        write_training_shards(docs, str(tmp_path / "bad"), n_shards=12)


def test_read_evolved_conforms_versions_and_quarantines_conflicts(
    spark, tmp_path
):
    from pyspark.sql import types as T

    from fiveg_spark.sources.evolution import (
        classify_files,
        conform,
        read_evolved,
    )

    path = str(tmp_path / "evolved")
    # v1: original schema — int id, float value, no source column
    spark.createDataFrame(
        [(1, 1.5), (2, 2.5)], "event_id INT, value FLOAT"
    ).coalesce(1).write.mode("append").parquet(path)
    # v2: widened value, added source + an extra column the target
    # never adopted
    spark.createDataFrame(
        [(3, 3.5, "s3", "junk")],
        "event_id INT, value DOUBLE, source STRING, debug STRING",
    ).coalesce(1).write.mode("append").parquet(path)
    # v3: a producer broke value's type outright
    spark.createDataFrame(
        [(4, "oops")], "event_id INT, value STRING"
    ).coalesce(1).write.mode("append").parquet(path)

    target = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("source", T.StringType()),
        ]
    )
    groups, bad = classify_files(path, target)
    assert len(bad) == 1  # only the string-typed value file
    assert len(groups) == 2  # v1 and v2 schema versions

    df, quarantined = read_evolved(spark, path, target)
    assert quarantined == bad
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "double", "string",
    ]
    rows = {r["event_id"]: r.asDict() for r in df.collect()}
    assert set(rows) == {1, 2, 3}  # v3's row quarantined, not dropped silently
    assert rows[1]["value"] == 1.5 and rows[1]["source"] is None
    assert rows[3]["source"] == "s3" and "debug" not in df.columns

    # conform alone: target ordering + typed NULLs on a live frame
    small = spark.createDataFrame([(9,)], "event_id INT")
    out = conform(small, target)
    assert out.columns == ["event_id", "value", "source"]
    assert out.collect()[0]["value"] is None

    # an all-quarantined directory still reads as an empty, correctly
    # typed frame
    solo = str(tmp_path / "allbad")
    spark.createDataFrame(
        [(4, "oops")], "event_id INT, value STRING"
    ).coalesce(1).write.mode("append").parquet(solo)
    empty, bad2 = read_evolved(spark, solo, target)
    assert empty.count() == 0 and len(bad2) == 1
    assert empty.schema == target


def test_manifest_write_verify_and_tamper_detection(spark, tmp_path):
    from pyspark.sql import functions as F

    from fiveg_spark.sources.manifest import (
        build_manifest,
        load_verified,
        verify_manifest,
        write_with_manifest,
    )

    path = str(tmp_path / "table")
    df = spark.range(0, 500).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    m = write_with_manifest(df, path)
    assert m["n_rows"] == 500 and m["n_files"] >= 1
    # footer statistics carry the value range
    assert m["column_ranges"]["event_id"] == [0, 499]
    assert m["column_ranges"]["value"] == [0.0, 6.0]

    ok, reason = verify_manifest(path)
    assert ok, reason
    assert load_verified(spark, path).count() == 500

    # tamper 1: a foreign file lands in the directory
    foreign = None
    spark.range(1).select(F.col("id").alias("event_id"),
                          F.lit(1.0).alias("value")) \
        .coalesce(1).write.mode("append").parquet(path)
    ok, reason = verify_manifest(path)
    assert not ok and "foreign" in reason
    import pytest as _pytest

    with _pytest.raises(ValueError):
        load_verified(spark, path)

    # tamper 2: rewriting the data without re-stamping fails closed
    path2 = str(tmp_path / "t2")
    write_with_manifest(df, path2)
    import os

    victim = next(
        os.path.join(r, f)
        for r, _d, fs in os.walk(path2)
        for f in fs
        if f.endswith(".parquet")
    )
    os.remove(victim)
    ok, reason = verify_manifest(path2)
    assert not ok and "missing" in reason

    # re-stamping after a legitimate rewrite heals it
    m2 = write_with_manifest(df, path2)
    assert verify_manifest(path2)[0] and m2["n_rows"] == 500


def test_manifest_schema_fingerprint_covers_every_file(spark, tmp_path):
    from pyspark.sql import functions as F

    from fiveg_spark.sources.manifest import verify_manifest, write_with_manifest

    path = str(tmp_path / "table")
    write_with_manifest(
        spark.range(5).select(F.col("id").alias("a")), path
    )
    # a schema-drifted file lands LATER in the listing: the
    # fingerprint must see it (first-file-only hashing would not)
    spark.range(3).select(
        F.col("id").alias("a"), F.lit("x").alias("b")
    ).coalesce(1).write.mode("append").parquet(path)
    ok, reason = verify_manifest(path)
    assert not ok
    # either check may fire first; both are legitimate detections
    assert reason == "schema changed" or "foreign" in reason
    # but specifically: the schema fingerprints must differ
    from fiveg_spark.sources.manifest import _schema_fingerprint, build_manifest

    import json, os

    with open(os.path.join(path, "_manifest.json")) as fh:
        stamped = json.load(fh)
    assert _schema_fingerprint(path) != stamped["schema_md5"]
