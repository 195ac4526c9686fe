"""Multimodal decode on the oracle path (SURVEY §2 E13 certification
closer — the pcap_read_parity move applied to the media surface): the
REAL binary-column pipeline — MEDIA_SCHEMA frame → Arrow-batched
``mapInPandas`` feature extraction through ``stdlib_decoder``'s actual
byte-level decoders (netpbm, PNG inflate+unfilter, PCM WAV) — certified
against a closed-form VALUES oracle.

The query synthesizes deterministic media blobs in-plan with stdlib
encoders (a P5 gray and P6 RGB netpbm, a filter-0 gray PNG, a PCM16
WAV), each carrying a planted pixel/sample PATTERN whose feature vector
has a closed form from the construction parameters alone.  The oracle
never sees a decoder: its literals are the pattern arithmetic evaluated
through the same float32 feature layout, so parity proves the zlib
inflate, netpbm header walk, WAV PCM normalization, and the feature
arithmetic reproduce the construction exactly — end-to-end through the
distributed mapInPandas plumbing (schema, batching, sha/bytes
bookkeeping), not a unit test.

Scale: certification runs on four tiny blobs; the production path's
argument lives in operators/multimodal.py (bounded inner batches,
binaryFile ingestion, content never leaves the executor).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.plans.plan_ledger import note_precollect
from fiveg_spark.plans.registry import Query

# ---- deterministic constructions -----------------------------------------


def _p5_image() -> tuple[bytes, np.ndarray]:
    w, h = 8, 5
    arr = np.fromfunction(lambda y, x: (3 * x + 7 * y) % 256, (h, w)).astype(
        np.uint8
    )
    return b"P5\n%d %d\n255\n" % (w, h) + arr.tobytes(), arr


def _p6_image() -> tuple[bytes, np.ndarray]:
    w, h = 6, 4
    arr = np.fromfunction(
        lambda y, x, c: x + y + 50 * c, (h, w, 3)
    ).astype(np.uint8)
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes(), arr


def _png_image() -> tuple[bytes, np.ndarray]:
    w, h = 5, 3
    arr = np.fromfunction(lambda y, x: 10 * x + y, (h, w)).astype(np.uint8)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # gray, depth 8
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    return blob, arr


def _wav_audio() -> tuple[bytes, np.ndarray]:
    sr, n = 8000, 4000
    x = np.tile(np.array([8192, -8192], dtype=np.int16), n // 2)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(x.tobytes())
    return buf.getvalue(), x.astype(np.float64) / 32768.0


def _image_vec(arr: np.ndarray) -> list[float]:
    """stdlib_decoder's image feature layout, evaluated on the pattern
    array the CONSTRUCTION defines (the decoder is never consulted)."""
    chans = (
        arr.reshape(-1, 3).mean(axis=0)
        if arr.ndim == 3
        else np.repeat(arr.mean(), 3)
    )
    h, w = arr.shape[:2]
    return [
        2.0, w / 4096.0, h / 4096.0,
        3.0 if arr.ndim == 3 else 1.0,
        float(arr.mean()) / 255.0, float(arr.std()) / 255.0,
        *(float(c) / 255.0 for c in chans),
    ]


def _audio_vec(x: np.ndarray, sr: int) -> list[float]:
    zcr = float(np.mean(np.abs(np.diff(np.signbit(x)))))
    return [
        1.0, len(x) / sr, sr / 48000.0,
        float(np.sqrt(np.mean(x**2))),
        float(np.max(np.abs(x))),
        zcr, float(x.mean()), float(x.std()), 0.0,
    ]


def _cases() -> list[tuple[int, str, str, bytes, list[float]]]:
    p5, a5 = _p5_image()
    p6, a6 = _p6_image()
    png, apng = _png_image()
    wav, xw = _wav_audio()
    return [
        (1, "image", "pgm", p5, _image_vec(a5)),
        (2, "image", "ppm", p6, _image_vec(a6)),
        (3, "image", "png", png, _image_vec(apng)),
        (4, "audio", "wav", wav, _audio_vec(xw, 8000)),
    ]


_NF = 9  # feature slots the certified frame reads


def _media_decode_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.operators.multimodal import (
        extract_features,
        stdlib_decoder,
    )

    media = spark.createDataFrame(
        [
            (mid, kind, fmt, bytearray(blob),
             (None, None, None, None))
            for mid, kind, fmt, blob, _vec in _cases()
        ],
        "media_id LONG, kind STRING, format STRING, content BINARY,"
        " meta STRUCT<width:INT, height:INT, duration_ms:INT,"
        " sample_rate:INT>",
    )
    feats = extract_features(media, decoder=stdlib_decoder)
    cols = [
        F.expr(
            f"CAST(round(CAST(features[{i}] AS DOUBLE) + 1e-9, 4) + 0.0"
            f" AS DOUBLE)"
        ).alias(f"f{i}")
        for i in range(_NF)
    ]
    return feats.select("media_id", "kind", "n_bytes", "content_sha",
                        *cols).orderBy("media_id")


def _media_decode_oracle() -> str:
    rows = []
    for mid, kind, _fmt, blob, vec in _cases():
        # the Spark side stores features as float32 then widens to
        # double: reproduce that exact widening before rounding
        f32 = [float(np.float32(v)) for v in (vec + [0.0] * _NF)[:_NF]]
        vals = ", ".join(f"{round(v + 1e-9, 4)!r}" for v in f32)
        sha = hashlib.sha256(blob).hexdigest()
        rows.append(
            f"({mid}, '{kind}', {len(blob)}, '{sha}', {vals})"
        )
    fcols = ", ".join(f"f{i}" for i in range(_NF))
    fcast = ", ".join(
        f"CAST(f{i} AS DOUBLE) AS f{i}" for i in range(_NF)
    )
    return f"""
    SELECT CAST(media_id AS BIGINT) AS media_id, kind,
      CAST(n_bytes AS BIGINT) AS n_bytes, content_sha, {fcast}
    FROM (VALUES
      {",".join(rows)}
    ) AS t(media_id, kind, n_bytes, content_sha, {fcols})
    ORDER BY media_id
    """


QUERIES = [
    Query("media_decode_parity", _media_decode_run, _media_decode_oracle()),
]


# --------------------------------------------------------------------------
# E131 — real resize path certified against the index-math closed form
# --------------------------------------------------------------------------

_OUT_H, _OUT_W = 3, 4


def _resize_closed_form() -> list[tuple]:
    """resize_nn is pure index math — rows[i] = (i*h)//out_h — so the
    resized grid is a deterministic function of the planted pattern;
    evaluate it on the construction arrays (never through the Spark
    path) and roll up to certifiable scalars."""
    rows = []
    for mid, kind, _fmt, blob, _vec in _cases():
        if kind != "image":
            continue  # the WAV quarantines out of the resize path
        arr = {1: _p5_image, 2: _p6_image, 3: _png_image}[mid]()[1]
        h, w = arr.shape[:2]
        ri = np.minimum((np.arange(_OUT_H) * h) // _OUT_H, h - 1)
        ci = np.minimum((np.arange(_OUT_W) * w) // _OUT_W, w - 1)
        small = arr[ri][:, ci]
        flat = np.asarray(small).reshape(-1).astype(np.int64)
        ch = 1 if small.ndim == 2 else small.shape[2]
        rows.append((
            mid, h, w, ch,
            int(flat.sum()), int(flat.min()), int(flat.max()),
            int(flat[0]), int(flat[-1]),
        ))
    return rows


def _media_resize_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.operators.multimodal import resize_images

    media = spark.createDataFrame(
        [
            (mid, kind, fmt, bytearray(blob), (None, None, None, None))
            for mid, kind, fmt, blob, _vec in _cases()
        ],
        "media_id LONG, kind STRING, format STRING, content BINARY,"
        " meta STRUCT<width:INT, height:INT, duration_ms:INT,"
        " sample_rate:INT>",
    )
    small = resize_images(media, _OUT_H, _OUT_W)
    return (
        small.select(
            "media_id",
            F.col("in_height").cast("long").alias("in_h"),
            F.col("in_width").cast("long").alias("in_w"),
            F.col("channels").cast("long").alias("channels"),
            F.expr("CAST(aggregate(pixels, 0L, (a, x) -> a + x) AS BIGINT)")
            .alias("pixel_sum"),
            F.expr("CAST(array_min(pixels) AS BIGINT)").alias("pixel_min"),
            F.expr("CAST(array_max(pixels) AS BIGINT)").alias("pixel_max"),
            F.expr("CAST(pixels[0] AS BIGINT)").alias("first_px"),
            F.expr("CAST(element_at(pixels, -1) AS BIGINT)").alias("last_px"),
        )
        .orderBy("media_id")
    )


def _media_resize_oracle() -> str:
    rows = ",\n      ".join(
        "(" + ", ".join(str(v) for v in r) + ")"
        for r in _resize_closed_form()
    )
    cols = ("media_id", "in_h", "in_w", "channels", "pixel_sum",
            "pixel_min", "pixel_max", "first_px", "last_px")
    cast = ", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in cols)
    return f"""
    SELECT {cast}
    FROM (VALUES
      {rows}
    ) AS t({", ".join(cols)})
    ORDER BY media_id
    """


QUERIES.append(
    Query("media_resize_parity", _media_resize_run, _media_resize_oracle())
)


# --------------------------------------------------------------------------
# E132 — MP4 frame-sample plan certified against the index closed form
# --------------------------------------------------------------------------


def _mp4_box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + tag + payload


_MP4_SIZES = [5 * i for i in range(1, 13)]   # 12 samples, 3 chunks of 4
_MP4_CHUNKS = [500, 1500, 2600]
_MP4_KEYFRAMES = [1, 5, 9]
_BARE_N, _BARE_UNIFORM = 5, 9


def _indexed_mp4() -> bytes:
    """ISO-BMFF container with FULL sample tables (stsz per-sample
    sizes, stss keyframes, stsc run, stco chunk offsets) — built from
    the construction constants above, independent of the prober."""
    ts, dur_ms, w, h = 1000, 1200, 64, 48
    mvhd = bytes(4) + bytes(8) + struct.pack(">II", ts, dur_ms) + bytes(80)
    tkhd = (
        bytes(4) + bytes(8) + struct.pack(">I", 1) + bytes(4)
        + struct.pack(">I", dur_ms) + bytes(8) + bytes(8) + bytes(36)
        + struct.pack(">II", w << 16, h << 16)
    )
    mdhd = bytes(4) + bytes(8) + struct.pack(">II", ts, dur_ms) + bytes(4)
    hdlr = bytes(8) + b"vide" + bytes(12)
    stsd = (bytes(4) + struct.pack(">I", 1) + struct.pack(">I", 16)
            + b"avc1" + bytes(8))
    stsz = bytes(4) + struct.pack(">II", 0, len(_MP4_SIZES)) + b"".join(
        struct.pack(">I", s) for s in _MP4_SIZES
    )
    stss = bytes(4) + struct.pack(">I", len(_MP4_KEYFRAMES)) + b"".join(
        struct.pack(">I", s) for s in _MP4_KEYFRAMES
    )
    stsc = bytes(4) + struct.pack(">I", 1) + struct.pack(">III", 1, 4, 1)
    stco = bytes(4) + struct.pack(">I", len(_MP4_CHUNKS)) + b"".join(
        struct.pack(">I", o) for o in _MP4_CHUNKS
    )
    stbl = _mp4_box(
        b"stbl",
        _mp4_box(b"stsd", stsd) + _mp4_box(b"stsz", stsz)
        + _mp4_box(b"stss", stss) + _mp4_box(b"stsc", stsc)
        + _mp4_box(b"stco", stco),
    )
    mdia = _mp4_box(
        b"mdia",
        _mp4_box(b"mdhd", mdhd) + _mp4_box(b"hdlr", hdlr)
        + _mp4_box(b"minf", stbl),
    )
    trak = _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd) + mdia)
    moov = _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd) + trak)
    return _mp4_box(b"ftyp", b"isom" + bytes(4) + b"isomavc1") + moov


def _bare_mp4() -> bytes:
    """Same container WITHOUT stss/stsc/stco and with a UNIFORM stsz:
    the fragmented-MP4 class — indices still plan, offsets honestly
    NULL."""
    ts, dur_ms = 1000, 500
    mvhd = bytes(4) + bytes(8) + struct.pack(">II", ts, dur_ms) + bytes(80)
    mdhd = bytes(4) + bytes(8) + struct.pack(">II", ts, dur_ms) + bytes(4)
    hdlr = bytes(8) + b"vide" + bytes(12)
    stsd = (bytes(4) + struct.pack(">I", 1) + struct.pack(">I", 16)
            + b"avc1" + bytes(8))
    stsz = bytes(4) + struct.pack(">II", _BARE_UNIFORM, _BARE_N)
    stbl = _mp4_box(b"stbl", _mp4_box(b"stsd", stsd) + _mp4_box(b"stsz", stsz))
    mdia = _mp4_box(
        b"mdia",
        _mp4_box(b"mdhd", mdhd) + _mp4_box(b"hdlr", hdlr)
        + _mp4_box(b"minf", stbl),
    )
    trak = _mp4_box(b"trak", mdia)
    moov = _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd) + trak)
    return _mp4_box(b"ftyp", b"isom" + bytes(4) + b"isomavc1") + moov


def _frame_plan_closed_form() -> list[tuple]:
    """k=3 plan from the construction constants: evenly spaced
    keyframes; offset = chunk base + preceding in-chunk sizes."""
    rows = []
    for s in _MP4_KEYFRAMES:  # k = |keyframes| → all three, in order
        chunk = (s - 1) // 4
        off = _MP4_CHUNKS[chunk] + sum(_MP4_SIZES[chunk * 4: s - 1])
        rows.append(("indexed.mp4", s, True, off, _MP4_SIZES[s - 1]))
    # bare, n=5, k=3 → endpoints-included even spacing 1, 3, 5
    for s in (1, 3, 5):
        rows.append(("bare.mp4", s, True, None, _BARE_UNIFORM))
    return rows


def _frame_sample_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiveg_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [("indexed.mp4", bytearray(_indexed_mp4())),
         ("bare.mp4", bytearray(_bare_mp4()))],
        "path STRING, content BINARY",
    )
    return (
        sample_frames(df, 3)
        .select(
            "path",
            F.col("sample_idx").cast("long").alias("sample_idx"),
            "is_keyframe",
            F.col("offset").cast("long").alias("byte_offset"),
            F.col("size").cast("long").alias("byte_size"),
        )
        .orderBy("path", "sample_idx")
    )


def _frame_sample_oracle() -> str:
    rows = ",\n      ".join(
        "('{}', {}, {}, {}, {})".format(
            p, s, "TRUE" if kf else "FALSE",
            "NULL" if off is None else off, sz,
        )
        for p, s, kf, off, sz in _frame_plan_closed_form()
    )
    return f"""
    SELECT path, CAST(sample_idx AS BIGINT) AS sample_idx, is_keyframe,
      CAST(byte_offset AS BIGINT) AS byte_offset,
      CAST(byte_size AS BIGINT) AS byte_size
    FROM (VALUES
      {rows}
    ) AS t(path, sample_idx, is_keyframe, byte_offset, byte_size)
    ORDER BY path, sample_idx
    """


QUERIES.append(
    Query("frame_sample_parity", _frame_sample_run, _frame_sample_oracle())
)


# --------------------------------------------------------------------------
# A6b — JSONL/CSV quarantine ingestion certified
# --------------------------------------------------------------------------

_N_GOOD = 50


def _jsonl_lines() -> list[str]:
    good = [
        '{"id": %d, "v": %s, "tag": "t%d"}' % (i, repr(i * 0.5), i % 3)
        for i in range(_N_GOOD)
    ]
    bad = [
        '{"id": 999, "v": ',              # truncated JSON
        '{"id": "not-a-number", "v": 1}',  # type conflict on id
        "plain garbage line",             # not JSON at all
    ]
    return good + bad


def _csv_lines() -> list[str]:
    good = [f"{i},{i * 0.5},t{i % 3}" for i in range(_N_GOOD)]
    bad = [
        "xx,yy,t1",          # both numeric fields malformed
        "1,2.0,t0,extra,x",  # too many columns
    ]
    return ["id,v,tag", *good, *bad]


def _quarantine_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 certified: write deterministic JSONL and CSV corpora with
    PLANTED malformed lines into scratch, ingest through the REAL
    read_jsonl/read_csv one-scan quarantine split, and certify both
    the clean-side closed-form aggregates and the quarantine counts —
    PERMISSIVE-mode semantics (type conflicts and truncated records
    route to the corrupt column, never kill the scan, never drop
    silently) on the oracle path."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from fiveg_spark.sources.text_formats import read_csv, read_jsonl

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("tag", T.StringType()),
    ])
    scratch = tempfile.mkdtemp(prefix="fiveg_quarantine_")
    try:
        jdir = os.path.join(scratch, "j")
        cdir = os.path.join(scratch, "c")
        os.makedirs(jdir)
        os.makedirs(cdir)
        with open(os.path.join(jdir, "part.jsonl"), "w") as f:
            f.write("\n".join(_jsonl_lines()))
        with open(os.path.join(cdir, "part.csv"), "w") as f:
            f.write("\n".join(_csv_lines()))

        rows = []
        for fmt, (clean, quar) in (
            ("jsonl", read_jsonl(spark, jdir, schema)),
            ("csv", read_csv(spark, cdir, schema)),
        ):
            agg = note_precollect(clean.agg(
                F.count("*").alias("n"),
                F.sum("id").alias("sum_id"),
                F.sum("v").alias("sum_v"),
                F.countDistinct("tag").alias("n_tags"),
            )).head()
            rows.append((
                fmt, int(agg["n"]), int(agg["sum_id"]),
                float(round(agg["sum_v"] + 1e-9, 4) + 0.0),
                int(agg["n_tags"]), int(quar.count()),
            ))
        return spark.createDataFrame(
            rows,
            "format STRING, n_clean LONG, sum_id LONG, sum_v DOUBLE,"
            " n_tags LONG, n_quarantined LONG",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _quarantine_oracle() -> str:
    n = _N_GOOD
    sum_id = n * (n - 1) // 2
    sum_v = round(sum_id * 0.5 + 1e-9, 4)
    return f"""
    SELECT format, CAST(n_clean AS BIGINT) AS n_clean,
      CAST(sum_id AS BIGINT) AS sum_id,
      CAST(sum_v AS DOUBLE) AS sum_v,
      CAST(n_tags AS BIGINT) AS n_tags,
      CAST(n_quarantined AS BIGINT) AS n_quarantined
    FROM (VALUES
      ('jsonl', {n}, {sum_id}, {sum_v}, 3, 3),
      ('csv',   {n}, {sum_id}, {sum_v}, 3, 2)
    ) AS t(format, n_clean, sum_id, sum_v, n_tags, n_quarantined)
    ORDER BY format
    """


QUERIES.append(
    Query("jsonl_quarantine_parity", _quarantine_run, _quarantine_oracle())
)
