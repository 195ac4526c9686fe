"""PCAP as a first-class Spark data source (SURVEY §2 A31): the Spark
4 Python DataSource API wrapped around A2's decoder, so capture files
read as ``spark.read.format("pcap").load(dir)`` — the one capture
reader, batch and streaming — and the source itself participates in
Catalyst's filter pushdown.  ``read`` yields the decoder's
``pyarrow.RecordBatch``es, which Spark takes as they are (no per-row
Python→Arrow conversion).

Two pushdowns, each honest about what it saves:

- ``slice_type = 'X'`` prunes WHOLE FILES before a byte is read — the
  slice is inferred from the capture file's path (the reference's HDFS
  layout convention, PcapKpiExtractor.scala's directory scheme), so
  this is partition pruning in the Hive sense: at 100 TB of captures
  the non-matching slices never leave the object store.
- ``protocol = 'X'`` filters each decoded batch (an Arrow filter)
  before it is handed to Spark, saving the Python→JVM transfer (the
  decode itself still walks the file; packet records are not
  splittable or indexed).

Everything else returns to Spark for post-scan evaluation (the
pushFilters contract: returned filters are re-applied, so a partially
wrong pushdown can only cost performance, never correctness — but
these two are exact).

Scale: one InputPartition per capture file — the same file-granular
parallelism A2 documents (a pcap must decode within one task; the unit
of work at 100 TB is the capture file, thousands spread evenly).
"""

from __future__ import annotations

import os
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    InputPartition,
)

from fiveg_spark.sources.pcap import (
    PACKET_SCHEMA,
    decode_pcap_bytes,
    infer_slice,
)


class PcapFilePartition(InputPartition):
    def __init__(self, path: str, slice_type: str):
        self.path = path
        self.slice_type = slice_type


class PcapReader(DataSourceReader):
    def __init__(self, options: dict):
        root = options.get("path")
        if not root:
            raise ValueError("pcap source requires a path")
        self._root = root
        self._slice_eq: str | None = None
        self._protocol_eq: str | None = None
        self._impossible = False  # conflicting pushed equalities → empty scan

    def pushFilters(self, filters):  # noqa: N802 — API name
        # Catalyst does not fold two conflicting equalities on the same
        # column to false, so a second EqualTo with a DIFFERENT value
        # must not silently overwrite the first (both would be reported
        # as handled while only one applied).  Conjunctive semantics:
        # same value → idempotent consume; different value → the scan
        # is provably empty, emit zero partitions.
        remaining = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("slice_type",):
                v = str(f.value)
                if self._slice_eq is not None and self._slice_eq != v:
                    self._impossible = True
                self._slice_eq = self._slice_eq if self._slice_eq is not None else v
            elif isinstance(f, EqualTo) and f.attribute == ("protocol",):
                v = str(f.value)
                if self._protocol_eq is not None and self._protocol_eq != v:
                    self._impossible = True
                self._protocol_eq = (
                    self._protocol_eq if self._protocol_eq is not None else v
                )
            else:
                remaining.append(f)
        return remaining

    def _files(self) -> list[str]:
        if os.path.isfile(self._root):
            return [self._root]
        out = []
        for dirpath, _dirs, names in os.walk(self._root):
            out.extend(
                os.path.join(dirpath, n)
                for n in names
                if n.endswith((".pcap", ".cap"))
            )
        return sorted(out)

    def partitions(self):
        if self._impossible:
            return []
        parts = []
        for path in self._files():
            slice_type = infer_slice(path)
            # file-level pruning: the slice comes from the PATH, so a
            # pushed slice_type equality skips the whole file unread
            if self._slice_eq is not None and slice_type != self._slice_eq:
                continue
            parts.append(PcapFilePartition(path, slice_type))
        return parts

    def read(self, partition: PcapFilePartition) -> Iterator[pa.RecordBatch]:
        with open(partition.path, "rb") as fh:
            data = fh.read()
        proto = self._protocol_eq
        for batch in decode_pcap_bytes(
            data, partition.slice_type, os.path.basename(partition.path)
        ):
            if proto is not None:
                batch = batch.filter(pc.equal(batch.column("protocol"), proto))
            if batch.num_rows:
                yield batch


class PcapNonMonotonicLanding(RuntimeError):
    """A capture file landed with a name sorting at-or-below its
    directory's committed watermark: the rotation convention (files
    land append-only with monotonically increasing names per
    directory) was violated, and a count-based offset would silently
    re-read or skip files.  Fail closed instead."""


class PcapStreamReader(DataSourceStreamReader):
    """Capture-directory tailing (SURVEY §2 A32): offsets carry a
    PER-DIRECTORY filename watermark — ``{dir: {"last": basename,
    "n": count}}`` — not a position in the global sorted listing.  A
    new capture landing in one directory (the multi-slice layout:
    embb/, urllc/ subdirs) therefore never shifts another directory's
    file↔offset mapping, and a replayed (start, end) range re-reads
    exactly the files with ``start.last < name <= end.last`` in each
    directory (exactly-once across checkpointed restarts).

    Within ONE directory the rotation convention still holds — files
    land with monotonically increasing names and are never mutated in
    place (the reference's HDFS rotation, PcapKpiExtractor.scala's
    continuous ingest loop assumes the same) — but a violation FAILS
    LOUDLY: v3 offsets persist each directory's processed NAME SET
    (the FileStreamSource seen-files discipline), so any name found
    at-or-below the watermark that the commit never saw raises
    :class:`PcapNonMonotonicLanding` — exactly, even when retention
    deletions in the same restart gap keep the file COUNT unchanged
    (the v2 count-only audit's documented blind spot).  Deleting
    already-processed captures (retention pruning) stays tolerated."""

    def __init__(self, options: dict):
        self._batch = PcapReader(options)

    def _marks(self) -> dict:
        """Current per-directory watermarks from a fresh listing.

        v3 (r12 advice): alongside ``(last, n)`` each mark carries the
        sorted ``names`` list itself, so a restart can distinguish
        retention deletions (names vanished from the committed set —
        tolerated) from out-of-order landings (names appeared that the
        commit never saw — fail closed) even when both happen in the
        same restart gap and the COUNT nets out unchanged.  Persisting
        the processed-file set in the checkpoint is exactly what
        Spark's built-in FileStreamSource does (its seen-files metadata
        log); a capture directory under rotation holds a bounded file
        count, so the offset stays small."""
        dirs: dict[str, dict] = {}
        for path in self._batch._files():
            d = os.path.dirname(path)
            name = os.path.basename(path)
            m = dirs.setdefault(d, {"last": name, "n": 0, "names": []})
            m["n"] += 1
            m["names"].append(name)
            if name > m["last"]:
                m["last"] = name
        for m in dirs.values():
            m["names"].sort()
        return dirs

    def initialOffset(self) -> dict:  # noqa: N802 — API name
        return {"v": 3, "dirs": {}}

    def latestOffset(self) -> dict:  # noqa: N802 — API name
        return {"v": 3, "dirs": self._marks()}

    @staticmethod
    def _migrate(offset: dict, files: list[str]) -> dict:
        """Legacy v1 offsets were indexes into the global sorted
        listing; rebuild the equivalent per-directory watermarks from
        the listing prefix so old checkpoints restart cleanly.

        Only unambiguous with a SINGLE directory: with several, a file
        that landed in an earlier-sorting directory while the stream
        was down shifts the prefix exactly the way v1 offsets break —
        the migration would silently bless the skip/re-read v2 exists
        to prevent.  Fail closed instead and tell the operator to
        restart the listing (reprocess or move the checkpoint)."""
        if "dirs" in offset:
            return offset
        n_dirs = len({os.path.dirname(p) for p in files})
        if offset["index"] > 0 and n_dirs > 1:
            raise PcapNonMonotonicLanding(
                f"cannot migrate a v1 index offset ({offset['index']}) "
                f"over a multi-directory layout ({n_dirs} dirs): the "
                "listing prefix is ambiguous — files may have landed in "
                "earlier-sorting directories since the checkpoint; "
                "reprocess from a fresh checkpoint"
            )
        dirs: dict[str, dict] = {}
        for path in files[: offset["index"]]:
            d = os.path.dirname(path)
            name = os.path.basename(path)
            m = dirs.setdefault(d, {"last": name, "n": 0})
            m["n"] += 1
            if name > m["last"]:
                m["last"] = name
        return {"v": 2, "dirs": dirs}

    def partitions(self, start: dict, end: dict):
        files = self._batch._files()
        start = self._migrate(start, files)
        end = self._migrate(end, files)
        by_dir: dict[str, list[str]] = {}
        for path in files:
            by_dir.setdefault(os.path.dirname(path), []).append(path)
        out = []
        for d, mark in end["dirs"].items():
            names = sorted(os.path.basename(p) for p in by_dir.get(d, []))
            s = start["dirs"].get(d)
            lo = s["last"] if s is not None else ""
            # monotonicity audit: v3 marks carry the committed NAME SET,
            # so the check is exact set difference — a name at-or-below
            # the watermark that the commit never saw is an out-of-order
            # landing (fail closed) regardless of how many processed
            # captures retention deleted in the same gap (the r12-advice
            # fix for the v2 count-only residual, where deletion +
            # landing could net below <= n and pass undetected).  v2/v1
            # marks (no names) keep the count-only audit.
            for watermark in (s, mark):
                if watermark is None:
                    continue
                below = [n for n in names if n <= watermark["last"]]
                if "names" in watermark:
                    landed = sorted(set(below) - set(watermark["names"]))
                    if landed:
                        raise PcapNonMonotonicLanding(
                            f"{d}: capture(s) {landed} landed at-or-below "
                            f"watermark {watermark['last']!r} after it was "
                            "committed — out-of-filename-order landing "
                            "(rotation convention violated); refusing to "
                            "guess which files were processed"
                        )
                    # names missing from `below` are retention-pruned
                    # processed captures: tolerated (r11 ADVICE).
                elif len(below) > watermark["n"]:
                    # v2 count-only fallback: MORE files at-or-below the
                    # watermark than were committed — a new name sorted
                    # into the processed prefix and would be skipped.
                    # (below < n = deletion: tolerated, with the
                    # documented blind spot v3's name set closes.)
                    raise PcapNonMonotonicLanding(
                        f"{d}: {len(below)} files at-or-below watermark "
                        f"{watermark['last']!r} but the offset committed "
                        f"{watermark['n']} — a capture landed out of "
                        "filename order (rotation convention violated); "
                        "refusing to guess which files were processed"
                    )
            out.extend(
                PcapFilePartition(os.path.join(d, n), infer_slice(os.path.join(d, n)))
                for n in names
                if lo < n <= mark["last"]
            )
        return out

    def read(self, partition: PcapFilePartition) -> Iterator[pa.RecordBatch]:
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; nothing source-side


class PcapDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pcap"

    def schema(self):
        return PACKET_SCHEMA

    def reader(self, schema) -> PcapReader:
        return PcapReader(self.options)

    def streamReader(self, schema) -> PcapStreamReader:  # noqa: N802
        return PcapStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        # the write-path twin (A37): packet frames → classic-pcap
        # capture files the reader above decodes back field-for-field
        from fiveg_spark.sources.pcap_writer import PcapWriter

        return PcapWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802
        # A39: exactly-once streaming capture sink — temps promoted to
        # deterministic per-epoch names at commit, replay-idempotent
        from fiveg_spark.sources.pcap_writer import PcapStreamWriter

        return PcapStreamWriter(self.options, schema)


def register_pcap_source(spark) -> None:
    """Idempotent registration: after this,
    ``spark.read.format("pcap").load(dir)`` works session-wide.
    Python-source filter pushdown is opt-in (Spark 4.1 default off);
    a reader implementing pushFilters() under the disabled conf is an
    ANALYSIS error, so the conf flips on here, with registration."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PcapDataSource)
