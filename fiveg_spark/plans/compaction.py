"""Small-file compaction executor (SURVEY §2 A22): the ACTION half of
A20's storage-health audit.

A20 reports the small-file tax; this module pays it down.  The design
splits planning from execution the way a production maintenance job
must:

- ``plan_compaction`` is METADATA-ONLY (file sizes from the listing,
  row counts from parquet footers — zero data IO): it bin-packs the
  current files into target-size output groups (first-fit decreasing on
  the size-sorted listing) and returns a plan object stating exactly
  which files merge into how many outputs, plus the expected row total.
  A healthy table yields an empty plan — calling compact on it is a
  no-op, not a rewrite (idempotence; re-running maintenance must not
  churn bytes).
- ``execute_compaction`` rewrites ONLY the planned groups: each group's
  files are read together and written as one output via a single
  ``coalesce(1)`` job per group (the group is sized to the target, so
  one file per group is the point — this is NOT a global coalesce of
  the table, which would serialize the whole rewrite through few
  tasks).  Unplanned (already-big) files are left byte-identical.  The
  rewrite lands in a temp directory and installs via atomic
  ``os.replace`` of the table directory (the A18/A21 recipe), so a
  crashed compaction leaves the original table untouched.
- Row-count conservation is VERIFIED before install (footer counts of
  the new listing vs the plan's expectation) and the A21 manifest is
  re-stamped after install, so the next ``load_verified`` consumer
  trusts the compacted layout through the same gate as any other write.

Scale: planning is O(files) driver-side metadata (the A20 note applies
— lift the listing onto binaryFile at huge file counts); execution is
one Spark read+write per GROUP, all groups independent (a production
run submits them concurrently); the atomic-install step is a metadata
rename.  Partitioned tables compact per partition directory (each
first-level directory is its own plan), preserving partition pruning.

Reference scope: the reference pipelines write parquet without any
maintenance story (KafkaKpiPipeline.scala writes append-only sinks);
this is part of the beyond-reference production surface mandated with
A18-A21.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

TARGET_BYTES = 128 * 1024 * 1024


@dataclass
class CompactionGroup:
    files: list[str]
    bytes: int
    rows: int


@dataclass
class CompactionPlan:
    path: str
    target_bytes: int
    groups: list[CompactionGroup] = field(default_factory=list)
    untouched: list[str] = field(default_factory=list)
    expected_rows: int = 0

    @property
    def n_inputs(self) -> int:
        return sum(len(g.files) for g in self.groups)


def _parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet"):
                out.append(os.path.join(root, f))
    return sorted(out)


def plan_compaction(
    path: str,
    target_bytes: int = TARGET_BYTES,
    small_bytes: int | None = None,
) -> CompactionPlan:
    """Metadata-only bin-packing plan: merge files smaller than
    ``small_bytes`` (default: target/4) into ~``target_bytes`` groups.

    First-fit decreasing over the size-sorted small-file listing; a
    group holding a single file is dropped from the plan (rewriting
    one file into one file buys nothing).  Files at or above
    ``small_bytes`` are never touched.
    """
    import pyarrow.parquet as pq

    if small_bytes is None:
        small_bytes = target_bytes // 4
    files = _parquet_files(path)
    sized = [(f, os.path.getsize(f)) for f in files]
    small = sorted(
        [fs for fs in sized if fs[1] < small_bytes],
        key=lambda fs: (-fs[1], fs[0]),
    )
    untouched = [f for f, b in sized if b >= small_bytes]
    # Bin-pack WITHIN each parent directory only: partition values are
    # directory-encoded, so a group spanning two partition dirs would
    # merge rows whose partition column lives in the path, corrupting
    # the column on rewrite.  Unpartitioned tables have one parent.
    groups: list[CompactionGroup] = []
    for f, b in small:
        parent = os.path.dirname(f)
        placed = False
        for g in groups:
            if os.path.dirname(g.files[0]) == parent and g.bytes + b <= target_bytes:
                g.files.append(f)
                g.bytes += b
                placed = True
                break
        if not placed:
            groups.append(CompactionGroup(files=[f], bytes=b, rows=0))
    groups = [g for g in groups if len(g.files) >= 2]
    expected = 0
    for g in groups:
        g.files.sort()
        g.rows = sum(pq.ParquetFile(f).metadata.num_rows for f in g.files)
        expected += g.rows
    return CompactionPlan(
        path=path,
        target_bytes=target_bytes,
        groups=groups,
        untouched=untouched,
        expected_rows=expected,
    )


def install(staging: str, path: str) -> None:
    """Swap the directory ``staging`` in at ``path``.  Two renames
    can't be one atomic op on POSIX, so the failure window between
    them is explicitly closed: if installing ``staging`` fails, the
    original is put BACK under ``path`` before re-raising — a crashed
    install never leaves the table missing.  (A hard kill between the
    renames leaves the original recoverable at
    ``<path>.pre-compact-<hex>``.)  The caller owns ``staging`` on
    failure."""
    old = f"{path}.pre-compact-{uuid.uuid4().hex[:8]}"
    os.replace(path, old)
    try:
        os.replace(staging, path)
    except BaseException:
        os.replace(old, path)  # restore — table is intact again
        raise
    shutil.rmtree(old)


def execute_compaction(
    spark: SparkSession,
    plan: CompactionPlan,
    restamp_manifest: bool = True,
) -> dict:
    """Rewrite the planned groups, verify row conservation, install
    atomically, optionally re-stamp the A21 manifest.

    Returns a summary dict: files_before/after, rows, groups_written.
    An empty plan returns immediately without touching the table.
    """
    import pyarrow.parquet as pq

    path = plan.path
    if not plan.groups:
        return {
            "compacted": False,
            "reason": "empty plan (table already healthy)",
            "files_before": len(_parquet_files(path)),
        }
    files_before = _parquet_files(path)
    staging = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    os.makedirs(staging)
    try:
        # 0. carry over non-parquet sidecars (the A21 manifest, A23's
        #    _snapshots history, _SUCCESS markers) — the install swaps
        #    the whole directory, so anything not copied would vanish
        for name in os.listdir(path):
            src = os.path.join(path, name)
            if os.path.isdir(src):
                if not any(
                    f.endswith(".parquet")
                    for _r, _d, fs in os.walk(src) for f in fs
                ):
                    shutil.copytree(src, os.path.join(staging, name))
            elif not name.endswith(".parquet"):
                shutil.copy2(src, os.path.join(staging, name))
        # 1. copy untouched files byte-identical, preserving the
        #    partition-directory layout
        for f in plan.untouched:
            rel = os.path.relpath(f, path)
            dst = os.path.join(staging, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(f, dst)
        # 2. one coalesced write per group, landing in the group's own
        #    partition directory
        for i, g in enumerate(plan.groups):
            gdir = f"{staging}.g{i}"
            spark.read.parquet(*g.files).coalesce(1).write.mode(
                "overwrite"
            ).parquet(gdir)
            rel_parent = os.path.relpath(os.path.dirname(g.files[0]), path)
            out_parent = os.path.normpath(os.path.join(staging, rel_parent))
            os.makedirs(out_parent, exist_ok=True)
            n = 0
            for root, _d, fs in os.walk(gdir):
                for f in fs:
                    if f.endswith(".parquet"):
                        dst = os.path.join(out_parent, f"compacted-{i:05d}-{f}")
                        shutil.move(os.path.join(root, f), dst)
                        n += pq.ParquetFile(dst).metadata.num_rows
            shutil.rmtree(gdir)
            if n != g.rows:
                raise RuntimeError(
                    f"row-conservation failure in group {i}: "
                    f"wrote {n}, planned {g.rows}"
                )
        # 3. atomic install (A18/A21 recipe)
        install(staging, path)
    except BaseException:
        # Only discard staging when the table is known to be in place
        # at `path` (it always is here: either we never renamed it
        # away, or the inner handler just restored it).
        shutil.rmtree(staging, ignore_errors=True)
        raise
    summary = {
        "compacted": True,
        "files_before": len(files_before),
        "files_after": len(_parquet_files(path)),
        "groups_written": len(plan.groups),
        "rows_rewritten": plan.expected_rows,
    }
    if restamp_manifest:
        from fiveg_spark.sources.manifest import stamp_manifest

        stamp_manifest(path)
    return summary
