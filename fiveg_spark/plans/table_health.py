"""Table storage-health audit (SURVEY §2 A20): the file-layout report
an operator reads before pointing a 1000-executor job at a path.

The small-file problem is the dominant silent tax on big Spark scans:
a 100 TB table in 4 MB files pays ~25M task launches, footer reads,
and scheduler pressure; the SAME bytes in 512 MB files scan an order
of magnitude faster.  This audit answers, from file metadata only
(os.walk + parquet footers — no data IO):

- file count, total bytes, size distribution (min/p50/max),
- small-file share (< ``small_bytes``, default 32 MB) by count AND by
  bytes — the count share drives scheduler pain, the byte share says
  whether compaction (A22, `plans/compaction.py`) is worth the rewrite,
- rows per file (footer metadata row counts) — tiny row groups also
  break predicate-pushdown effectiveness,
- top-level partition skew: max/median bytes per first-level
  partition directory (a skewed partition column starves AQE),
- a compaction verdict: recommend when small files carry more than
  ``recommend_threshold`` of the FILE COUNT (the scheduler tax) while
  holding a minority of bytes (cheap to fix).

Production note: at huge file counts the same walk lifts onto the
cluster via ``spark.read.format("binaryFile")`` over the listing; the
report logic is identical.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

SMALL_BYTES = 32 * 1024 * 1024


@dataclass
class TableHealth:
    n_files: int
    total_bytes: int
    min_bytes: int
    p50_bytes: int
    max_bytes: int
    small_file_count_share: float
    small_file_byte_share: float
    total_rows: int
    avg_rows_per_file: float
    partition_count: int
    partition_byte_skew: float  # max/median bytes across partitions
    recommend_compaction: bool


def audit_table(
    path: str,
    small_bytes: int = SMALL_BYTES,
    recommend_threshold: float = 0.5,
) -> TableHealth:
    """Metadata-only health report for a parquet table directory."""
    import pyarrow.parquet as pq

    sizes: list[int] = []
    rows = 0
    part_bytes: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        top = rel.split(os.sep)[0] if rel != "." else "."
        for name in files:
            if not name.endswith(".parquet"):
                continue
            fpath = os.path.join(root, name)
            size = os.path.getsize(fpath)
            sizes.append(size)
            part_bytes[top] = part_bytes.get(top, 0) + size
            rows += pq.read_metadata(fpath).num_rows
    if not sizes:
        return TableHealth(0, 0, 0, 0, 0, 0.0, 0.0, 0, 0.0, 0, 0.0, False)
    sizes.sort()
    total = sum(sizes)
    small = [s for s in sizes if s < small_bytes]
    count_share = len(small) / len(sizes)
    byte_share = sum(small) / total
    parts = sorted(part_bytes.values())
    skew = (
        parts[-1] / max(parts[len(parts) // 2], 1) if len(parts) > 1 else 1.0
    )
    return TableHealth(
        n_files=len(sizes),
        total_bytes=total,
        min_bytes=sizes[0],
        p50_bytes=sizes[len(sizes) // 2],
        max_bytes=sizes[-1],
        small_file_count_share=round(count_share, 4),
        small_file_byte_share=round(byte_share, 4),
        total_rows=rows,
        avg_rows_per_file=round(rows / len(sizes), 2),
        partition_count=len(part_bytes),
        partition_byte_skew=round(skew, 2),
        recommend_compaction=bool(
            count_share >= recommend_threshold and len(sizes) > 1
        ),
    )
