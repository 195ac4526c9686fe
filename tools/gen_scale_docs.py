"""Generate an sf1 documents corpus (10× sf0.1) for content-scaling
benchmarks — the r12 verdict's evidence ask: the corpus-heavy queries
claim near-linear scaling everywhere but had only ever been measured at
sf ≤ 0.1.

NOT driver testdata (that is read-only and correctness-certified); this
is a THROUGHPUT corpus, deterministic (seedless — pure hashing) so every
round regenerates byte-identical input:

- copy 0 is sf0.1 verbatim — the base corpus's planted dup/near-dup
  structure survives at 1/10 mass, like real growth diluting dups;
- copies 1..9 are DISTINCT content: each doc's tokens re-ordered by
  md5(token · position · copy) — a full deterministic permutation, so
  shingle sets across copies are near-disjoint (a rotation would keep
  almost every trigram intact and make every copy a near-dup, blowing
  the pair output up with synthetic clusters and turning the scaling
  measurement into output-size noise) while vocabulary and length
  statistics are preserved exactly;
- doc_id' = doc_id + copy * 1_000_000 (disjoint id spaces); n_chars
  recomputed from the permuted text.

The remaining tables hard-copy from sf0.1 (ensure_views wants them
present; the scaling queries only scan documents).  The last step
writes ``_SUCCESS`` holding the document count, so a reader can tell a
finished corpus from one an interrupted run left behind.

Usage: python tools/gen_scale_docs.py [out_dir]   (default
/tmp/spark_graft_sf1)
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
SUCCESS = "_SUCCESS"  # written last, holding the document count
COPIES = 10
ID_STRIDE = 1_000_000


def permute_tokens(text: str, copy: int) -> str:
    toks = text.split(" ")
    keyed = sorted(
        (hashlib.md5(f"{t}\x00{i}\x00{copy}".encode()).hexdigest(), t)
        for i, t in enumerate(toks)
    )
    return " ".join(t for _, t in keyed)


def main(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    success = os.path.join(out_dir, SUCCESS)
    if os.path.exists(success):
        os.remove(success)  # an interrupted rerun must not look complete
    rows = duckdb.sql(
        f"SELECT doc_id, text, lang, source, n_chars"
        f" FROM read_parquet('{SRC}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    out = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    for copy in range(COPIES):
        for doc_id, text, lang, source, _ in rows:
            t = text if copy == 0 else permute_tokens(text, copy)
            out["doc_id"].append(doc_id + copy * ID_STRIDE)
            out["text"].append(t)
            out["lang"].append(lang)
            out["source"].append(source)
            out["n_chars"].append(len(t))
    table = pa.table({
        "doc_id": pa.array(out["doc_id"], pa.int64()),
        "text": pa.array(out["text"], pa.string()),
        "lang": pa.array(out["lang"], pa.string()),
        "source": pa.array(out["source"], pa.string()),
        "n_chars": pa.array(out["n_chars"], pa.int64()),
    })
    # 16 part files under a documents.parquet DIRECTORY (Spark reads it
    # like a table path): a single ~6 MB file packs into 1-2 scan
    # partitions (maxSplitBytes floors at openCostInBytes), serializing
    # every sf1 scan that lacks an explicit repartition — 16 files give
    # the scan 16 tasks, the honest input spread for a scaling bench
    # (guide §2.5 input skew / §6 small-file packing arithmetic).
    doc_dir = os.path.join(out_dir, "documents.parquet")
    if os.path.isfile(doc_dir):
        os.remove(doc_dir)  # pre-r14 single-file layout
    os.makedirs(doc_dir, exist_ok=True)
    n_rows = table.num_rows
    n_shards = 16
    per = (n_rows + n_shards - 1) // n_shards
    for i in range(n_shards):
        pq.write_table(
            table.slice(i * per, per),
            os.path.join(doc_dir, f"part-{i:05d}.parquet"),
        )
    for name in os.listdir(SRC):
        if name != "documents.parquet" and name.endswith(".parquet"):
            dst = os.path.join(out_dir, name)
            if not os.path.exists(dst):
                shutil.copy(os.path.join(SRC, name), dst)
    n = len(out["doc_id"])
    chars = sum(out["n_chars"])
    with open(success, "w") as f:
        f.write(str(n))  # last step: the corpus is complete
    print(f"{out_dir}: {n} docs, {chars} chars")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1")
