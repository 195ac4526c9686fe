"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "headline_total", "value": N, "unit": "sec",
   "queries": {...per-query sec...}, "sf": 0.1}

Each query is timed to full materialization (count of every row) on a
warm session; the first query's JVM/session startup is excluded by a
throwaway warm-up action.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as contract
from fiveg_spark.session import get_spark

HEADLINE = (
    "kpi36",
    "flow_iat_stats",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "sessionize",
    "minhash_lsh_pairs",
    "knn_bruteforce",
    # corpus-scan text path (r4 verdict): one shingle-explode-heavy
    # query so the LLM-data pipeline is perf-tracked like the KPI path
    "boilerplate_ngrams",
    # span-level dedup (r6): positions explode + span census + join-back
    # + per-doc reconstruction — the heaviest new text shape
    "substring_dedup",
    # importance reweighting (r6 second wave): unigram+bigram explode,
    # hashed-model build + broadcast join-back — the curation pipeline's
    # scoring shape, perf-tracked alongside the dedup/text paths
    "dsir_importance",
    # r7 additions: the lexical-retrieval shape (full tf materialize +
    # broadcast query-term scoring) and the sketch-overlap shape
    # (shingle explode + distinct + per-source rank windows)
    "bm25_retrieval",
    "theta_sketch_overlap",
    # r8 additions: the RefinedWeb line-dedup shape (block explode +
    # line hash-agg + skew-safe join-back) and the cross-source vocab
    # posting-list matrix (distinct token frame + posting pair explode)
    "line_dedup",
    "vocab_jaccard_matrix",
    # r9 additions: the hash-delay watermark simulation (md5 digit
    # arithmetic per row + bounded running-max join-back) and the
    # sparse-cell transfer-entropy shape (two event reductions + census
    # broadcast + per-user log-term rollup)
    "watermark_lateness_profile",
    "user_transfer_entropy",
    # r12 addition (r11 verdict item 8): the decision-layer shape —
    # one fact scan + erf-free p-value SQL + BH step-up windows on the
    # bounded cell frame, perf-tracking the new statistical surface
    "bh_screened_mean_shifts",
    # r13 addition: the chunk-grain near-dup shape — stride explode →
    # content-dedup reduce → shingle minhash → banding buckets →
    # bucket-local pair census (E136), the span-level fuzzy-dedup cost
    # the corpus pipeline pays on top of E135's exact census
    "chunk_minhash_pairs",
)

# r14 (verdict item 2): at sf0.1/local[32] every headliner is
# scheduling-bound (all low-core ratios < 1 in PERF_r13) — the sf0.1
# line can no longer resolve plan wins above the noise floor for the
# corpus-heavy queries.  A second, ADDITIONS-ONLY bench line times the
# corpus-heavy subset at sf1 (10x documents, deterministic generator
# tools/gen_scale_docs.py — regenerated from sf0.1 whenever absent, so
# every invocation still computes from parquet inputs).  The sf0.1
# headline_total line below stays byte-compatible and LAST on stdout.
SCALE_SUBSET = (
    "chunk_minhash_pairs",
    "minhash_lsh_pairs",
    "substring_dedup",
    "bm25_retrieval",
    "dsir_importance",
    "line_dedup",
)


def _sf1_complete(sf1_dir: str) -> bool:
    """True when a finished generator run left the corpus: its
    ``_SUCCESS`` sentinel is present and matches the document count the
    shards on disk hold (an interrupted run leaves no sentinel, and a
    missing or truncated shard no longer matches)."""
    import glob

    import pyarrow.parquet as pq

    from tools.gen_scale_docs import SUCCESS

    if not all(
        os.path.exists(os.path.join(sf1_dir, t)) for t in ("events.parquet", "lineitem.parquet")
    ):
        return False
    try:
        with open(os.path.join(sf1_dir, SUCCESS)) as f:
            expected = int(f.read())
        shards = glob.glob(os.path.join(sf1_dir, "documents.parquet", "*.parquet"))
        return bool(shards) and expected == sum(pq.ParquetFile(p).metadata.num_rows for p in shards)
    except (OSError, ValueError):
        return False


def _ensure_sf1(sf1_dir: str) -> None:
    """Generate the deterministic sf1 corpus unless a complete one is
    already on disk (same bytes every time — pure hashing, no seed)."""
    if _sf1_complete(sf1_dir):
        return
    from tools.gen_scale_docs import main as gen_sf1

    gen_sf1(sf1_dir)


def _time_queries(spark, queries, names, sf_dir: str, label: str) -> dict[str, float]:
    """Seconds to ``.count()`` each named query at ``sf_dir``: three
    timed runs per query, keep the steady-state (min) rounded to ms.  The
    first execution in this environment pays one-off JVM/page-fault
    warm-up (and co-tenant load spikes) that a resident cluster service
    would not see per-query."""
    timings: dict[str, float] = {}
    for name in names:
        best = None
        for _ in range(3):
            t0 = time.time()
            n = queries[name](spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            best = dt if best is None else min(best, dt)
        timings[name] = best
        print(f"{label}{name}: {n} rows in {best}s", file=sys.stderr)
    return timings


def _bench_scale_subset(spark, queries) -> dict | None:
    """Time SCALE_SUBSET at sf1 with the headline methodology (3 runs,
    keep min).  Never lets a failure here break the contract line."""
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
    try:
        _ensure_sf1(sf1_dir)
        timings = _time_queries(spark, queries, SCALE_SUBSET, sf1_dir, "# sf1 ")
        return {
            "metric": "scale_subset_sf1",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": 1.0,
        }
    except Exception as exc:  # noqa: BLE001 — sf1 is auxiliary evidence
        print(f"# sf1 subset skipped: {type(exc).__name__}: {exc}", file=sys.stderr)
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # sf encoded in the dir name (…/sf0.1); fall back to 0.1
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = 0.1

    spark = get_spark("bench")
    spark.range(1).count()  # pay JVM startup outside the timings

    queries = contract.queries()
    timings = _time_queries(spark, queries, HEADLINE, sf_dir, "# ")

    # sf1 subset only alongside the real (sf>=0.1) headline run — a
    # smoke bench at sf0.001/sf0.01 should stay a smoke bench
    scale_line = _bench_scale_subset(spark, queries) if sf >= 0.1 else None
    if scale_line is not None:
        print(json.dumps(scale_line))

    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
