"""Plan-shape regression ledger (SURVEY §2 A24): the C52 advisor as a
DURABLE artifact.  The advisor sweep judges a plan in the moment; this
records every contract query's physical-plan FINGERPRINT so the next
round (or the next deploy) can diff shapes instead of re-reading 300
explain outputs — "theta gained two exchanges since last week" is a
one-line diff here, and exactly the class of silent regression the r3
minhash and r9 column_stat_drift incidents were.

A fingerprint is the advisor's scalar facts (exchanges, file scans,
broadcasts, codegen spans, Python ops, cartesian/global-window flags)
plus an md5 of the CANONICALIZED plan tree — expression ids (#123),
plan ids, file paths/sizes/timestamps, and checkpoint RDD names are
stripped, so the hash is stable across sessions and testdata locations
and moves ONLY when the plan's structure moves.

Artifact discipline (the A21/r7 rules): per-writer temp name +
os.replace (no shared .inprogress), JSON sorted-keys so the file
diffs cleanly in review.

Scale: fingerprinting itself is plan-text analysis, and plain
sql_backed queries cost planning time only.  Two honest exceptions
execute work during the BUILD of the DataFrame being fingerprinted:
(1) the PLAN_BUILD_EXECUTES model fits below, which are skipped by
default, and (2) materialized_backed queries, whose ``run()``
localCheckpoints their _mz_* CTE stage — those intermediate scans DO
execute during a ledger pass.  Fingerprinting the un-checkpointed
composed plan instead would dodge that cost but hash a plan shape the
contract never runs (and break hash continuity with every prior
round's ledger), so the executed shape is recorded deliberately; at
production scale, run the ledger where the CTE-stage cost is
acceptable or diff against a cached prior ledger.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from hashlib import md5

from pyspark.sql import DataFrame, SparkSession

from fiveg_spark.plans.explain import simple_plan

LEDGER_VERSION = 3  # v3 (r13): plans render with
                    # spark.sql.maxMetadataStringLength=10000 (session
                    # factory) — the default 100-char budget truncated
                    # FileScan metadata at a position dependent on
                    # expression-id WIDTH, so whether a borderline
                    # DataFilters list truncated at all flipped with
                    # session churn (the q2/q3 'reshaped' incident; the
                    # [TRUNC... normalization below only stabilized the
                    # already-truncated tail, not the fits-vs-truncated
                    # boundary).  v2 hashes rendered under the small
                    # budget and are incomparable.
                    # v2: order-insensitive agg/partition key lists
                    # (v1 hashes drifted with session expression-id
                    # churn on wide distinct-agg plans — see
                    # _sort_unordered_lists)
                    #
                    # Known sensitivity trade (r10 advisor, accepted):
                    # sorting the aggregate output=[ / functions=[
                    # lists means a code change that ONLY reorders
                    # aggregate outputs hashes identically and won't
                    # flag as 'reshaped'.  Column order is certified
                    # by the driver's schema compare instead, so the
                    # ledger deliberately trades that signal for
                    # session-churn stability.

# Queries whose DataFrame BUILD runs driver-side model fits (k-means /
# MLlib training / collect-based codebooks) — the advisor sweep skips
# them for the same reason; recording them is opt-in because a
# "plan-only" ledger pass must not train models.  Shared with
# tests/test_advisor.py.
PLAN_BUILD_EXECUTES = frozenset({
    "ann_ivf_recall", "ann_pq_recall", "ann_lsh_recall",
    "mllib_ann_recall", "ann_recall_matrix", "ann_ivf_probe_ladder",
    "ann_pq_rerank_ladder",
    "embedding_dedup_ivf", "semdedup_summary", "hybrid_train_cert",
    "hybrid_forecast_cert", "linear_baseline_cert",
    "mllib_minhash_pairs", "pca_cert",
    "isotonic_cert", "var_ols_cert", "huber_cert", "quantile_cert",
    "gru_forward_cert", "holt_forecast", "holt_winters_forecast",
    # store-replay certifications: the BUILD runs the sink's whole
    # foreachBatch replay loop against a scratch store (the point of
    # the query), so a plan-only pass must skip them
    "stream_bloom_store_parity", "stream_dedup_store_parity",
    "stream_heavy_store_parity", "stream_lateness_store_parity",
    "stream_cusum_store_parity", "stream_psi_store_parity",
    "stream_upsert_store_parity", "stream_tdigest_store_parity",
    # artifact certifications: the BUILD constructs the artifact
    # (snapshots, cache store, postings index, backfill store,
    # compaction rewrite, evolution directory) in a scratch dir
    "snapshot_time_travel_audit", "result_cache_served",
    "postings_index_lookup", "backfill_partition_audit",
    "compaction_content_parity", "evolution_merged_read",
    "stream_hll_store_parity", "stream_reservoir_store_parity",
    "snapshot_rollback_audit", "zorder_content_parity",
    "manifest_integrity_audit", "bucketed_join_parity",
    # the BUILD synthesizes a capture directory / runs the availableNow
    # streaming replay / drives the CDC batches against scratch (r11)
    "pcap_read_parity", "pcap_write_roundtrip_parity",
    "pcap_stream_write_parity",
    "stream_kpi36_parity", "cdc_apply_parity", "stream_cdc_apply_parity",
    "stream_attribution_parity", "jsonl_quarantine_parity",
    "snapshot_vacuum_audit", "table_health_audit",
    "training_shard_layout_parity", "partitioned_sink_parity",
    "stream_index_store_parity", "stream_ewma_anomaly_parity",
    "state_store_read_parity", "state_dedup_read_parity",
    # r13: streaming replays against scratch (agg-store fold, chunk
    # dedup state read-back)
    "stream_agg_merge_parity", "stream_chunk_dedup_parity",
})

# The subset of PLAN_BUILD_EXECUTES whose run() RETURNS a real
# distributed plan (the ANN/ML certification family: the driver-side
# fit produces centroids/codebooks/weights, but the returned DataFrame
# is the genuine assignment/rerank/score pipeline).  These get a
# POST-BUILD fingerprint in every default ledger pass — the r11
# verdict's quantified blind spot: the r3 minhash incident's class of
# silent plan change lived exactly here with no shape protection.  The
# cost is honest and bounded: one fit per query at the ledger's sf.
#
# The remaining skip-listed queries return COLLECTED local frames
# (createDataFrame over certification rows) — their final "plan" is a
# LocalTableScan that canonicalizes to one constant line, so a
# fingerprint would be false security.  Since r13 the default ledger
# pass EXECUTES them once and fingerprints the distributed frames they
# collect (a note_precollect hook, or ``collected``, at every site);
# anything still reported "skipped: ... no note_precollect hook" does
# genuinely no distributed pre-collect work — e.g. table_health_audit,
# whose audit reads parquet FOOTER METADATA driver-side by design.
PLAN_BUILD_EXECUTES_PLANNABLE = frozenset({
    "ann_ivf_recall", "ann_pq_recall", "ann_lsh_recall",
    "mllib_ann_recall", "ann_recall_matrix",
    "embedding_dedup_ivf", "semdedup_summary",
    "hybrid_train_cert", "hybrid_forecast_cert",
    "mllib_minhash_pairs", "holt_forecast", "holt_winters_forecast",
})


def _split_top_level(s: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def _sort_unordered_lists(s: str, opener: str) -> str:
    """Sort the top-level comma list following every ``opener`` up to
    its matching bracket.  Grouping-key and hash-partitioning lists are
    SETS the planner prints in expression-id order — a multi-distinct
    aggregate's Expand stage permutes them with the session's id
    counter, so two sessions print semantically identical plans with
    shuffled keys (the r10w2 ledger incident: 18 wide untouched plans
    'reshaped').  Sorting makes the hash order-insensitive exactly
    where order carries no semantics; rangepartitioning is NOT
    normalized (sort-key order is real semantics there)."""
    out, i = [], 0
    while True:
        j = s.find(opener, i)
        if j < 0:
            out.append(s[i:])
            break
        start = j + len(opener)
        depth, k = 1, start
        while k < len(s) and depth > 0:
            if s[k] in "([{":
                depth += 1
            elif s[k] in ")]}":
                depth -= 1
            k += 1
        inner = s[start:k - 1]
        out.append(s[i:start])
        out.append(", ".join(sorted(_split_top_level(inner))))
        out.append(s[k - 1])
        i = k
    return "".join(out)


def _normalize_expand(s: str) -> str:
    """Multi-distinct aggregates compile to an Expand whose projection
    GROUPS are emitted in gid-assignment order — which follows the
    session id counter, like the key lists.  Normalize by replacing
    bare integer elements (the gid constants) with 'n' inside each
    group, then sorting the groups."""
    out, i = [], 0
    while True:
        j = s.find("Expand [", i)
        if j < 0:
            out.append(s[i:])
            break
        start = j + len("Expand [")
        depth, k = 1, start
        while k < len(s) and depth > 0:
            if s[k] in "([{":
                depth += 1
            elif s[k] in ")]}":
                depth -= 1
            k += 1
        groups = _split_top_level(s[start:k - 1])
        normed = []
        for g in groups:
            if g.startswith("[") and g.endswith("]"):
                # sort WITHIN the group too: the distinct column's
                # output slot follows the same id order (kpi36's
                # dst_port moved slots between sessions) — the
                # fingerprint keeps each group's expression multiset,
                # not its slot alignment
                elems = sorted(
                    "n" if e.isdigit() else e
                    for e in _split_top_level(g[1:-1])
                )
                normed.append("[" + ", ".join(elems) + "]")
            else:
                normed.append(g)
        out.append(s[i:start])
        out.append(", ".join(sorted(normed)))
        out.append(s[k - 1])
        i = k
        # the Expand node's own output list follows as ", [cols]" and
        # permutes with the same id order — sort it too
        if s[i:i + 3] == ", [":
            ostart = i + 3
            depth, k2 = 1, ostart
            while k2 < len(s) and depth > 0:
                if s[k2] in "([{":
                    depth += 1
                elif s[k2] in ")]}":
                    depth -= 1
                k2 += 1
            cols = sorted(_split_top_level(s[ostart:k2 - 1]))
            out.append(", [" + ", ".join(cols) + s[k2 - 1])
            i = k2
    return "".join(out)


def canonical_plan(plan: str) -> str:
    """Strip session/run-dependent tokens from an executed-plan tree."""
    s = plan
    # gid filter constants permute with the Expand group order
    s = re.sub(r"\bgid#?\w* = \d+", "gid#x = n", s)
    # CSE aliases carry a session-global counter
    s = re.sub(r"_common_expr_\d+", "_common_expr_n", s)
    s = re.sub(r"#\d+[A-Z]*", "#x", s)          # expression ids
    # partition counts must strip BEFORE the hashpartitioning sort:
    # sorting moves the trailing numeric count to the list head, where
    # the `, \d+\)` strip below can no longer reach it — and a count
    # leaked into the hash reintroduces exactly the cross-config drift
    # the strip exists to prevent (review catch, r10w2)
    s = re.sub(r"(hashpartitioning|rangepartitioning|SinglePartition)"
               r"(\([^)]*?), \d+\)", r"\1\2, N)", s)
    # ...ids collapsed BEFORE the sorts below, so sort order can't
    # itself depend on id digits embedded in otherwise-tied strings
    s = _normalize_expand(s)
    s = _sort_unordered_lists(s, "keys=[")
    s = _sort_unordered_lists(s, "hashpartitioning(")
    # aggregate output/function lists permute with the same id order
    # (key columns lead the output in planner id order); after #x
    # collapsing, sorting costs nothing semantically for a fingerprint
    s = _sort_unordered_lists(s, "output=[")
    s = _sort_unordered_lists(s, "functions=[")
    s = re.sub(r"REPARTITION_BY_NUM\(\d+\)", "REPARTITION_BY_NUM(N)", s)
    # Spark truncates long filter/projection strings at a CHARACTER
    # budget applied BEFORE ids collapse — the cut position shifts
    # with id width (#4 vs #4567), so a truncated DataFilters tail
    # hashed differently across sessions (theilsen, r10w2).  Blank the
    # unstable partial content of any cut bracket segment.
    s = re.sub(r"\[[^\[\]]*\.\.\.", "[TRUNC...", s)
    s = re.sub(r"plan_id=\d+", "plan_id=x", s)
    # per-run scratch TABLE names (bucketed-join parity creates
    # catalog tables with a uuid suffix so concurrent runs don't
    # collide) — collapse the hex suffix or every capture pass
    # 'reshapes' the same plan (r13)
    s = re.sub(r"(spark_catalog\.\w+\.\w+?_)[0-9a-f]{8,32}\b", r"\1x", s)
    s = re.sub(r"\[id=#?x?\d*\]", "[id=x]", s)
    s = re.sub(r"Location: [^\n]*", "Location: x", s)
    s = re.sub(r"file:[^\s,\]]+", "file:x", s)
    s = re.sub(r"Statistics\([^)]*\)", "Statistics(x)", s)
    s = re.sub(r"ExistingRDD\[[^\]]*\]", "ExistingRDD[x]", s)
    s = re.sub(r"Scan ExistingRDD[^\n]*", "Scan ExistingRDD x", s)
    s = re.sub(r"LocalTableScan [^\n]*", "LocalTableScan x", s)
    s = re.sub(r"0x[0-9a-f]+", "0xX", s)
    return s


def plan_fingerprint(df: DataFrame) -> dict:
    """Shape scalars + a canonical-plan hash for one DataFrame."""
    plan = simple_plan(df)
    canon = canonical_plan(plan)
    return {
        "n_exchanges": plan.count("Exchange"),
        "n_file_scans": len(re.findall(r"FileScan", plan)),
        "n_broadcasts": plan.count("Broadcast"),
        "n_codegen_spans": len(re.findall(r"WholeStageCodegen", plan)),
        "n_python_ops": len(
            re.findall(r"ArrowEvalPython|MapInPandas|BatchEvalPython", plan)
        ),
        "has_cartesian": "CartesianProduct" in plan,
        "n_sorts": len(re.findall(r"\bSort \[", plan)),
        "plan_hash": md5(canon.encode()).hexdigest(),
    }


# --- pre-collect capture (r13, the r12 verdict's skip-list shrink) ---
# Parity/cert queries return COLLECTED local frames (LocalTableScan —
# fingerprinting that is false security), but the frame they collect
# HAS a real distributed plan.  Operators call note_precollect(df)
# right before .collect() (``collected`` does it for whole families);
# a ledger pass with capture enabled executes those builds once and
# fingerprints every captured pre-collect plan.
_CAPTURE: list[dict] | None = None


def note_precollect(df: DataFrame) -> DataFrame:
    """Record the distributed plan about to be collected — no-op unless
    a ledger capture pass is active, so certification runs pay nothing.
    Returns ``df``, so it chains as ``df.transform(note_precollect)``."""
    global _CAPTURE
    if _CAPTURE is not None:
        try:
            _CAPTURE.append(plan_fingerprint(df))
        except Exception:  # noqa: BLE001 — capture must never fail a run
            pass
    return df


def collected(spark: SparkSession, df: DataFrame, schema: str) -> DataFrame:
    """Note, collect and re-create a bounded result frame, so a query
    can delete its scratch store before returning."""
    rows = [tuple(r) for r in note_precollect(df).collect()]
    return spark.createDataFrame(rows, schema)


def _merge_captured(caps: list[dict]) -> dict:
    """Fold N captured pre-collect fingerprints into one ledger entry:
    scalars sum (any growth in total exchanges/scans/python-ops across
    the query's collected frames is a real shape regression), the hash
    chains the per-frame canonical hashes in capture order."""
    entry = {
        "n_exchanges": sum(c["n_exchanges"] for c in caps),
        "n_file_scans": sum(c["n_file_scans"] for c in caps),
        "n_broadcasts": sum(c["n_broadcasts"] for c in caps),
        "n_codegen_spans": sum(c["n_codegen_spans"] for c in caps),
        "n_python_ops": sum(c["n_python_ops"] for c in caps),
        "has_cartesian": any(c["has_cartesian"] for c in caps),
        "n_sorts": sum(c["n_sorts"] for c in caps),
        "plan_hash": md5(
            "|".join(c["plan_hash"] for c in caps).encode()
        ).hexdigest(),
        "post_build": True,
        "n_precollect": len(caps),
    }
    return entry


def record_ledger(
    queries: dict, spark, sf_dir: str, path: str,
    include_fits: bool = False,
    capture_precollect: bool = True,
) -> dict:
    """Fingerprint every (name -> callable(spark, sf_dir) -> DataFrame)
    and write the ledger atomically.  Returns the ledger dict.  A query
    that fails to PLAN is recorded with an ``error`` field rather than
    aborting the ledger (a broken plan is exactly what the diff should
    surface).  Queries in PLAN_BUILD_EXECUTES split two ways (r12,
    shrinking the r11 verdict's 52-query blind spot): the PLANNABLE
    subset — whose build trains a model but whose returned DataFrame is
    a real distributed plan — is fingerprinted anyway and marked
    ``post_build: true`` (the ledger pass pays those fits); the rest
    return collected local frames with no reachable plan and stay
    ``skipped``.  ``include_fits`` forces fingerprints for everything."""
    global _CAPTURE
    entries = {}
    for name in sorted(queries):
        post_build = False
        captured = False
        if name in PLAN_BUILD_EXECUTES and not include_fits:
            if name in PLAN_BUILD_EXECUTES_PLANNABLE:
                post_build = True  # fit runs, final plan is real — record it
            elif capture_precollect:
                captured = True  # execute once, fingerprint pre-collect plans
            else:
                entries[name] = {
                    "skipped": "build executes; returns a collected "
                               "local frame (no reachable plan)"
                }
                continue
        try:
            if captured:
                _CAPTURE = []
                try:
                    queries[name](spark, sf_dir)
                    caps = _CAPTURE
                finally:
                    _CAPTURE = None
                if caps:
                    entries[name] = _merge_captured(caps)
                else:
                    entries[name] = {
                        "skipped": "build executes and collects without "
                                   "a note_precollect hook — no "
                                   "distributed plan surfaced"
                    }
                continue
            entries[name] = plan_fingerprint(queries[name](spark, sf_dir))
            if post_build:
                entries[name]["post_build"] = True
        except Exception as exc:  # noqa: BLE001 — recorded, not raised
            entries[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
    ledger = {"version": LEDGER_VERSION, "sf_dir_basename":
              os.path.basename(sf_dir.rstrip("/")), "queries": entries}
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(tmp, "w") as fh:
        json.dump(ledger, fh, sort_keys=True, indent=1)
    os.replace(tmp, path)
    return ledger


def load_ledger(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


# scalar fields where an INCREASE is a shape regression worth a line
_REGRESSION_FIELDS = (
    "n_exchanges", "n_file_scans", "n_python_ops", "n_sorts",
)


def diff_ledgers(old: dict, new: dict) -> list[dict]:
    """Shape changes between two ledgers, worst first.  Each finding:
    {query, kind, field?, old, new}.  Kinds: 'regressed' (a regression
    scalar increased or cartesian appeared), 'improved' (decreased),
    'reshaped' (hash moved with no scalar change — a benign-looking
    rewrite worth a glance), 'added'/'removed'/'broken'."""
    out: list[dict] = []
    if old.get("version") != new.get("version"):
        # v1↔v2 hashes are incomparable (different canonicalization);
        # per-query hash comparison across versions would emit hundreds
        # of spurious 'reshaped' findings — refuse with ONE loud line.
        return [{"query": "*", "kind": "regressed",
                 "field": "version",
                 "old": old.get("version"), "new": new.get("version"),
                 "note": "ledger versions differ — plan hashes are "
                         "incomparable; re-record the old side at the "
                         "current LEDGER_VERSION before diffing"}]
    if old.get("sf_dir_basename") != new.get("sf_dir_basename"):
        out.append({"query": "*", "kind": "regressed",
                    "field": "sf_dir_basename",
                    "old": old.get("sf_dir_basename"),
                    "new": new.get("sf_dir_basename")})
    oq, nq = old.get("queries", {}), new.get("queries", {})
    for name in sorted(set(oq) | set(nq)):
        o, n = oq.get(name), nq.get(name)
        if (o or {}).get("skipped") or (n or {}).get("skipped"):
            continue
        if o is None:
            out.append({"query": name, "kind": "added"})
            continue
        if n is None:
            out.append({"query": name, "kind": "removed"})
            continue
        if "error" in n:
            if "error" not in o:
                out.append({"query": name, "kind": "broken",
                            "new": n["error"]})
            continue
        if "error" in o:
            out.append({"query": name, "kind": "fixed"})
            continue
        scalar_moved = False
        for f in _REGRESSION_FIELDS:
            if n[f] > o[f]:
                out.append({"query": name, "kind": "regressed", "field": f,
                            "old": o[f], "new": n[f]})
                scalar_moved = True
            elif n[f] < o[f]:
                out.append({"query": name, "kind": "improved", "field": f,
                            "old": o[f], "new": n[f]})
                scalar_moved = True
        if not o["has_cartesian"] and n["has_cartesian"]:
            out.append({"query": name, "kind": "regressed",
                        "field": "has_cartesian", "old": False, "new": True})
            scalar_moved = True
        if not scalar_moved and n["plan_hash"] != o["plan_hash"]:
            out.append({"query": name, "kind": "reshaped",
                        "old": o["plan_hash"][:8], "new": n["plan_hash"][:8]})
    order = {"broken": 0, "regressed": 1, "removed": 2, "reshaped": 3,
             "added": 4, "fixed": 5, "improved": 6}
    return sorted(out, key=lambda x: (order[x["kind"]], x["query"]))
