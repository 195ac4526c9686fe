"""Corpus-curation operators: deterministic sampling, splits, end-to-end
filter pass (SURVEY §2 E17-E19).

The sampling primitives every training-data pipeline needs, built on
KEYED HASH sampling rather than RNG: a doc is in the sample iff a hex
prefix of md5(salt || doc_id) falls under a rate threshold.  Fully
deterministic (re-runs and backfills pick identical rows), engine-exact
(md5 hex + lexicographic compare are identical in Spark and DuckDB), and
map-only at any scale — no global count, no sort, no RNG state.

Threshold strings are precomputed in Python: rate r → the 8-hex-digit
string for floor(r · 16⁸); P(prefix < thr) = r to within 2⁻³².
"""

from __future__ import annotations

from fiveg_spark.operators.text import (
    QUALITY_SCORE_RAW,
    _marker_count,
    _tok,
    quality_m_cte,
)
from fiveg_spark.plans.registry import (
    NUDGE,
    arr_len,
    cnt,
    dbl,
    materialized_backed,
    sql_backed,
)

# Per-source sampling rates: the "data mixing" knob (down-weight
# over-represented sources).  Even sources keep 75%, odd keep 30%.
_RATES = {f"src{i}": (0.75 if i % 2 == 0 else 0.30) for i in range(10)}


def _thr(rate: float) -> str:
    return format(int(rate * 16**8), "08x")


def _doc_hash(salt: str) -> str:
    return f"substring(md5(concat('{salt}#', CAST(doc_id AS STRING))), 1, 8)"


def _quality_dup_calibration_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E69 — calibration of the heuristic quality score against ACTUAL
    # duplicate membership: the corpus supplies its own label (a doc is
    # "duplicated" when its content hash appears more than once — E1's
    # ground truth), so the reliability-curve question every heuristic
    # filter must answer — "does a low score actually predict the junk
    # class?" — is computable exactly, label-free, in one scan.  Docs
    # bucket by quality score against BROADCAST percentile boundaries
    # (a global ntile would push the whole corpus through one window
    # partition — the single-partition-sort smell; boundary-compare is
    # map-only and scale-free, at the cost of tie-heavy buckets being
    # unequal-sized, which the n_docs column makes visible); each
    # bucket reports its duplicate rate and lift over the base rate.
    #
    # Scale: one scan computes hash + score into a frame MATERIALIZED
    # once (bounds + labeling both read it — inlined, the advisor sweep
    # measured 4 corpus rescans); the dup flag is a count window keyed
    # on the content hash (high cardinality); boundaries are one tiny
    # agg broadcast back.
    from fiveg_spark.operators.text import _marker_count, _tok
    from fiveg_spark.plans.registry import arr_len, pct

    toks = _tok(d)
    n_toks = arr_len(toks, d)
    stop = _marker_count(d, ("the", "a", "of", "and"))
    scored_sql = f"""
      WITH m AS (
        SELECT
          doc_id,
          md5(lower(text)) AS ch,
          CAST({n_toks} AS BIGINT) AS n_tokens,
          CAST({stop} AS BIGINT) AS n_stopwords
        FROM documents
      )
      SELECT
        doc_id,
        ch,
        round(CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.5 END
              * (1.0 - n_stopwords / CAST(n_tokens AS DOUBLE)) + 1e-9, 6) + 0.0
          AS q
      FROM m
      WHERE n_tokens > 0
    """
    tail = f"""
    WITH bounds AS (
      SELECT {", ".join(
          f"round({pct('q', i / 10.0, d)} + 1e-9, 6) + 0.0 AS b{i}"
          for i in range(1, 10)
      )}
      FROM _mz_qdc_scored
    ),
    labeled AS (
      SELECT
        s.doc_id,
        s.q,
        CASE WHEN count(*) OVER (PARTITION BY s.ch) > 1 THEN 1 ELSE 0 END
          AS is_dup,
        1 {" ".join(f"+ (CASE WHEN s.q > b.b{i} THEN 1 ELSE 0 END)"
                    for i in range(1, 10))} AS decile
      FROM _mz_qdc_scored s CROSS JOIN bounds b
    ),
    base AS (
      SELECT avg(CAST(is_dup AS DOUBLE)) AS base_rate FROM labeled
    )
    SELECT
      {cnt("l.decile", "quality_decile")},
      {cnt("count(*)", "n_docs")},
      {dbl("avg(l.q)", "avg_quality")},
      {dbl("avg(CAST(l.is_dup AS DOUBLE))", "dup_rate")},
      {dbl(
          "CASE WHEN max(b.base_rate) > 0 "
          "THEN avg(CAST(l.is_dup AS DOUBLE)) / max(b.base_rate) "
          "ELSE 0.0 END",
          "lift_vs_base",
      )}
    FROM labeled l CROSS JOIN base b
    GROUP BY l.decile
    ORDER BY quality_decile
    """
    return [("_mz_qdc_scored", scored_sql)], tail


DUP_AUDIT_RATE = 0.3


def _dup_audit_sql(d: str) -> str:
    # E67 — duplicate-rate AUDIT BY SAMPLING: estimate the corpus
    # content-duplicate rate from a fraction of the data — the 100 TB
    # question ("how duplicated is this crawl?") answered without the
    # full-corpus distinct.  The operator certifies the DESIGN insight:
    # sampling must key on the CONTENT HASH (all copies of a document
    # land in or out of the sample TOGETHER — within-sample dup rate is
    # then unbiased for the corpus rate), while the naive row/doc_id
    # sample splits duplicate groups and biases the estimate LOW (a
    # pair is only seen if both copies survive, prob p² vs p).  Both
    # estimators emit side by side with the exact witness, so the bias
    # is visible in the certified row itself.
    #
    # All values are md5-deterministic integer ratios — hash-certified
    # exactly, no tolerance machinery; the in-row boolean states the
    # group estimator landed within 0.15 + 2/sqrt(n_sample) of truth.
    #
    # Scale: ONE scan; every aggregate is a conditional count over the
    # same hashed frame.  At 100 TB only the group-sampled stratum
    # would be MATERIALIZED (frac pushdown on a persisted hash column);
    # the exact witness is contract-scale-only.
    thr = _thr(DUP_AUDIT_RATE)
    g_in = (
        f"CASE WHEN substring(md5(concat('dupg#', ch)), 1, 8) < '{thr}' "
        "THEN 1 ELSE 0 END"
    )
    r_in = f"CASE WHEN {_doc_hash('dupr')} < '{thr}' THEN 1 ELSE 0 END"
    return f"""
    WITH flagged AS (
      SELECT
        doc_id,
        md5(lower(text)) AS ch
      FROM documents
    ),
    marked AS (
      SELECT doc_id, ch, {g_in} AS g_in, {r_in} AS r_in FROM flagged
    ),
    agg AS (
      SELECT
        count(*) AS n_docs,
        count(DISTINCT ch) AS n_distinct,
        sum(g_in) AS n_g,
        count(DISTINCT CASE WHEN g_in = 1 THEN ch END) AS n_g_distinct,
        sum(r_in) AS n_r,
        count(DISTINCT CASE WHEN r_in = 1 THEN ch END) AS n_r_distinct
      FROM marked
    )
    SELECT
      {cnt("n_docs", "n_docs")},
      {dbl("1.0 - CAST(n_distinct AS DOUBLE) / n_docs", "dup_rate_exact")},
      {cnt("n_g", "n_group_sample")},
      {dbl(
          "CASE WHEN n_g > 0 THEN 1.0 - CAST(n_g_distinct AS DOUBLE) / n_g "
          "ELSE 0.0 END",
          "dup_rate_group_est",
      )},
      {cnt("n_r", "n_row_sample")},
      {dbl(
          "CASE WHEN n_r > 0 THEN 1.0 - CAST(n_r_distinct AS DOUBLE) / n_r "
          "ELSE 0.0 END",
          "dup_rate_row_est",
      )},
      (abs(CASE WHEN n_g > 0 THEN 1.0 - CAST(n_g_distinct AS DOUBLE) / n_g
                ELSE 0.0 END
           - (1.0 - CAST(n_distinct AS DOUBLE) / n_docs))
         <= 0.15 + 2.0 / sqrt(CAST(greatest(n_g, 1) AS DOUBLE)))
        AS group_est_ok
    FROM agg
    """


def _stratified_sample_sql(d: str) -> str:
    # E17: per-source keyed-hash sampling at configured rates.
    values = ",\n      ".join(
        f"('{s}', '{_thr(r)}')" for s, r in sorted(_RATES.items())
    )
    return f"""
    WITH rates(source, thr) AS (
      VALUES {values}
    ),
    tagged AS (
      SELECT doc.source,
             CASE WHEN {_doc_hash("mix")} < r.thr THEN 1 ELSE 0 END AS sampled
      FROM documents doc JOIN rates r ON doc.source = r.source
    )
    SELECT
      source,
      {cnt("count(*)", "n_total")},
      {cnt("sum(sampled)", "n_sampled")},
      {dbl("sum(sampled) / CAST(count(*) AS DOUBLE)", "realized_rate")}
    FROM tagged
    GROUP BY source
    """


def _hash_split_sql(d: str) -> str:
    # E18: deterministic 90/5/5 train/val/test assignment by hash bucket.
    # Boundaries are hex-string constants, so membership is stable under
    # corpus growth (a doc's split never changes when other docs arrive).
    return f"""
    WITH assigned AS (
      SELECT
        source,
        CASE WHEN {_doc_hash("split")} < '{_thr(0.90)}' THEN 'train'
             WHEN {_doc_hash("split")} < '{_thr(0.95)}' THEN 'val'
             ELSE 'test' END AS split,
        length(text) AS n_chars
      FROM documents
    )
    SELECT
      source,
      split,
      {cnt("count(*)", "n_docs")},
      {cnt("sum(n_chars)", "total_chars")}
    FROM assigned
    GROUP BY source, split
    """


def _curation_sql(d: str) -> str:
    # E19: the end-to-end curation pass — exact-dedup keeper + length band
    # + quality threshold, reported as a per-source funnel.  One shuffle
    # for the dup-group agg (keyed by content hash), one for the final
    # rollup; every predicate is arithmetic on integer token counts so
    # the 0.5 quality boundary cannot drift between engines.
    toks = _tok(d)
    stop = _marker_count(d, ("the", "a", "of", "and"))
    return f"""
    WITH hashed AS (
      SELECT doc_id, source, md5(lower(text)) AS chash,
             CAST({arr_len(toks, d)} AS BIGINT) AS n_tokens,
             CAST({stop} AS BIGINT) AS n_stopwords
      FROM documents
    ),
    keepers AS (
      SELECT chash, min(doc_id) AS keeper FROM hashed GROUP BY chash
    ),
    flagged AS (
      SELECT
        h.source,
        h.n_tokens,
        CASE WHEN h.doc_id <> k.keeper THEN 1 ELSE 0 END AS is_dup,
        CASE WHEN h.n_tokens < 10 OR h.n_tokens > 2000 THEN 1 ELSE 0 END AS bad_len,
        CASE WHEN (CASE WHEN h.n_tokens >= 20 AND h.n_tokens <= 1000 THEN 1.0 ELSE 0.5 END)
                  * (1.0 - h.n_stopwords / CAST(h.n_tokens AS DOUBLE)) < 0.5
             THEN 1 ELSE 0 END AS low_quality
      FROM hashed h JOIN keepers k ON h.chash = k.chash
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {cnt("sum(is_dup)", "n_dropped_dup")},
      {cnt("sum((1 - is_dup) * bad_len)", "n_dropped_len")},
      {cnt("sum((1 - is_dup) * (1 - bad_len) * low_quality)", "n_dropped_quality")},
      {cnt("sum((1 - is_dup) * (1 - bad_len) * (1 - low_quality))", "n_kept")},
      {cnt("sum((1 - is_dup) * (1 - bad_len) * (1 - low_quality) * n_tokens)", "kept_tokens")}
    FROM flagged
    GROUP BY source
    """


def _topk_sample_sql(d: str) -> str:
    # Fixed-k per-group deterministic sample: rank docs inside each
    # source by keyed hash and keep the first K — the distributed
    # replacement for per-group reservoir sampling (same guarantee:
    # exactly min(K, n) uniform-without-replacement rows, but
    # deterministic and re-runnable).  One window shuffle on source;
    # at 100 TB a two-phase per-partition top-K + merge (TakeOrdered
    # shape) bounds memory — K is tiny, so state is K rows/partition.
    k = 5
    return f"""
    WITH ranked AS (
      SELECT
        source,
        doc_id,
        row_number() OVER (
          PARTITION BY source ORDER BY {_doc_hash("topk")}, doc_id
        ) AS rk
      FROM documents
    ),
    kept AS (
      SELECT source, doc_id FROM ranked WHERE rk <= {k}
    )
    SELECT
      source,
      {cnt("count(*)", "n_sampled")},
      {cnt("sum(doc_id)", "sample_id_sum")},
      {cnt("min(doc_id)", "sample_id_min")},
      {cnt("max(doc_id)", "sample_id_max")}
    FROM kept
    GROUP BY source
    ORDER BY source
    """


def _weighted_sample_sql(d: str) -> str:
    # E36 — deterministic WEIGHTED sample (A-ES, Efraimidis-Spirakis):
    # each doc gets key = u^(1/w) with u uniform from its keyed hash and
    # w = n_chars; the global top-k by key is a weighted-without-
    # replacement sample.  Ordering by ln(u)/w (monotone in u^(1/w))
    # avoids pow().  u derives from the first 8 md5 hex digits via
    # portable digit arithmetic — identical doubles in both engines, so
    # the selected SET is engine-exact, re-runnable, and map-only until
    # the final top-k (TakeOrdered, no global sort at scale).
    u = " + ".join(
        f"(instr('0123456789abcdef', substring(h, {i}, 1)) - 1) * {16.0 ** -i!r}"
        for i in range(1, 9)
    )
    return f"""
    WITH hashed AS (
      SELECT doc_id, source, n_chars,
             substring(md5(concat('wsamp#', CAST(doc_id AS STRING))), 1, 8) AS h
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, source, n_chars,
             ln(({u}) + 1e-10) / greatest(CAST(n_chars AS DOUBLE), 1.0) AS k
      FROM hashed
    )
    SELECT doc_id, source, n_chars, {dbl("k * 1000.0", "sample_key_x1000")}
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT 20
    """


N_SHARDS = 16


def _training_order_sql(d: str) -> str:
    # E56 — deterministic shuffle + shard assignment: the dataset-writer
    # step between curation and training.  Training wants documents in a
    # pseudo-random order decorrelated from ingestion order, and wants
    # that order REPRODUCIBLE across re-runs — so the permutation key is
    # a keyed hash (md5, engine-exact), not an RNG.  The shard is the
    # first hex nibble of the key (uniform over N_SHARDS=16); the
    # within-shard position is a rank over the key.
    #
    # Scale: shard assignment is map-only; the within-shard rank is a
    # PER-SHARD sort — exactly the sortWithinPartitions a real sharded
    # dataset writer pays (each shard is one output file, written in
    # key order), never a global sort.  At 100 TB: repartition(shard)
    # then sortWithinPartitions(key) — the window below expresses the
    # same thing declaratively, partitioned on the shard key.  The
    # trailing global ORDER BY is oracle-determinism only; a 100 TB
    # caller (and A16's write_training_shards) consumes the per-shard
    # frame unsorted across shards.
    key = _doc_hash("order-v1")
    shard = (
        f"CAST(position(substring({key}, 1, 1) IN '0123456789abcdef') - 1 AS BIGINT)"
    )
    return f"""
    WITH keyed AS (
      SELECT
        doc_id,
        source,
        {key} AS shuffle_key,
        {shard} AS shard
      FROM documents
    )
    SELECT
      doc_id,
      source,
      shard,
      {cnt("row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id)",
           "pos_in_shard")}
    FROM keyed
    ORDER BY shard, pos_in_shard
    """


def _ids_hash(expr: str, d: str) -> str:
    """md5 over the comma-joined ascending id list — the strongest
    per-group certification (the oracle must produce the exact same id
    SET).  Engine-specific construction, identical result; the empty
    group is pinned to md5('') in both (DuckDB's string_agg of zero
    rows is NULL, Spark's collect_list is [])."""
    if d == "spark":
        return (
            f"md5(concat_ws(',', transform(sort_array(collect_list({expr})), "
            "x -> cast(x AS string))))"
        )
    return (
        f"md5(coalesce(string_agg(CAST({expr} AS VARCHAR), ',' "
        f"ORDER BY {expr}), ''))"
    )


def _snapshot_diff_sql(d: str) -> str:
    # E60 — dataset snapshot diff: the versioning audit between two
    # corpus snapshots (what a Delta/Iceberg table diff reports, built
    # from plain parquet + content hashes).  Synthetic SF-invariant
    # snapshot rule: docs with doc_id % 5 = 0 were ADDED after v0 (not
    # in old), doc_id % 11 = 0 were REMOVED in v1 (not in new), and
    # doc_id % 7 = 0 had their content EDITED between versions (old
    # content hash differs).  Per source: membership counts, the four
    # diff classes, churn rate, and an md5 over the exact changed-doc
    # id list (the oracle must classify identical documents).
    #
    # Scale shape: both snapshots derive from one table, so the diff
    # folds into ONE map-only scan + one per-source rollup — no
    # self-join (the incremental_dedup discipline: the stored-snapshot
    # side of the real full-outer join collapses into the frame).  With
    # two physical snapshot directories this becomes a full-outer join
    # on doc_id — high-cardinality unique key, no skew — and the class
    # logic below is unchanged.
    return f"""
    WITH flagged AS (
      SELECT
        doc_id,
        source,
        CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS in_old,
        CASE WHEN doc_id % 11 = 0 THEN 0 ELSE 1 END AS in_new,
        CASE WHEN doc_id % 7 = 0 THEN md5(concat(lower(text), '#v0'))
             ELSE md5(lower(text)) END AS old_h,
        md5(lower(text)) AS new_h
      FROM documents
    ),
    classed AS (
      SELECT
        doc_id,
        source,
        in_old,
        in_new,
        CASE
          WHEN in_old = 0 AND in_new = 1 THEN 'added'
          WHEN in_old = 1 AND in_new = 0 THEN 'removed'
          WHEN in_old = 0 AND in_new = 0 THEN 'absent'
          WHEN old_h <> new_h THEN 'changed'
          ELSE 'unchanged'
        END AS status
      FROM flagged
    )
    SELECT
      source,
      {cnt("sum(in_old)", "n_old")},
      {cnt("sum(in_new)", "n_new")},
      {cnt("sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)", "n_added")},
      {cnt("sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)", "n_removed")},
      {cnt("sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)", "n_changed")},
      {cnt("sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)", "n_unchanged")},
      {dbl(
        "(sum(CASE WHEN status IN ('added', 'removed', 'changed') THEN 1.0 "
        "ELSE 0.0 END)) / greatest(sum(in_old), 1)",
        "churn_rate",
      )},
      {_ids_hash("CASE WHEN status = 'changed' THEN doc_id END", d)} AS changed_ids_hash
    FROM classed
    GROUP BY source
    ORDER BY source
    """


def _quality_prune_sql(d: str) -> str:
    # E61 — adaptive quality pruning: keep each source's TOP quality
    # quartile (per-source p75 cutoff), the data-driven alternative to
    # curation_funnel's fixed thresholds — sources are pruned against
    # their OWN quality distribution, so a uniformly-mediocre source
    # still contributes its best quarter instead of being wiped out (or
    # waved through) by a global bar.  Quality = the E9 score, rounded
    # to 4 decimals BEFORE both the percentile and the comparison so
    # the keep set is decided on identical doubles in both engines.
    # Ties AT the cutoff are kept (>=) — deterministic, and with heavy
    # ties the kept fraction exceeds 25% by exactly the tied mass.
    #
    # Scale: one corpus scan; the per-source cutoff is a tiny aggregate
    # broadcast back (window-free formulation: a grouped subquery join,
    # which AQE plans as a broadcast at any corpus size since there are
    # |sources| rows).
    from fiveg_spark.operators.graph import _doc_quality_sql
    from fiveg_spark.plans.registry import pct

    return f"""
    WITH qual AS ({_doc_quality_sql(d)}),
    cutoffs AS (
      SELECT source, round({pct("q", 0.75, d)} + 1e-9, 4) + 0.0 AS cutoff
      FROM qual GROUP BY source
    )
    SELECT
      qual.source,
      {cnt("count(*)", "n_docs")},
      {dbl("max(c.cutoff)", "quality_cutoff")},
      {cnt("sum(CASE WHEN qual.q >= c.cutoff THEN 1 ELSE 0 END)", "n_kept")},
      {dbl("sum(CASE WHEN qual.q >= c.cutoff THEN 1.0 ELSE 0.0 END) / count(*)",
           "kept_rate")},
      {_ids_hash("CASE WHEN qual.q >= c.cutoff THEN qual.doc_id END", d)}
        AS kept_ids_hash
    FROM qual JOIN cutoffs c ON c.source = qual.source
    GROUP BY qual.source
    ORDER BY qual.source
    """


def _quality_trend_sql(d: str) -> str:
    # E82 — per-source quality TREND over snapshot history (E60's time
    # axis: snapshot_diff compares two versions pairwise; curation also
    # needs drift-over-versions — "is src7's quality decaying as the
    # crawl grows?").  Synthetic SF-invariant history in the E60 style:
    # four cumulative snapshots, doc ∈ v_k iff doc_id % 4 < k (v1 ⊂ v2
    # ⊂ v3 ⊂ v4 = full corpus — the monotone-growth shape of a real
    # crawl).  Quality is E9's score via the SHARED metric frame
    # (text.quality_m_cte / QUALITY_SCORE_RAW — a metric change moves
    # E9 and this row together).  Per source: per-version mean quality
    # (per-doc scores rounded first, the PSI discipline), the 4-point
    # OLS slope (closed form: Σ(v-2.5)·q_v / 5), the v1→v4 delta, and
    # a trend class at ±0.005 slope.
    #
    # Scale: ONE scan — versions are conditional aggregates (CASE sums
    # on doc_id % 4), not an explode; output is |sources| rows.  With
    # real physical snapshots this becomes one scan per snapshot
    # partition feeding the same per-source rollup.
    score = f"round({QUALITY_SCORE_RAW} + {NUDGE}, 4) + 0.0"

    def qv(v: int) -> str:
        return (
            f"(sum(CASE WHEN doc_id % 4 < {v} THEN {score} END)"
            f" / sum(CASE WHEN doc_id % 4 < {v} THEN CAST(1.0 AS DOUBLE) END))"
        )

    q1, q2, q3, q4 = (f"round({qv(v)} + {NUDGE}, 4)" for v in (1, 2, 3, 4))
    slope = f"((-1.5) * {q1} + (-0.5) * {q2} + 0.5 * {q3} + 1.5 * {q4}) / 5.0"
    return f"""
    WITH {quality_m_cte(d)}
    SELECT
      source,
      {cnt("count(*)", "n_docs_latest")},
      {cnt("sum(CASE WHEN doc_id % 4 < 1 THEN 1 ELSE 0 END)", "n_docs_v1")},
      {dbl(q1, "q_v1")},
      {dbl(q2, "q_v2")},
      {dbl(q3, "q_v3")},
      {dbl(q4, "q_v4")},
      {dbl(slope, "quality_slope")},
      {dbl(f"{q4} - {q1}", "quality_delta")},
      CASE WHEN {slope} > 0.005 THEN 'improving'
           WHEN {slope} < -0.005 THEN 'degrading'
           ELSE 'flat' END AS trend
    FROM m
    GROUP BY source
    """


def _frontier_sql(d: str) -> str:
    # E96 — quality×length PARETO FRONTIER per source: docs not
    # dominated by any longer-AND-better doc — the "long AND high
    # quality" shortlist a context-extension data mix hunts for (long
    # docs are scarce; long good docs are the scarce-squared resource
    # E25's packing wants first).  Skyline via one window: a doc is on
    # the frontier iff its rounded E9 score (shared QUALITY_SCORE_RAW)
    # exceeds the running max score over docs with STRICTLY more
    # tokens (RANGE ... 1 PRECEDING on the tokens-DESC order — exact
    # strict-dominance semantics, ties don't dominate each other).
    #
    # Scale: one scan → per-source window on the per-doc frame.
    score = f"round({QUALITY_SCORE_RAW} + {NUDGE}, 4) + 0.0"
    return f"""
    WITH {quality_m_cte(d)},
    scored AS (
      SELECT source, doc_id, n_tokens, {score} AS q FROM m
    ),
    sky AS (
      SELECT *,
        max(q) OVER (
          PARTITION BY source ORDER BY n_tokens DESC
          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS best_longer
      FROM scored
    ),
    flagged AS (
      SELECT source, n_tokens, q,
        CASE WHEN best_longer IS NULL OR q > best_longer
             THEN 1 ELSE 0 END AS on_frontier
      FROM sky
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {cnt("sum(on_frontier)", "n_frontier")},
      {dbl("sum(CAST(on_frontier AS DOUBLE)) / count(*)", "frontier_share")},
      {dbl("max(q)", "max_quality")},
      {cnt("max(n_tokens)", "max_tokens")},
      {cnt("max(CASE WHEN on_frontier = 1 THEN n_tokens END)",
           "longest_frontier_doc_tokens")}
    FROM flagged
    GROUP BY source
    ORDER BY source
    """


QUERIES = [
    sql_backed("stratified_sample", _stratified_sample_sql, ("documents",)),
    sql_backed("quality_trend_by_source", _quality_trend_sql, ("documents",)),
    sql_backed("quality_length_frontier", _frontier_sql, ("documents",)),
    sql_backed("weighted_sample", _weighted_sample_sql, ("documents",)),
    sql_backed("per_source_topk_sample", _topk_sample_sql, ("documents",)),
    sql_backed("hash_split", _hash_split_sql, ("documents",)),
    sql_backed("curation_funnel", _curation_sql, ("documents",)),
    sql_backed("training_order", _training_order_sql, ("documents",)),
    sql_backed("snapshot_diff", _snapshot_diff_sql, ("documents",)),
    sql_backed("quality_prune", _quality_prune_sql, ("documents",)),
    sql_backed("dup_rate_sample_audit", _dup_audit_sql, ("documents",)),
    materialized_backed(
        "quality_dup_calibration", _quality_dup_calibration_parts, ("documents",),
    ),
]
