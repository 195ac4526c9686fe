"""LLM training-data curation operators: PII scan, Gopher-style quality
rules, repeated-n-gram detection, benchmark decontamination.

The four standard corpus-hygiene passes a large-scale pretraining
pipeline runs between raw ingestion and tokenization:

- **PII scan** — regex families (email / phone / IPv4) counted per
  source so a redaction pass can be budgeted.  Patterns avoid
  lookaround and backslash classes so Java regex (Spark) and RE2
  (DuckDB) agree; the synthetic corpus contains no PII, so two
  corpus-matching pattern families ride along as live parity evidence,
  and the pytest covers real emails/phones/IPs on literal frames.
- **Gopher quality rules** (Rae et al. 2021 §A1.1, public): word-count
  bounds, mean-word-length band, stopword floor, max single-token
  dominance — evaluated per document, reported as per-source pass
  rates.
- **Repeated n-grams** — the most-duplicated word 3-grams corpus-wide
  (the "duplicated passage" diagnostic from Lee et al. 2022,
  "Deduplicating Training Data Makes Language Models Better").
- **Decontamination** — n-gram overlap of each corpus document against
  a held-out benchmark set (here: every 10th doc stands in for the
  benchmark); documents sharing a high fraction of their 3-grams are
  flagged, the standard test-set leakage screen.

Scale: every pass is explode → hash-aggregate on (doc, ngram) →
reduce; one shuffle each, keys are high-cardinality n-grams (no skew).
Decontamination joins corpus n-grams against the DISTINCT benchmark
n-gram set — benchmark suites are tiny in practice, so that side is a
broadcast; at 100 TB the corpus side stays map-local.
"""

from __future__ import annotations

from fiveg_spark.operators.text import _marker_count, _tok
from fiveg_spark.plans.registry import NUDGE, arr_len, cnt, dbl, distinct_cnt, materialized_backed, pct, split_ws, sql_backed

BOILERPLATE_DF = 5  # 3-gram in >= this many docs = boilerplate

# Group 0 passed explicitly: Spark's regexp_extract_all defaults to
# group 1 (and errors on group-free patterns); DuckDB defaults to 0.
_PATTERNS = {
    "email": "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z][a-zA-Z]+",
    "phone": "[0-9][0-9][0-9][-.][0-9][0-9][0-9][-.][0-9][0-9][0-9][0-9]",
    "ipv4": "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+",
    "digit_runs": "[0-9]+",
    "markers": "(key|hash)",
}


def _pat_hits(d: str, pat: str) -> str:
    return arr_len(f"regexp_extract_all(text, '{pat}', 0)", d)


def _pii_scan_sql(d: str) -> str:
    hits = ",\n      ".join(
        cnt(f"sum({_pat_hits(d, pat)})", f"{name}_hits")
        for name, pat in _PATTERNS.items()
    )
    return f"""
    SELECT
      source,
      {cnt("count(*)", "docs_scanned")},
      {hits},
      {cnt(f"sum(CASE WHEN {_pat_hits(d, _PATTERNS['email'])} > 0 THEN 1 ELSE 0 END)", "docs_with_email")}
    FROM documents
    GROUP BY source
    """


def _luhn_valid(c: str, d: str) -> str:
    """Luhn mod-10 checksum over a 16-digit candidate string ``c`` —
    checksum VALIDATION is what separates a real PAN detector from a
    16-digit regex (phone+zip concatenations, order ids, and timestamps
    all match the regex; ~10% of random digit runs pass Luhn).  Pure
    array-HOF arithmetic: position i from the LEFT of a 16-digit run is
    doubled when (17 - i) is even (i.e. every second digit from the
    right), digits > 9 after doubling subtract 9, valid iff the sum is
    divisible by 10.  Identical arithmetic text in both engines modulo
    the list-HOF spelling."""
    digit = f"(ascii(substring({c}, i, 1)) - 48)"
    term = (
        f"CASE WHEN (17 - i) % 2 = 0 THEN "
        f"CASE WHEN 2 * {digit} > 9 THEN 2 * {digit} - 9 ELSE 2 * {digit} END "
        f"ELSE {digit} END"
    )
    if d == "spark":
        total = f"aggregate(transform(sequence(1, 16), i -> {term}), 0, (a, x) -> a + x)"
    else:
        total = f"list_sum(list_transform(generate_series(1, 16), i -> {term}))"
    return f"({total}) % 10 = 0"


def _pii_luhn_sql(d: str) -> str:
    # E62 — Luhn-validated card-number scan: candidate = any contiguous
    # 16-digit run (the regex the plain pii_scan would use), validated
    # by checksum so the per-source report separates "digits that LOOK
    # like a card" from "digits that ARE a syntactically-valid card".
    # The synthetic corpus contains no digit runs, so (like pii_scan)
    # the all-zero rows here are engine-parity evidence and the pytest
    # proves detection on literal frames with known valid/invalid PANs.
    #
    # Scale: map-only explode of per-doc candidate lists (usually
    # empty) + one per-source rollup; the checksum is a 16-step array
    # fold inside codegen, no Python.
    cands = "regexp_extract_all(text, '[0-9]{16}', 0)"  # group 0 explicit, both engines
    if d == "spark":
        n_valid = f"size(filter({cands}, c -> {_luhn_valid('c', d)}))"
    else:
        n_valid = f"len(list_filter({cands}, c -> {_luhn_valid('c', d)}))"
    n_cand = arr_len(cands, d)
    return f"""
    SELECT
      source,
      {cnt("count(*)", "docs_scanned")},
      {cnt(f"sum({n_cand})", "n_candidates")},
      {cnt(f"sum({n_valid})", "n_luhn_valid")},
      {cnt(f"sum(CASE WHEN {n_valid} > 0 THEN 1 ELSE 0 END)", "docs_with_valid_pan")}
    FROM documents
    GROUP BY source
    ORDER BY source
    """


def _gopher_rules_cte(d: str) -> str:
    # Per-document Gopher-style rule flags (shared by gopher_quality and
    # domain_mixture_weights).  Mean word length and top-token dominance
    # are rounded BEFORE the rule comparison so flags derive from
    # parity-identical values in both engines.
    toks = _tok(d)
    if d == "spark":
        exploded = f"SELECT doc_id, source, explode({toks}) AS term FROM documents"
    else:
        exploded = f"SELECT doc_id, source, unnest({toks}) AS term FROM documents"
    stop_ct = _marker_count(d, ("the", "a"))
    return f"""
    WITH base AS (
      SELECT
        doc_id,
        source,
        {arr_len(toks, d)} AS n_words,
        {stop_ct} AS stop_ct
      FROM documents
    ),
    exploded AS (
      {exploded}
    ),
    term_counts AS (
      SELECT doc_id, term, count(*) AS c
      FROM exploded
      GROUP BY doc_id, term
    ),
    doc_stats AS (
      SELECT
        doc_id,
        round(sum(length(term) * c) / CAST(sum(c) AS DOUBLE) + 1e-9, 4) + 0.0 AS mean_wl,
        round(max(c) / CAST(sum(c) AS DOUBLE) + 1e-9, 4) + 0.0 AS top1_frac
      FROM term_counts
      GROUP BY doc_id
    ),
    rules AS (
      SELECT
        b.source,
        b.n_words,
        CASE WHEN b.n_words BETWEEN 25 AND 100000 THEN 1 ELSE 0 END AS r_wordcount,
        CASE WHEN s.mean_wl BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS r_meanwordlen,
        CASE WHEN b.stop_ct >= 2 THEN 1 ELSE 0 END AS r_stopwords,
        CASE WHEN s.top1_frac <= 0.2 THEN 1 ELSE 0 END AS r_dominance
      FROM base b JOIN doc_stats s ON b.doc_id = s.doc_id
    )"""


def _gopher_quality_sql(d: str) -> str:
    # Gopher rule flags aggregated to per-source pass rates.
    return f"""
    {_gopher_rules_cte(d)}
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {cnt("sum(r_wordcount)", "pass_wordcount")},
      {cnt("sum(r_meanwordlen)", "pass_meanwordlen")},
      {cnt("sum(r_stopwords)", "pass_stopwords")},
      {cnt("sum(r_dominance)", "pass_dominance")},
      {cnt("sum(r_wordcount * r_meanwordlen * r_stopwords * r_dominance)", "pass_all")},
      {dbl("avg(r_wordcount * r_meanwordlen * r_stopwords * r_dominance)", "pass_rate")}
    FROM rules
    GROUP BY source
    """


def _domain_reweight_sql(d: str) -> str:
    # E52 — domain-mixing reweighter: the operator a curation run ENDS
    # on.  DoReMi (Xie et al. 2023) learns per-domain weights from a
    # proxy model; the widely-deployed static variant (Gopher §A2 /
    # LLaMA-style) mixes by size x measured quality with a temperature.
    # Composes gopher_quality (per-doc rule flags -> per-source quality
    # rate) with the mixture_weights temperature rule:
    #
    #   w_src ∝ (tokens_src * (0.1 + 0.9 * quality_src))^0.7
    #
    # The 0.1 floor keeps a zero-quality domain present (DoReMi never
    # zeroes a domain; total exclusion is the curation funnel's job),
    # the 0.7 exponent is the same temperature mixture_weights uses.
    # Quality rate and the scaled weight are rounded before the share
    # division so both engines divide identical doubles; the share
    # itself guards the all-empty-corpus edge (sum of weights = 0).
    #
    # Scale: rides the one exploded scan inside _gopher_rules_cte; the
    # reweight itself is a per-source aggregate (a handful of rows) and
    # two window sums over them.
    return f"""
    {_gopher_rules_cte(d)},
    per_source AS (
      SELECT
        source,
        count(*) AS n_docs,
        CAST(sum(n_words) AS DOUBLE) AS n_tokens,
        round(avg(r_wordcount * r_meanwordlen * r_stopwords * r_dominance)
              + 1e-9, 6) AS q_rate
      FROM rules
      GROUP BY source
    ),
    scaled AS (
      SELECT
        source,
        n_docs,
        n_tokens,
        q_rate,
        round(power(n_tokens * (0.1 + 0.9 * q_rate), 0.7) + 1e-9, 6) AS w_raw
      FROM per_source
    )
    SELECT
      source,
      {cnt("n_docs", "n_docs")},
      {cnt("n_tokens", "n_tokens")},
      {dbl("q_rate", "quality_rate")},
      {dbl("CASE WHEN sum(n_tokens) OVER () <= 0 THEN 1.0 / count(*) OVER () "
           "ELSE n_tokens / sum(n_tokens) OVER () END", "natural_share")},
      {dbl("CASE WHEN sum(w_raw) OVER () <= 0 THEN 1.0 / count(*) OVER () "
           "ELSE w_raw / sum(w_raw) OVER () END", "domain_weight")}
    FROM scaled
    ORDER BY source
    """


def _ngram_cte(d: str, table: str = "documents") -> str:
    # Word 3-grams via index expansion: portable across engines (no
    # posexplode/ORDINALITY dialect gap), and a map-side-only expansion.
    toks = _tok(d)
    if d == "spark":
        idx = f"explode(sequence(1, {arr_len('toks', d)} - 2)) AS i"
        elem = "element_at(toks, CAST(i AS INT))"
    else:
        idx = f"unnest(generate_series(1, {arr_len('toks', d)} - 2)) AS i"
        elem = "list_extract(toks, i)"
    e1 = elem
    e2 = elem.replace("i)", "i + 1)") if d == "duckdb" else "element_at(toks, CAST(i + 1 AS INT))"
    e3 = elem.replace("i)", "i + 2)") if d == "duckdb" else "element_at(toks, CAST(i + 2 AS INT))"
    return f"""tokd AS (
      SELECT doc_id, source, {toks} AS toks FROM {table}
      WHERE {arr_len(toks, d)} >= 3
    ),
    idxd AS (
      SELECT doc_id, source, toks, {idx} FROM tokd
    ),
    ngrams AS (
      SELECT
        doc_id,
        source,
        concat_ws(' ', {e1}, {e2}, {e3}) AS ng
      FROM idxd
    )"""


def _repeated_ngrams_sql(d: str) -> str:
    # Top-20 most duplicated 3-grams corpus-wide (appearing in >1 doc),
    # deterministic tiebreak on the n-gram text.
    return f"""
    WITH {_ngram_cte(d)},
    counts AS (
      SELECT
        ng,
        count(*) AS n_occurrences,
        count(DISTINCT doc_id) AS n_docs
      FROM ngrams
      GROUP BY ng
      HAVING count(DISTINCT doc_id) > 1
    )
    SELECT
      ng AS ngram,
      {cnt("n_occurrences", "n_occurrences")},
      {cnt("n_docs", "n_docs")}
    FROM counts
    ORDER BY n_occurrences DESC, ngram
    LIMIT 20
    """


def _decontamination_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # Benchmark = every 10th document (stand-in for a held-out eval
    # suite).  A corpus doc is contaminated when >= 80% of its distinct
    # 3-grams appear anywhere in the benchmark set.  The benchmark
    # n-gram set is DISTINCT-reduced before the join (broadcast side at
    # scale).  Output: the 50 most-contaminated docs, deterministic.
    #
    # materialized_backed (r6 plan audit): the n-gram frame feeds the
    # benchmark set AND the corpus side — inlined, Spark scanned the
    # corpus 3×; the distinct (doc_id, ng) frame materializes once.
    ngrams_sql = f"""
      WITH {_ngram_cte(d)}
      SELECT DISTINCT doc_id, ng FROM ngrams
    """
    tail = f"""
    WITH bench_ng AS (
      SELECT DISTINCT ng FROM _mz_decon_ngrams WHERE doc_id % 10 = 0
    ),
    corpus AS (
      SELECT doc_id, ng FROM _mz_decon_ngrams WHERE doc_id % 10 <> 0
    ),
    totals AS (
      SELECT doc_id, count(*) AS n_ngrams FROM corpus GROUP BY doc_id
    ),
    shared AS (
      SELECT c.doc_id, count(*) AS n_shared
      FROM corpus c JOIN bench_ng b ON c.ng = b.ng
      GROUP BY c.doc_id
    ),
    scored AS (
      SELECT
        t.doc_id,
        t.n_ngrams,
        coalesce(s.n_shared, 0) AS n_shared,
        round(coalesce(s.n_shared, 0) / CAST(t.n_ngrams AS DOUBLE) + 1e-9, 4) + 0.0 AS frac
      FROM totals t LEFT JOIN shared s ON t.doc_id = s.doc_id
    )
    SELECT
      doc_id,
      {cnt("n_ngrams", "n_distinct_ngrams")},
      {cnt("n_shared", "n_shared_ngrams")},
      CAST(frac AS DOUBLE) AS overlap_frac,
      CAST(CASE WHEN frac >= 0.8 THEN 1 ELSE 0 END AS INT) AS contaminated
    FROM scored
    ORDER BY frac DESC, doc_id
    LIMIT 50
    """
    return [("_mz_decon_ngrams", ngrams_sql)], tail


def _pii_redact_sql(d: str) -> str:
    # The transform half of the PII pass: global-replace each pattern
    # family with a typed placeholder, emit md5 of the redacted text so
    # the oracle proves byte-identical redaction (not just counts).
    # DuckDB's regexp_replace is first-match-only without the 'g' flag;
    # Spark's is always global — hence the dialect branch.
    def rep(expr: str, pat: str, tag: str) -> str:
        if d == "spark":
            return f"regexp_replace({expr}, '{pat}', '<{tag}>')"
        return f"regexp_replace({expr}, '{pat}', '<{tag}>', 'g')"

    redacted = rep(
        rep(rep("text", _PATTERNS["email"], "EMAIL"), _PATTERNS["ipv4"], "IP"),
        _PATTERNS["digit_runs"],
        "NUM",
    )
    # n_redactions = placeholders actually inserted (counted on the
    # redacted text), NOT raw-pattern hits — the ip's digit runs are
    # consumed by the earlier IP pass and must not double-count.
    inserted = arr_len("regexp_extract_all(redacted, '<(EMAIL|IP|NUM)>', 0)", d)
    return f"""
    WITH red AS (
      SELECT
        doc_id,
        source,
        {redacted} AS redacted
      FROM documents
    )
    SELECT
      doc_id,
      source,
      {cnt(inserted, "n_redactions")},
      md5(redacted) AS redacted_md5,
      {cnt("length(redacted)", "redacted_len")}
    FROM red
    ORDER BY n_redactions DESC, doc_id
    LIMIT 100
    """


def _sequence_packing_sql(d: str) -> str:
    # Sequence packing: assign documents to fixed token-budget packs
    # (4096) per source by cumulative-offset binning — the distributed
    # stand-in for greedy sequence packing (deterministic doc_id order,
    # one window shuffle on source; a doc spanning a boundary spills
    # into its starting pack, so fill can exceed 1.0).
    toks = _tok(d)
    return f"""
    WITH counted AS (
      SELECT
        doc_id,
        source,
        {arr_len(toks, d)} AS n_tokens
      FROM documents
    ),
    offsets AS (
      SELECT
        source,
        n_tokens,
        sum(n_tokens) OVER (
          PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) - n_tokens AS start_offset
      FROM counted
    ),
    packed AS (
      SELECT
        source,
        CAST(floor(start_offset / 4096.0) AS BIGINT) AS pack_id,
        n_tokens
      FROM offsets
    )
    SELECT
      source,
      {cnt("pack_id", "pack_id")},
      {cnt("count(*)", "n_docs")},
      {cnt("sum(n_tokens)", "total_tokens")},
      {dbl("sum(n_tokens) / 4096.0", "fill_frac")}
    FROM packed
    GROUP BY source, pack_id
    """


def _mixture_weights_sql(d: str) -> str:
    # Temperature-scaled source mixing weights: w_i ∝ tokens_i^alpha
    # (alpha = 0.7) — the standard up/down-sampling knob for corpus
    # mixing.  Two tiny aggregates; the token count is the only scan.
    toks = _tok(d)
    return f"""
    WITH per_source AS (
      SELECT
        source,
        CAST(sum({arr_len(toks, d)}) AS DOUBLE) AS n_tokens,
        count(*) AS n_docs
      FROM documents
      GROUP BY source
    ),
    scaled AS (
      SELECT
        source,
        n_tokens,
        n_docs,
        round(power(n_tokens, 0.7) + 1e-9, 6) AS w_raw
      FROM per_source
    )
    SELECT
      source,
      {cnt("n_docs", "n_docs")},
      {cnt("n_tokens", "n_tokens")},
      {dbl("n_tokens / sum(n_tokens) OVER ()", "natural_share")},
      {dbl("w_raw / sum(w_raw) OVER ()", "mixture_weight")}
    FROM scaled
    """


def _boilerplate_ngrams_sql(d: str) -> str:
    """Cross-document repeated n-grams (the C4/RefinedWeb boilerplate
    rule): a 3-gram appearing in >= BOILERPLATE_DF distinct documents is
    boilerplate; each document reports how much of it is made of such
    grams.  One corpus scan: the distinct (doc_id, shingle) frame feeds
    BOTH sides through window counts (count over doc_id = grams per doc;
    count over shingle = document frequency, exact because shingles are
    DISTINCT per doc) — no re-scan, no join back (same windows run in
    DuckDB).  Reuses the dedup shingle pipeline incl. its pre-hash
    rebalance.  Reference scope: extends repeated_ngrams (within-doc,
    KafkaKpiPipeline has no text tier) to the cross-doc rule."""
    from fiveg_spark.operators.dedup import _shingles_cte

    return f"""
    {_shingles_cte(d)},
    sized AS (
      SELECT
        doc_id,
        count(*) OVER (PARTITION BY doc_id) AS n_grams,
        count(*) OVER (PARTITION BY shingle) AS n_docs
      FROM shingles
    )
    SELECT
      doc_id,
      {cnt("max(n_grams)", "n_grams")},
      {cnt(f"sum(CASE WHEN n_docs >= {BOILERPLATE_DF} THEN 1 ELSE 0 END)", "n_boilerplate")},
      {dbl(f"sum(CASE WHEN n_docs >= {BOILERPLATE_DF} THEN 1 ELSE 0 END) / CAST(max(n_grams) AS DOUBLE)", "boilerplate_frac")},
      {cnt(f"coalesce(max(CASE WHEN n_docs >= {BOILERPLATE_DF} THEN n_docs END), 0)", "max_df")}
    FROM sized
    GROUP BY doc_id
    """


def _contamination_matrix_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E47 — cross-source n-gram contamination matrix: for every source
    # pair, the distinct-3-gram overlap (shared count, directional
    # containment, Jaccard).  This is the corpus-level companion to
    # per-doc decontamination (E24): a high containment of source A in
    # source B means A is largely recycled from B (mirror sites, scraped
    # re-posts, benchmark leakage between dumps).
    #
    # Scale: the corpus scan reduces FIRST to the DISTINCT (source,
    # n-gram) frame — vocab-sized, not corpus-sized; the self-join keys
    # on the n-gram (high-cardinality) and each gram fans out at most
    # |sources|² (a handful), so there is no skew amplification.  The
    # frame is referenced three times (join left/right + totals), hence
    # materialized_backed — inlined CTEs would re-run the explode per
    # reference.  The pair frame comes from crossing the tiny per-source
    # totals so zero-overlap pairs still appear.
    src_ng = f"""
      WITH {_ngram_cte(d)}
      SELECT DISTINCT source, ng FROM ngrams
    """
    # totals come from the FULL source universe (distinct over the base
    # table), not from the n-gram frame: a source whose docs are all
    # under 3 tokens has zero grams but still belongs in every pair row
    # (with n=0 and guarded zero ratios) — "complete matrix" means
    # complete over sources, not over sources-that-happen-to-have-grams.
    tail = f"""
    WITH totals AS (
      SELECT d.source, count(n.ng) AS n
      FROM (SELECT DISTINCT source FROM documents) d
      LEFT JOIN _mz_contam_ng n ON n.source = d.source
      GROUP BY d.source
    ),
    pairs AS (
      SELECT
        ta.source AS source_a,
        tb.source AS source_b,
        ta.n AS na,
        tb.n AS nb
      FROM totals ta CROSS JOIN totals tb
      WHERE ta.source < tb.source
    ),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS c
      FROM _mz_contam_ng a
      JOIN _mz_contam_ng b ON a.ng = b.ng AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT
      p.source_a,
      p.source_b,
      {cnt("p.na", "ngrams_a")},
      {cnt("p.nb", "ngrams_b")},
      {cnt("coalesce(s.c, 0)", "shared_ngrams")},
      {dbl("CASE WHEN p.na = 0 THEN 0.0 ELSE coalesce(s.c, 0) / CAST(p.na AS DOUBLE) END", "contain_a_in_b")},
      {dbl("CASE WHEN p.nb = 0 THEN 0.0 ELSE coalesce(s.c, 0) / CAST(p.nb AS DOUBLE) END", "contain_b_in_a")},
      {dbl("CASE WHEN p.na + p.nb - coalesce(s.c, 0) = 0 THEN 0.0 ELSE coalesce(s.c, 0) / CAST(p.na + p.nb - coalesce(s.c, 0) AS DOUBLE) END", "jaccard")}
    FROM pairs p
    LEFT JOIN shared s ON s.source_a = p.source_a AND s.source_b = p.source_b
    ORDER BY p.source_a, p.source_b
    """
    return [("_mz_contam_ng", src_ng)], tail


DSIR_BUCKETS = 256  # 2 hex nibbles of md5(feature)
DSIR_TARGET = "src0"  # stand-in for the curated target corpus
_HEX = "'0123456789abcdef'"


def _dsir_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E58 — DSIR-style importance reweighting (Xie et al. 2023, "Data
    # Selection for Language Models via Importance Resampling"): score
    # every raw document by how target-like it is under two bag-of-
    # hashed-ngrams unigram models,
    #
    #   log w(doc) = Σ_b c_b(doc) · (ln p_target[b] − ln p_raw[b]),
    #
    # with features = unigrams ∪ bigrams hashed into DSIR_BUCKETS
    # buckets and Laplace 0.5 smoothing.  The target distribution is
    # the DSIR_TARGET source (in a real run: the curated high-quality
    # corpus); raw is the whole corpus.  Reported per source: the mean/
    # max PER-FEATURE log weight (length-normalized so long docs don't
    # dominate) and how many docs score target-like (rounded weight
    # > 0 — rounding BEFORE the comparison so both engines test an
    # identical double, the repo's boundary discipline).
    #
    # Hash bucket = first two hex nibbles of md5(feature), via the
    # engine-portable position-in-hex-alphabet trick (same as E56's
    # shard key) — md5 hex is bit-identical across Spark and DuckDB, so
    # the models match exactly.
    #
    # Scale: ONE corpus scan builds the (doc, source, bucket, count)
    # frame (map-only explode → one hash-agg); it is referenced three
    # times (target model, raw model, per-doc scoring join), hence
    # materialized_backed.  Both models are ≤ DSIR_BUCKETS rows —
    # broadcast joins at any corpus size; scoring is one agg keyed by
    # unique doc_id (no skew).
    toks = _tok(d)
    if d == "spark":
        feats = (
            "explode(concat(t, filter(transform(sequence(1, size(t)), "
            "i -> CASE WHEN i < size(t) THEN concat(element_at(t, i), ' ', "
            "element_at(t, i + 1)) END), x -> x IS NOT NULL)))"
        )
    else:
        feats = (
            "unnest(list_concat(t, list_filter(list_transform("
            "generate_series(1, len(t)), i -> CASE WHEN i < len(t) THEN "
            "concat(t[i], ' ', t[i + 1]) END), x -> x IS NOT NULL)))"
        )
    bucket = (
        f"(position(substring(md5(feat), 1, 1) IN {_HEX}) - 1) * 16"
        f" + position(substring(md5(feat), 2, 1) IN {_HEX}) - 1"
    )
    # REPARTITION before the explode+md5 amplification (~2 features per
    # input token, each md5-hashed): scan parallelism follows input
    # BYTES, so without the hint a few-row-group corpus hashes on a
    # couple of cores (the _shingles_body rule; explicit count because
    # AQE coalesces a count-less hint back down by bytes)
    if d == "spark":
        from fiveg_spark.session import default_shuffle_partitions

        hint = f"/*+ REPARTITION({default_shuffle_partitions()}, doc_id) */ "
    else:
        hint = ""
    fb = f"""
      SELECT doc_id, source, {bucket} AS bucket, count(*) AS c
      FROM (
        SELECT doc_id, source, {feats} AS feat
        FROM (SELECT {hint}doc_id, source, {toks} AS t FROM documents) base
      ) featd
      GROUP BY doc_id, source, {bucket}
    """
    half_b = f"{DSIR_BUCKETS / 2.0}"  # 0.5 smoothing x DSIR_BUCKETS
    # Both models fold into ONE pass over the materialized feature frame
    # (conditional sum for the target corpus) instead of the r6 shape's
    # two grouped scans + LEFT JOIN — at sf0.1 this cut the tail from
    # ~1.5 s to ~1.0 s, and at 100 TB it halves the model-building reads
    # of the (doc, bucket, count) frame.  llr stays <= DSIR_BUCKETS rows
    # -> broadcast into the scoring join at any corpus size.
    tail = f"""
    WITH models AS (
      SELECT
        bucket,
        sum(c) AS cr,
        coalesce(sum(CASE WHEN source = '{DSIR_TARGET}' THEN c END), 0) AS ct
      FROM _mz_dsir_fb GROUP BY bucket
    ),
    tot AS (
      SELECT coalesce(sum(ct), 0) AS nt, coalesce(sum(cr), 0) AS nr
      FROM models
    ),
    llr AS (
      SELECT
        bucket,
        ln((ct + 0.5) / (tot.nt + {half_b}))
          - ln((cr + 0.5) / (tot.nr + {half_b})) AS llr
      FROM models CROSS JOIN tot
    ),
    docw AS (
      SELECT
        f.doc_id,
        f.source,
        sum(f.c) AS n_feats,
        round(sum(f.c * l.llr) / sum(f.c) + 1e-9, 4) + 0.0 AS lw_pt
      FROM _mz_dsir_fb f JOIN llr l ON f.bucket = l.bucket
      GROUP BY f.doc_id, f.source
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {cnt("sum(n_feats)", "n_feats")},
      {dbl("avg(lw_pt)", "avg_log_importance_pf")},
      {dbl("max(lw_pt)", "max_log_importance_pf")},
      {cnt("sum(CASE WHEN lw_pt > 0 THEN 1 ELSE 0 END)", "n_target_like")}
    FROM docw
    GROUP BY source
    ORDER BY source
    """
    return [("_mz_dsir_fb", fb)], tail


def _pii_density_sql(d: str) -> str:
    # E84 — PII DENSITY per source, normalized per 1k whitespace
    # tokens: E21's raw hit counts can't rank sources of different
    # sizes (a 10× bigger source has 10× the hits at the SAME risk);
    # redaction planning (E29) and source-level quarantine decisions
    # need the rate.  Same _PATTERNS inventory as E21/E29 — a pattern
    # change moves all three certified rows together.  The synthetic
    # corpus is digit-free, so most densities are exact zeros —
    # engine-parity evidence here; tests/test_llm_curation.py plants
    # real PII for behavior.
    #
    # Scale: one scan, one per-source hash-agg (regexp counts are
    # map-side scalar work).
    toks = arr_len(_tok(d), d)
    densities = ",\n      ".join(
        dbl(
            f"1000.0 * sum({_pat_hits(d, pat)})"
            f" / CAST(nullif(sum({toks}), 0) AS DOUBLE)",
            f"{name}_per_1k",
        )
        for name, pat in _PATTERNS.items()
    )
    total = " + ".join(f"sum({_pat_hits(d, pat)})" for pat in _PATTERNS.values())
    return f"""
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {cnt(f"sum({toks})", "ws_tokens")},
      {densities},
      {dbl(f"1000.0 * ({total}) / CAST(nullif(sum({toks}), 0) AS DOUBLE)",
           "total_per_1k")}
    FROM documents
    GROUP BY source
    ORDER BY source
    """




def _dup_ngram_mass_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E111 — cross-source duplicated n-gram MASS per source: the share
    # of a source's total 3-gram occurrences whose gram also appears in
    # ANOTHER source — E47's pair matrix collapsed to the per-source
    # scalar a mixing pass reads ("how much of this source is recycled
    # corpus-wide", weighting by occurrence mass, not vocabulary).
    # Shares E47's _ngram_cte verbatim so the tokenization can't fork
    # (the r7 postings-vs-BM25 lesson).
    #
    # Scale: one explode-agg to the (source, ng, c) frame, materialized
    # (the per-gram source census and the rollup both read it); the
    # census is a gram-keyed hash agg — high cardinality, no skew.
    occ_sql = f"""
      WITH {_ngram_cte(d)}
      SELECT source, ng, count(*) AS c FROM ngrams GROUP BY source, ng
    """
    tail = f"""
    WITH ngsrc AS (
      SELECT ng, count(*) AS n_sources FROM _mz_dnm_occ GROUP BY ng
    )
    SELECT
      o.source,
      {cnt("sum(o.c)", "n_occurrences")},
      {cnt("count(*)", "n_distinct_ngrams")},
      {dbl(
          "sum(CASE WHEN s.n_sources > 1 THEN o.c ELSE 0 END)"
          " / CAST(nullif(sum(o.c), 0) AS DOUBLE)",
          "cross_source_mass_share",
      )},
      {dbl(
          "sum(CASE WHEN s.n_sources > 1 THEN 1 ELSE 0 END)"
          " / CAST(nullif(count(*), 0) AS DOUBLE)",
          "cross_source_vocab_share",
      )}
    FROM _mz_dnm_occ o
    JOIN ngsrc s ON s.ng = o.ng
    GROUP BY o.source
    ORDER BY o.source
    """
    return [("_mz_dnm_occ", occ_sql)], tail


QUERIES = [
    materialized_backed("dup_ngram_mass_by_source", _dup_ngram_mass_parts,
                        ("documents",)),
    sql_backed("boilerplate_ngrams", _boilerplate_ngrams_sql, ("documents",)),
    sql_backed("pii_scan", _pii_scan_sql, ("documents",)),
    sql_backed("pii_density_by_source", _pii_density_sql, ("documents",)),
    sql_backed("pii_redact", _pii_redact_sql, ("documents",)),
    sql_backed("sequence_packing", _sequence_packing_sql, ("documents",)),
    sql_backed("mixture_weights", _mixture_weights_sql, ("documents",)),
    sql_backed("gopher_quality", _gopher_quality_sql, ("documents",)),
    sql_backed("repeated_ngrams", _repeated_ngrams_sql, ("documents",)),
    materialized_backed("decontamination", _decontamination_parts, ("documents",)),
    materialized_backed(
        "contamination_matrix", _contamination_matrix_parts, ("documents",),
    ),
    sql_backed(
        "domain_mixture_weights", _domain_reweight_sql, ("documents",),
    ),
    materialized_backed(
        "dsir_importance", _dsir_parts, ("documents",),
    ),
    sql_backed("pii_luhn", _pii_luhn_sql, ("documents",)),
]


# chunking geometry: 200-char context windows, 150-char stride (50-char
# overlap) — the RAG/pretraining sliding-window shard shape
CHUNK_W = 200
CHUNK_S = 150


def _doc_chunk_sql(d: str) -> str:
    # E133 — sliding-window document chunking (the context-window shard
    # pass between curation and tokenization: RAG indexing and
    # long-doc pretraining both consume fixed-width overlapping chunks,
    # not whole documents — sequence_packing bins WHOLE docs; this is
    # the complementary WITHIN-doc split).  Chunk starts are a stride
    # arithmetic sequence materialized by the engine's lazy sequence
    # explode — no Python, no joins: one corpus scan → explode →
    # substring → two bounded rollups.  Certified aggregates pin the
    # full chunk GEOMETRY (counts, per-doc maxima, start offsets) and
    # the CONTENT boundary semantics (substring truncation at doc end:
    # sum of chunk lengths, count of full-width chunks, space-carrying
    # chunks — 1-based substring must agree across engines).
    #
    # Scale: explode fan-out is ceil(len/stride) ≈ 4 rows/KB — linear,
    # no shuffle until the per-source rollup; chunk text itself never
    # shuffles (lengths reduce map-side).  At 100 TB the pass stays a
    # single corpus scan, the same budget as every E-family explode.
    if d == "spark":
        starts = (
            "SELECT doc_id, source, n_chars, text, "
            f"explode(sequence(1, CAST(greatest(length(text), 1) AS INT),"
            f" {CHUNK_S})) AS start FROM documents"
        )
    else:
        starts = (
            "SELECT doc_id, source, n_chars, text, "
            f"unnest(generate_series(1, greatest(length(text), 1),"
            f" {CHUNK_S})) AS start FROM documents"
        )
    return f"""
    WITH chunks AS (
      SELECT doc_id, source, n_chars, start,
             substring(text, start, {CHUNK_W}) AS chunk
      FROM ({starts}) s
    ),
    per_doc AS (
      SELECT source, doc_id,
        count(*) AS k,
        sum(length(chunk)) AS chars,
        sum(CASE WHEN length(chunk) = {CHUNK_W} THEN 1 ELSE 0 END) AS full_k,
        sum(CASE WHEN chunk LIKE '% %' THEN 1 ELSE 0 END) AS spacey_k,
        sum(start) AS sum_starts,
        max(n_chars) AS n_chars
      FROM chunks
      GROUP BY source, doc_id
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {cnt("sum(k)", "n_chunks")},
      {cnt("max(k)", "max_chunks_per_doc")},
      {cnt("sum(chars)", "sum_chunk_chars")},
      {cnt("sum(full_k)", "n_full_chunks")},
      {cnt("sum(spacey_k)", "n_space_chunks")},
      {cnt("sum(sum_starts)", "sum_start_offsets")},
      {cnt("sum(CASE WHEN k = 1 AND n_chars <= " + str(CHUNK_W) +
           " THEN 1 ELSE 0 END)", "n_single_chunk_docs")},
      {dbl("sum(chars) * 1.0 / nullif(sum(n_chars), 0)", "expansion_ratio")}
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """


QUERIES.append(
    sql_backed("doc_chunk_stats", _doc_chunk_sql, ("documents",))
)


PACK_BUDGET = 300  # chars per sentence-aligned chunk


def _sentence_pack_sql(d: str) -> str:
    # E134 — sentence-boundary-aligned chunk packing (the quality
    # upgrade over E133's blind sliding window: RAG context quality
    # degrades when a window cuts mid-sentence).  Sentences split on
    # the E102 [.!?]+ convention, keep their in-doc ordinal, and pack
    # greedily by the cumulative-offset binning trick the
    # sequence_packing operator established: chunk = floor(chars
    # BEFORE this sentence / budget), so a sentence spills into its
    # starting chunk and fill can exceed 1.0 — deterministic, one
    # window per doc, no iteration.  Per-source census certifies the
    # split ↔ ordinal ↔ window ↔ binning chain across engines.
    if d == "spark":
        sents = f"""
        SELECT source, doc_id, pos + 1 AS idx,
               length(trim(s)) AS slen
        FROM documents
        LATERAL VIEW posexplode(split(text, '[.!?]+')) t AS pos, s
        WHERE length(trim(s)) > 0
        """
    else:
        sents = f"""
        SELECT t.source, t.doc_id, r.u.i AS idx,
               length(trim(r.u.s)) AS slen
        FROM documents t,
             unnest(list_transform(
               string_split_regex(t.text, '[.!?]+'),
               (x, i) -> {{'s': x, 'i': i}}
             )) AS r(u)
        WHERE length(trim(r.u.s)) > 0
        """
    return f"""
    WITH sents AS ({sents}),
    packed AS (
      SELECT source, doc_id, slen,
        CAST(floor((sum(slen) OVER (
          PARTITION BY doc_id ORDER BY idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) - slen) / {PACK_BUDGET}.0) AS BIGINT) AS chunk_id
      FROM sents
    ),
    chunks AS (
      SELECT source, doc_id, chunk_id,
        count(*) AS n_sents, sum(slen) AS chars
      FROM packed GROUP BY source, doc_id, chunk_id
    )
    SELECT
      source,
      {cnt("count(DISTINCT doc_id)", "n_docs")},
      {cnt("count(*)", "n_chunks")},
      {cnt("sum(n_sents)", "n_sentences")},
      {dbl("avg(chars)", "mean_chunk_chars")},
      {cnt("max(n_sents)", "max_sents_per_chunk")},
      {cnt("sum(CASE WHEN chars > " + str(PACK_BUDGET) +
           " THEN 1 ELSE 0 END)", "n_over_budget")}
    FROM chunks
    GROUP BY source
    ORDER BY source
    """


QUERIES.append(
    sql_backed("sentence_pack_chunks", _sentence_pack_sql, ("documents",))
)


def _chunk_dedup_sql(d: str) -> str:
    # E135 — duplicate-chunk census at E133's chunk grain: whole-doc
    # dedup (E1/E2) misses the boilerplate PARAGRAPH repeated across
    # otherwise-unique pages — the dominant residual duplication in web
    # corpora (Lee et al. 2022 measure it at the 50-token span grain;
    # the 200-char window is this engine's equivalent).  Chunks from
    # the same stride explode as E133, keyed by md5 (content hash, both
    # engines produce identical hex for identical bytes), censused per
    # source: how many chunks, how many are copies of a chunk seen
    # anywhere in the corpus, the dup mass, and the single most-shared
    # chunk's multiplicity.  One explode → one (hash) hash-agg → one
    # broadcast-size join-back of the ≤|dup hashes| frame.
    if d == "spark":
        starts = (
            "SELECT doc_id, source, text, "
            f"explode(sequence(1, CAST(greatest(length(text), 1) AS INT),"
            f" {CHUNK_S})) AS start FROM documents"
        )
    else:
        starts = (
            "SELECT doc_id, source, text, "
            f"unnest(generate_series(1, greatest(length(text), 1),"
            f" {CHUNK_S})) AS start FROM documents"
        )
    # ONE corpus scan: per-(source, hash) counts reduce first, the
    # global multiplicity arrives as a window over the REDUCED frame
    # (partition by h — bounded by |distinct chunks|, never raw rows),
    # and no join rematerializes the explode (the chunks-CTE-join
    # draft inlined in Spark and scanned the corpus twice — the r3
    # minhash disease at 2×, caught by its own ledger fingerprint).
    return f"""
    WITH cells AS (
      SELECT source, md5(substring(text, start, {CHUNK_W})) AS h,
             count(*) AS c
      FROM ({starts}) s
      GROUP BY source, md5(substring(text, start, {CHUNK_W}))
    ),
    enriched AS (
      SELECT source, h, c,
             sum(c) OVER (PARTITION BY h) AS n
      FROM cells
    )
    SELECT
      source,
      {cnt("sum(c)", "n_chunks")},
      {cnt("count(*)", "n_distinct_chunks")},
      {cnt("sum(CASE WHEN n > 1 THEN c ELSE 0 END)", "n_dup_chunks")},
      {dbl("sum(CASE WHEN n > 1 THEN c ELSE 0 END)"
           " / CAST(sum(c) AS DOUBLE)", "dup_ratio")},
      {cnt("max(n)", "max_multiplicity")}
    FROM enriched
    GROUP BY source
    ORDER BY source
    """


QUERIES.append(
    sql_backed("chunk_dedup_census", _chunk_dedup_sql, ("documents",))
)


CURRICULUM_Q = 0.7  # admit the top 30% of the corpus by quality score


def _curriculum_cut_sql(d: str) -> str:
    # E139 — quality-threshold curriculum cut (the data-selection pass
    # every pretraining mix runs after scoring: keep the best X% of
    # the corpus by a quality signal and report what that does to each
    # source's token share).  The admission rule is a SCORE QUANTILE,
    # not a budget-ordered cumulative cut, deliberately: an exact
    # token-budget cut needs a global sort + running sum over every
    # document (single-partition window — the known scale-killer),
    # while the quantile threshold is one exact-percentile aggregate
    # (partial-agged) + a broadcast threshold + one filter pass — the
    # same answer when scores are continuous, and the two-pass shape
    # that survives 100 TB.  Score = log-token-volume damped by how far
    # the mean word length sits from English-like (~5 chars): cheap,
    # deterministic, closed-form in both engines.
    toks = arr_len(split_ws("text", d), d)
    return f"""
    WITH scored AS (
      SELECT doc_id, source,
        CAST({toks} AS DOUBLE) AS toks,
        round(ln(1.0 + {toks}) *
              (1.0 - abs(length(text) * 1.0 / {toks} - 5.0) / 10.0),
              6) AS score
      FROM documents
    ),
    thr AS (
      SELECT round({pct("score", CURRICULUM_Q, d)} + {NUDGE}, 6) AS cut
      FROM scored
    )
    SELECT
      s.source,
      {cnt("count(*)", "n_docs")},
      {cnt("sum(CASE WHEN s.score >= t.cut THEN 1 ELSE 0 END)",
           "n_admitted")},
      {cnt("sum(toks)", "raw_tokens")},
      {cnt("sum(CASE WHEN s.score >= t.cut THEN toks ELSE 0 END)",
           "admitted_tokens")},
      {dbl("sum(CASE WHEN s.score >= t.cut THEN toks ELSE 0 END)"
           " / sum(toks)", "token_share")},
      {dbl("t.cut", "threshold")}
    FROM scored s CROSS JOIN thr t
    GROUP BY s.source, t.cut
    ORDER BY s.source
    """


QUERIES.append(
    sql_backed("quality_curriculum_cut", _curriculum_cut_sql, ("documents",))
)


def _trigram_novelty_sql(d: str) -> str:
    # E141 — corpus novelty curve ("is the crawl saturating?"): order
    # each source's documents by doc_id (ingestion order in this
    # corpus), split into 5 quantile buckets, and measure what share
    # of each bucket's trigram OCCURRENCES are novel — first seen in
    # that bucket rather than any earlier one.  A healthy growing
    # corpus holds novelty up; a saturating crawl's late buckets go
    # mostly redundant — the redundancy-growth diagnostic behind
    # dedup-budget planning (C4/RefinedWeb-style corpus analyses).
    # ONE trigram explode → first-seen flag as a min() window over
    # (source, shingle) — the gram-key partitioning distributes well —
    # → per-bucket census.  (The min-bucket-reduce + join-back draft
    # inlined the gram CTE twice in Spark and exploded the corpus 2×;
    # its own ledger fingerprint showed the doubled scan — the E135
    # lesson repeating.)  ntile is over the ≤|docs|-per-source doc
    # frame (bounded window partitioned by source, never a global
    # sort).
    toks = split_ws("lower(text)", d)
    if d == "spark":
        sh = (
            "explode(transform(sequence(1, size(t) - 2), "
            "i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', "
            "element_at(t, i + 2))))"
        )
        pred = "size(t) >= 3"
    else:
        sh = (
            "unnest(list_transform(generate_series(1, len(t) - 2), "
            "i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2])))"
        )
        pred = "len(t) >= 3"
    return f"""
    WITH bucketed AS (
      SELECT doc_id, source, text,
        ntile(5) OVER (PARTITION BY source ORDER BY doc_id) AS bucket
      FROM documents
    ),
    grams AS (
      SELECT source, bucket, shingle FROM (
        SELECT source, bucket, {sh} AS shingle
        FROM (SELECT source, bucket, {toks} AS t FROM bucketed) x
        WHERE {pred}
      ) e
    ),
    flagged AS (
      SELECT source, bucket, shingle,
        bucket = min(bucket) OVER (PARTITION BY source, shingle)
          AS novel
      FROM grams
    )
    SELECT
      source,
      CAST(bucket AS BIGINT) AS bucket,
      {cnt("count(*)", "n_occurrences")},
      {cnt("sum(CASE WHEN novel THEN 1 ELSE 0 END)",
           "n_novel_occurrences")},
      {cnt("count(DISTINCT CASE WHEN novel THEN shingle END)",
           "n_novel_types")},
      {dbl("sum(CASE WHEN novel THEN 1 ELSE 0 END) * 1.0 / count(*)",
           "novelty_rate")}
    FROM flagged
    GROUP BY source, bucket
    ORDER BY source, bucket
    """


QUERIES.append(
    sql_backed("trigram_novelty_curve", _trigram_novelty_sql, ("documents",))
)


def _cross_lang_dup_sql(d: str) -> str:
    # E142 — shared-prefix duplicate census across language labels (the
    # boilerplate-header / mislabeled-language detector): documents
    # whose normalized 80-char PREFIX hash collides share crawl
    # boilerplate (headers, navigation) — and a collision across
    # DIFFERENT lang labels is either a lang-ID error or the same
    # template crawled under two language routes; both must be caught
    # before per-language mixture weights (a template counted once per
    # label double-dips the mixture).  Prefix grain, not whole-doc:
    # the E1 whole-doc hash only fires on byte-identical copies, while
    # template boilerplate shares the OPENING of otherwise-distinct
    # pages (this corpus: 19 shared prefixes, 14 of them cross-lang).
    # One scan → (hash) reduce carrying per-lang distinct counts →
    # census per (lang_a, lang_b, cross_lang) cell.
    return f"""
    WITH hashed AS (
      SELECT md5(substring(lower(text), 1, 80)) AS h,
             lang, source, doc_id
      FROM documents
    ),
    per_hash AS (
      SELECT h,
        count(*) AS n_docs,
        {distinct_cnt("lang", d)} AS n_langs,
        min(lang) AS lang_a,
        max(lang) AS lang_b,
        {distinct_cnt("source", d)} AS n_sources
      FROM hashed
      GROUP BY h
    )
    SELECT
      lang_a,
      lang_b,
      n_langs > 1 AS cross_lang,
      {cnt("count(*)", "n_shared_hashes")},
      {cnt("sum(n_docs)", "n_docs_involved")},
      {cnt("max(n_docs)", "max_copies")},
      {cnt("sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END)",
           "n_cross_source")}
    FROM per_hash
    WHERE n_docs > 1
    GROUP BY lang_a, lang_b, n_langs > 1
    ORDER BY lang_a, lang_b, cross_lang
    """


QUERIES.append(
    sql_backed("cross_lang_dup_census", _cross_lang_dup_sql, ("documents",))
)
