"""Corpus token statistics: BPE-style adjacent-pair counts with PMI,
and Heaps'-law vocabulary-growth profiles (SURVEY §2 E30/E31).

Two statistics a tokenizer-training / corpus-profiling pass computes
before an LLM run:

- **Adjacent-pair stats** — the count of every adjacent token pair is
  exactly the statistic the first BPE merge step ranks (Sennrich et al.
  2016, "Neural Machine Translation of Rare Words with Subword Units");
  PMI over the same pairs is the classic collocation score (Church &
  Hanks 1990).  Pair generation is a per-row array transform (map-only,
  no shuffle); the count is ONE hash-agg on the pair key — high
  cardinality, no skew.  At 100 TB this is the same shape as word
  count: partial aggregation does almost all the work map-side.
- **Vocabulary growth** — per-source type/token counts, hapax fraction
  and the implied Heaps exponent ln(V)/ln(T).  Distinct-term counting
  is a (source, term) hash-agg then a per-source reduce: two shuffles,
  both on high-cardinality keys.

Both are pure SQL in both engines — no Python in the plan.
"""

from __future__ import annotations

from fiveg_spark.operators.dedup import _shingles_cte
from fiveg_spark.operators.text import _tok
from fiveg_spark.plans.registry import (
    NUDGE,
    arr_len,
    cnt,
    dbl,
    materialized_backed,
    pct,
    sql_backed,
)


def _pairs_expr(d: str) -> str:
    """Adjacent token pairs 'a b' from the whitespace tokenization.
    Guarded for <2 tokens: Spark's sequence(1, 0) yields a DESCENDING
    [1, 0], not an empty array — the CASE is load-bearing."""
    t = _tok(d)
    if d == "spark":
        return (
            f"CASE WHEN size({t}) < 2 THEN array() "
            f"ELSE transform(sequence(1, size({t}) - 1), "
            f"i -> concat(element_at({t}, i), ' ', element_at({t}, i + 1))) END"
        )
    return (
        f"CASE WHEN len({t}) < 2 THEN [] "
        f"ELSE list_transform(generate_series(1, len({t}) - 1), "
        f"i -> {t}[i] || ' ' || {t}[i + 1]) END"
    )


def _bpe_pair_stats_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # PMI = ln( p(a,b) / (p(a) p(b)) ) with pair probability over total
    # adjacent-pair events and unigram probabilities over total tokens.
    # materialized_backed: the unigram frame is referenced THREE times
    # (left join side, right join side, total) and the pair frame twice
    # — inlined CTEs re-ran the corpus explode per reference (5 scans).
    explode = "explode" if d == "spark" else "unnest"
    tok_explode = (
        f"SELECT {explode}({_tok(d)}) AS term FROM documents"
        if d == "spark"
        else f"SELECT unnest({_tok(d)}) AS term FROM documents"
    )
    pair_explode = (
        f"SELECT explode({_pairs_expr(d)}) AS pair FROM documents"
        if d == "spark"
        else f"SELECT unnest({_pairs_expr(d)}) AS pair FROM documents"
    )
    split_left = "split_part(pair, ' ', 1)"
    split_right = "split_part(pair, ' ', 2)"
    uni_sql = f"""
      WITH toks AS ({tok_explode})
      SELECT term, count(*) AS c FROM toks GROUP BY term
    """
    pc_sql = f"""
      WITH pairs AS ({pair_explode})
      SELECT pair, count(*) AS pair_c FROM pairs GROUP BY pair
    """
    tail = f"""
    WITH tot AS (
      SELECT CAST(sum(c) AS DOUBLE) AS t FROM _mz_bpe_uni
    ),
    ptot AS (
      SELECT CAST(sum(pair_c) AS DOUBLE) AS n FROM _mz_bpe_pc
    )
    SELECT
      pc.pair,
      {cnt("pc.pair_c", "pair_count")},
      {cnt("la.c", "left_count")},
      {cnt("ra.c", "right_count")},
      {dbl("ln((pc.pair_c * tot.t * tot.t) / (ptot.n * la.c * ra.c))", "pmi")}
    FROM _mz_bpe_pc pc
    JOIN _mz_bpe_uni la ON la.term = {split_left}
    JOIN _mz_bpe_uni ra ON ra.term = {split_right}
    CROSS JOIN tot CROSS JOIN ptot
    ORDER BY pair_count DESC, pc.pair
    LIMIT 50
    """
    return [("_mz_bpe_uni", uni_sql), ("_mz_bpe_pc", pc_sql)], tail


def _vocab_growth_sql(d: str) -> str:
    explode = (
        f"SELECT source, explode({_tok(d)}) AS term FROM documents"
        if d == "spark"
        else f"SELECT source, unnest({_tok(d)}) AS term FROM documents"
    )
    return f"""
    WITH toks AS ({explode}),
    per_term AS (
      SELECT source, term, count(*) AS c FROM toks GROUP BY source, term
    )
    SELECT
      source,
      {cnt("sum(c)", "total_tokens")},
      {cnt("count(*)", "vocab_size")},
      {cnt("sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)", "hapax_terms")},
      {dbl("CAST(count(*) AS DOUBLE) / sum(c)", "type_token_ratio")},
      {dbl("sum(CASE WHEN c = 1 THEN 1.0 ELSE 0.0 END) / count(*)", "hapax_frac")},
      {dbl(
        "CASE WHEN sum(c) <= 1 THEN 0.0 "
        "ELSE ln(CAST(count(*) AS DOUBLE)) / ln(CAST(sum(c) AS DOUBLE)) END",
        "heaps_exponent",
      )}
    FROM per_term
    GROUP BY source
    ORDER BY source
    """


def _unigram_ppl_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # Unigram-LM perplexity proxy: score each doc by the mean negative
    # log-probability of its tokens under the corpus unigram model —
    # the cheap stand-in for the KenLM perplexity filter of CCNet
    # (Wenzek et al. 2020); high-ppl docs are boilerplate/noise
    # candidates.  Model "training" is ONE hash-agg (term counts);
    # scoring is explode → broadcast-join the (small) vocab → per-doc
    # avg: at 100 TB the vocab side is ≪ the corpus and broadcasts.
    # ppl derives from the ROUNDED mean NLL so both engines exponentiate
    # the identical double.
    #
    # materialized_backed (r6 plan audit): the exploded token frame
    # feeds BOTH the vocab count and the scoring join — inlined, Spark
    # scanned the corpus 3×; materialized it scans ONCE.
    explode = (
        f"SELECT doc_id, source, explode({_tok(d)}) AS term FROM documents"
        if d == "spark"
        else f"SELECT doc_id, source, unnest({_tok(d)}) AS term FROM documents"
    )
    tail = f"""
    WITH uni AS (
      SELECT term, count(*) AS c FROM _mz_uppl_toks GROUP BY term
    ),
    tot AS (
      SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni
    ),
    scored AS (
      SELECT
        k.doc_id,
        k.source,
        -ln(uni.c / tot.t) AS nll
      FROM _mz_uppl_toks k JOIN uni ON k.term = uni.term CROSS JOIN tot
    ),
    per_doc AS (
      SELECT
        doc_id,
        source,
        CAST(count(*) AS BIGINT) AS n_tokens,
        round(avg(nll) + 1e-9, 4) + 0.0 AS avg_nll
      FROM scored
      GROUP BY doc_id, source
    )
    SELECT
      doc_id,
      source,
      n_tokens,
      CAST(avg_nll AS DOUBLE) AS avg_nll,
      {dbl("exp(avg_nll)", "ppl")}
    FROM per_doc
    ORDER BY avg_nll DESC, doc_id
    LIMIT 100
    """
    return [("_mz_uppl_toks", explode)], tail


def _bigram_ppl_sql(d: str) -> str:
    # E44 — bigram conditional cross-entropy per doc: mean -ln P(w2|w1)
    # under the corpus MLE bigram model, the next rung above the unigram
    # proxy (E33) toward CCNet's KenLM filter.  Scoring only OBSERVED
    # bigrams makes the MLE well-defined without smoothing (every scored
    # bigram has c12 >= 1 by construction), which in turn removes every
    # global scalar (vocab size / total count) from the formula — so the
    # whole model trains AND scores in ONE corpus scan: adjacent-pair
    # explode (map-only), c12 and c1 via two window counts over the one
    # pair frame (the boilerplate_ngrams pattern), one per-doc agg.
    # ppl derives from the ROUNDED mean NLL so both engines exponentiate
    # the identical double.
    toks = _tok(d)
    if d == "spark":
        from fiveg_spark.operators.dedup import _parallelism

        # explicit count (dedup._parallelism): AQE coalesces a count-less
        # REPARTITION back down by input bytes — wrong when the explode
        # amplifies CPU work far past the byte size
        pairs = (
            f"SELECT /*+ REPARTITION({_parallelism()}, doc_id) */ doc_id, source, "
            "explode(transform(sequence(1, size(t) - 1), "
            "i -> named_struct('w1', element_at(t, i), 'w2', element_at(t, i + 1)))) AS p "
            f"FROM (SELECT doc_id, source, {toks} AS t FROM documents) x "
            "WHERE size(t) >= 2"
        )
        sel = "SELECT doc_id, source, p.w1 AS w1, p.w2 AS w2 FROM pairs_raw"
    else:
        pairs = (
            "SELECT doc_id, source, "
            "unnest(list_transform(generate_series(1, len(t) - 1), "
            "i -> {'w1': t[i], 'w2': t[i + 1]})) AS p "
            f"FROM (SELECT doc_id, source, {toks} AS t FROM documents) x "
            "WHERE len(t) >= 2"
        )
        sel = "SELECT doc_id, source, p.w1 AS w1, p.w2 AS w2 FROM pairs_raw"
    return f"""
    WITH pairs_raw AS ({pairs}),
    pairs AS ({sel}),
    sized AS (
      SELECT doc_id, source,
        count(*) OVER (PARTITION BY w1, w2) AS c12,
        count(*) OVER (PARTITION BY w1) AS c1
      FROM pairs
    ),
    per_doc AS (
      SELECT
        doc_id,
        source,
        CAST(count(*) AS BIGINT) AS n_bigrams,
        round(avg(-ln(c12 / CAST(c1 AS DOUBLE))) + 1e-9, 4) + 0.0 AS avg_nll
      FROM sized
      GROUP BY doc_id, source
    )
    SELECT
      doc_id,
      source,
      n_bigrams,
      CAST(avg_nll AS DOUBLE) AS avg_nll,
      {dbl("exp(avg_nll)", "ppl")}
    FROM per_doc
    """


def _zipf_slope_sql(d: str) -> str:
    # E46 — Zipf rank-frequency slope per source: OLS fit of ln(count)
    # on ln(rank) over the top-100 terms (natural text ≈ -1; a corpus
    # whose slope drifts toward 0 is template/boilerplate-heavy, one
    # drifting steeper is dominated by a few tokens — a standard corpus
    # health check next to Heaps' law, E31).  The hapax tail is excluded
    # (rank <= 100) because its frequency plateau flattens the fit.
    #
    # Scale: the (source, term) hash-agg is the corpus scan; the rank
    # window runs over the VOCAB-sized per-source frame (≪ corpus), and
    # the OLS reduces via the same Σx/Σy/Σxy partial sums as C44 (exact
    # decomposable aggregates, map-side partials).  Deterministic rank
    # tiebreak on the term text keeps the top-100 set engine-identical.
    # Degenerate sources guard: a single distinct term makes the x
    # variance exactly 0, and equal counts across the top terms make the
    # y variance (numerically) 0 — both would put 0/0 NaNs in the
    # output, and NaN never oracle-matches.  The CASE thresholds
    # classify those sources as slope 0 / r2 0 / intercept = mean y.
    explode = (
        f"SELECT source, explode({_tok(d)}) AS term FROM documents"
        if d == "spark"
        else f"SELECT source, unnest({_tok(d)}) AS term FROM documents"
    )
    dx = "(n * sxx - sx * sx)"
    dy = "(n * syy - sy * sy)"
    fit = f"(n * sxy - sx * sy) / {dx}"
    slope = f"CASE WHEN abs({dx}) < 1e-9 THEN 0.0 ELSE {fit} END"
    intercept = (
        f"CASE WHEN abs({dx}) < 1e-9 THEN sy / n ELSE (sy - ({fit}) * sx) / n END"
    )
    r2 = (
        f"CASE WHEN abs({dx}) < 1e-9 OR abs({dy}) < 1e-9 THEN 0.0 "
        f"ELSE ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ({dx} * {dy}) END"
    )
    return f"""
    WITH toks AS ({explode}),
    per_term AS (
      SELECT source, term, count(*) AS c FROM toks GROUP BY source, term
    ),
    ranked AS (
      SELECT
        source,
        c,
        row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS rnk
      FROM per_term
    ),
    pts AS (
      SELECT
        source,
        ln(CAST(rnk AS DOUBLE)) AS x,
        ln(CAST(c AS DOUBLE)) AS y
      FROM ranked
      WHERE rnk <= 100
    ),
    sums AS (
      SELECT
        source,
        CAST(count(*) AS DOUBLE) AS n,
        sum(x) AS sx,
        sum(y) AS sy,
        sum(x * y) AS sxy,
        sum(x * x) AS sxx,
        sum(y * y) AS syy
      FROM pts
      GROUP BY source
    )
    SELECT
      source,
      {cnt("n", "n_terms")},
      {dbl(slope, "zipf_slope")},
      {dbl(intercept, "intercept")},
      {dbl(r2, "r2")}
    FROM sums
    ORDER BY source
    """


def _ppl_buckets_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E54 — CCNet head/middle/tail perplexity split (Wenzek et al. 2020
    # §4.3): bucket each source's documents by per-doc LM perplexity
    # terciles — 'head' (lowest-ppl third) is the quality slice CCNet
    # keeps, 'tail' the noise candidate pool.  Reuses the unigram-NLL
    # scoring pipeline (E33) up to per_doc, then one per-source quantile
    # agg + a broadcast-size join back.  Boundaries are ROUNDED before
    # the comparison (and nudged) so both engines bucket identical
    # doubles; avg_nll itself is already on the 4-decimal grid.
    #
    # materialized_backed, twice over: the exploded token frame feeds
    # BOTH the vocab count and the scoring join, and the per-doc frame
    # feeds BOTH the tercile agg and the bucket join — inlined, Spark
    # re-ran the corpus scan 6× (plan-audited r6); materialized it
    # scans documents ONCE.
    explode = (
        f"SELECT doc_id, source, explode({_tok(d)}) AS term FROM documents"
        if d == "spark"
        else f"SELECT doc_id, source, unnest({_tok(d)}) AS term FROM documents"
    )
    perdoc_sql = f"""
      WITH uni AS (
        SELECT term, count(*) AS c FROM _mz_ppl_toks GROUP BY term
      ),
      tot AS (
        SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni
      ),
      scored AS (
        SELECT
          k.doc_id,
          k.source,
          -ln(uni.c / tot.t) AS nll
        FROM _mz_ppl_toks k JOIN uni ON k.term = uni.term CROSS JOIN tot
      )
      SELECT
        doc_id,
        source,
        CAST(count(*) AS BIGINT) AS n_tokens,
        round(avg(nll) + 1e-9, 4) + 0.0 AS avg_nll
      FROM scored
      GROUP BY doc_id, source
    """
    third, two_thirds = 1.0 / 3.0, 2.0 / 3.0
    tail = f"""
    WITH bounds AS (
      SELECT
        source,
        round({pct("avg_nll", third, d)} + 1e-9, 4) AS q33,
        round({pct("avg_nll", two_thirds, d)} + 1e-9, 4) AS q66
      FROM _mz_ppl_perdoc
      GROUP BY source
    ),
    bucketed AS (
      SELECT
        p.source,
        p.n_tokens,
        CASE WHEN p.avg_nll <= b.q33 + 1e-9 THEN 'head'
             WHEN p.avg_nll <= b.q66 + 1e-9 THEN 'middle'
             ELSE 'tail' END AS bucket
      FROM _mz_ppl_perdoc p JOIN bounds b ON p.source = b.source
    )
    SELECT
      source,
      bucket,
      {cnt("count(*)", "n_docs")},
      {cnt("sum(n_tokens)", "n_tokens")},
      {dbl(
        "CASE WHEN sum(sum(n_tokens)) OVER (PARTITION BY source) <= 0 THEN 0.0 "
        "ELSE sum(n_tokens) / CAST(sum(sum(n_tokens)) OVER (PARTITION BY source) AS DOUBLE) END",
        "token_share",
      )}
    FROM bucketed
    GROUP BY source, bucket
    ORDER BY source, bucket
    """
    return [("_mz_ppl_toks", explode), ("_mz_ppl_perdoc", perdoc_sql)], tail


def _ngram_novelty_sql(d: str) -> str:
    # E70 — per-document n-gram novelty: the fraction of a doc's
    # DISTINCT 3-gram shingles that appear in NO other document, plus
    # the mean document frequency of its shingles (duplication
    # pressure).  The document-level complement of E42's corpus-level
    # boilerplate list: E42 asks "which n-grams are everywhere", this
    # asks "how much of THIS doc is template" — the score a curation
    # pass thresholds to drop near-template documents that exact/
    # near-dup (E1/E2) misses because no single pair is similar enough.
    # (Same family as the novelty term in Gopher rule filtering and
    # RefinedWeb's line-level dedup motivation.)
    #
    # One corpus scan: doc frequency comes from a count window OVER the
    # distinct (doc, shingle) frame — a df-side groupBy+join-back would
    # re-run the shingle pipeline per reference (the advisor's
    # repeated-scan rule).  Docs under 3 tokens have no shingles and
    # are absent by construction.
    #
    # Scale: shingle cardinality is high and unskewed (hash-agg /
    # window on the shingle key); the window is a second shuffle on
    # shingle after the distinct — both partial-agg friendly.
    return f"""
    {_shingles_cte(d)},
    tagged AS (
      SELECT
        doc_id,
        shingle,
        count(*) OVER (PARTITION BY shingle) AS df
      FROM shingles
    )
    SELECT
      doc_id,
      {cnt("count(*)", "n_shingles")},
      {cnt("sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)", "n_unique")},
      {dbl("sum(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END) / count(*)", "novelty")},
      {dbl("avg(df)", "avg_df")}
    FROM tagged
    GROUP BY doc_id
    ORDER BY doc_id
    """


_SW_PROFILE = (
    "the", "a", "fast", "slow", "data", "part",
    "batch", "stream", "window", "filter", "join", "merge",
)


def _stopword_divergence_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E75 — per-source stopword-profile KL divergence vs the corpus
    # (the CCNet/C4 style-drift screen: function-word distributions are
    # topic-invariant, so a source whose profile diverges from the
    # corpus is a different REGISTER — machine text, templates, another
    # language — even when content words look fine; cf. Mosteller &
    # Wallace's function-word authorship argument).  Profile = the 12
    # language-marker stopwords (text.py _MARKERS, the corpus's fixed
    # function-word inventory); KL(p_source || p_corpus) in nats with
    # the D27 PSI parity discipline: shares floored at 1e-4 and rounded
    # to 6 dp BEFORE ln so both engines take logs of identical doubles.
    # Each source also reports its most divergent word (max p·ln(p/q),
    # ties break on word).
    #
    # materialized_backed: the (source, word) count frame is referenced
    # by the per-source totals, the corpus totals, and the share grid —
    # inlined, Spark would re-run the corpus explode 4×.  ONE corpus
    # scan builds it; everything downstream is ≤|sources|·12 rows.
    inlist = ", ".join(f"'{w}'" for w in _SW_PROFILE)
    if d == "spark":
        words = "SELECT explode(array({})) AS word".format(
            ", ".join(f"'{w}'" for w in _SW_PROFILE)
        )
        tok = "explode({})".format(_tok(d))
    else:
        words = "SELECT unnest([{}]) AS word".format(
            ", ".join(f"'{w}'" for w in _SW_PROFILE)
        )
        tok = "unnest({})".format(_tok(d))
    counts_sql = f"""
    SELECT source, token AS word, count(*) AS n
    FROM (SELECT source, {tok} AS token FROM documents) t
    WHERE token IN ({inlist})
    GROUP BY source, token
    """
    tail = f"""
    WITH srcs AS (
      SELECT source, sum(n) AS src_total FROM _mz_sw_counts GROUP BY source
    ),
    corpus AS (
      SELECT word, sum(n) AS corpus_n FROM _mz_sw_counts GROUP BY word
    ),
    corpus_total AS (SELECT sum(n) AS corpus_total FROM _mz_sw_counts),
    grid AS (
      SELECT s.source, s.src_total, w.word
      FROM srcs s CROSS JOIN ({words}) w
    ),
    shares AS (
      SELECT
        g.source,
        g.word,
        round(greatest(coalesce(c.n, 0) / CAST(g.src_total AS DOUBLE), 0.0001)
              + {NUDGE}, 6) + 0.0 AS p,
        round(greatest(coalesce(co.corpus_n, 0) / CAST(ct.corpus_total AS DOUBLE),
              0.0001) + {NUDGE}, 6) + 0.0 AS q
      FROM grid g
      LEFT JOIN _mz_sw_counts c ON c.source = g.source AND c.word = g.word
      LEFT JOIN corpus co ON co.word = g.word
      CROSS JOIN corpus_total ct
    ),
    contribs AS (
      SELECT
        source,
        word,
        p * ln(p / q) AS contrib,
        row_number() OVER (PARTITION BY source
                           ORDER BY p * ln(p / q) DESC, word) AS rk
      FROM shares
    )
    SELECT
      c.source,
      {cnt("s.src_total", "n_stop_tokens")},
      {dbl("sum(c.contrib)", "kl_divergence")},
      max(CASE WHEN c.rk = 1 THEN c.word END) AS top_word,
      {dbl("max(CASE WHEN c.rk = 1 THEN c.contrib END)", "top_contrib")}
    FROM contribs c
    JOIN srcs s ON s.source = c.source
    GROUP BY c.source, s.src_total
    ORDER BY c.source
    """
    return [("_mz_sw_counts", counts_sql)], tail


def _token_fertility_sql(d: str) -> str:
    # E76 — tokenizer-economics profile per source: chars-per-token
    # (the "fertility" a tokenizer pays per word — gibberish and
    # unsegmented text push it up), tokens-per-doc, and the within-doc
    # 3-gram compression ratio (distinct/total shingles — the map-only
    # repetition proxy: boilerplate-heavy docs compress well BEFORE any
    # cross-doc machinery like E42/E70 runs).  The triage row a mixing
    # pass (E26/E52) reads to price a source's token budget.
    #
    # Scale: entirely MAP-ONLY per doc (array HOFs — distinct shingles
    # via array_distinct, never an explode), one corpus scan, one
    # hash-agg on source.  Zero-token and under-3-token docs take the
    # greatest()/CASE guards.
    toks = _tok(d)
    if d == "spark":
        nsh = "greatest(size(t) - 2, 0)"
        ndsh = (
            "CASE WHEN size(t) >= 3 THEN size(array_distinct("
            "transform(sequence(1, size(t) - 2), "
            "i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', "
            "element_at(t, i + 2))))) ELSE 0 END"
        )
        ntok = "size(t)"
    else:
        nsh = "greatest(len(t) - 2, 0)"
        ndsh = (
            "CASE WHEN len(t) >= 3 THEN len(list_distinct("
            "list_transform(generate_series(1, len(t) - 2), "
            "i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2])))) ELSE 0 END"
        )
        ntok = "len(t)"
    return f"""
    WITH per_doc AS (
      SELECT
        source,
        n_chars,
        {ntok} AS n_tokens,
        {nsh} AS n_shingles,
        {ndsh} AS n_distinct_shingles
      FROM (SELECT source, n_chars, {toks} AS t FROM documents) x
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {cnt("sum(n_tokens)", "total_tokens")},
      {dbl("sum(n_chars) / CAST(greatest(sum(n_tokens), 1) AS DOUBLE)",
           "chars_per_token")},
      {dbl("sum(n_tokens) / CAST(count(*) AS DOUBLE)", "tokens_per_doc")},
      {dbl(
          "CASE WHEN sum(n_shingles) = 0 THEN 1.0 "
          "ELSE sum(n_distinct_shingles) / CAST(sum(n_shingles) AS DOUBLE) END",
          "shingle_compression",
      )}
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """



VOCAB_K = 256  # frozen vocabulary size for the OOV screen


def _oov_rate_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E77 -- per-source out-of-vocabulary rate against a frozen top-K
    # corpus vocabulary (the tokenizer-health screen every pretraining
    # mix runs: a source whose tokens fall outside the vocabulary that
    # serves everyone else is gibberish, another language, or a domain
    # the tokenizer will shred into bytes -- the fertility cost E76
    # prices shows up HERE first).  Vocabulary = the VOCAB_K most
    # frequent corpus tokens (ties on term for determinism); per
    # source: token-level OOV rate (occurrence mass outside vocab) and
    # type-level OOV rate (distinct-term coverage), which separate
    # "rare words used often" from "long tail of junk types".
    #
    # materialized_backed: the exploded token frame feeds the global
    # term counts AND the per-source join -- inlined, Spark would run
    # the corpus explode twice; materialized it scans ONCE, and the
    # K-row vocabulary broadcasts at any corpus size.
    explode = (
        f"SELECT source, explode({_tok(d)}) AS term FROM documents"
        if d == "spark"
        else f"SELECT source, unnest({_tok(d)}) AS term FROM documents"
    )
    tail = f"""
    WITH counts AS (
      SELECT term, count(*) AS c FROM _mz_oov_toks GROUP BY term
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY c DESC, term) AS rk
        FROM counts
      ) ranked
      WHERE rk <= {VOCAB_K}
    ),
    per_source AS (
      SELECT
        t.source,
        count(*) AS n_tokens,
        sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov,
        count(DISTINCT t.term) AS n_types,
        count(DISTINCT CASE WHEN v.term IS NULL THEN t.term END)
          AS n_oov_types
      FROM _mz_oov_toks t
      LEFT JOIN vocab v ON v.term = t.term
      GROUP BY t.source
    )
    SELECT
      source,
      {cnt("n_tokens", "n_tokens")},
      {cnt("n_oov", "n_oov")},
      {dbl("n_oov / CAST(greatest(n_tokens, 1) AS DOUBLE)", "oov_token_rate")},
      {cnt("n_types", "n_types")},
      {cnt("n_oov_types", "n_oov_types")},
      {dbl("n_oov_types / CAST(greatest(n_types, 1) AS DOUBLE)",
           "oov_type_rate")}
    FROM per_source
    ORDER BY source
    """
    return [("_mz_oov_toks", explode)], tail


def _vocab_jaccard_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E87 — exact pairwise VOCABULARY overlap between sources: distinct-
    # token Jaccard + asymmetric containment for every source pair.
    # The exact token-level twin of C69's theta-sketch shingle
    # estimates: C69 answers "how much CONTENT do A and B share" by
    # sketch at any scale; this answers "how much VOCABULARY" exactly —
    # the lexical-register overlap that drives tokenizer/mixture
    # decisions (two sources with near-disjoint vocabularies shouldn't
    # share a BPE budget).  Posting-list shape end-to-end: the distinct
    # (source, token) frame materializes once, pair counts come from
    # exploding each token's source set (E3's trick — never a frame
    # self-join), sizes from one hash-agg.
    #
    # Scale: one scan → distinct shuffle → posting explode bounded by
    # |sources| per token; output |sources|²/2 rows.
    toks = _tok(d)
    if d == "spark":
        st_sql = f"""
          SELECT DISTINCT source, token
          FROM (SELECT source, explode({toks}) AS token FROM documents) x
          WHERE token <> ''
        """
        pair_explode = """
      SELECT p.sa AS sa, p.sb AS sb, count(*) AS n_common
      FROM (
        SELECT sort_array(collect_set(source)) AS srcs
        FROM _mz_vj_st
        GROUP BY token
        HAVING size(collect_set(source)) > 1
      ) posting
      LATERAL VIEW explode(flatten(transform(srcs, (x, i) ->
        transform(slice(srcs, i + 2, size(srcs)), y ->
          named_struct('sa', x, 'sb', y))))) t AS p
      GROUP BY p.sa, p.sb
        """
    else:
        st_sql = f"""
          SELECT DISTINCT source, token
          FROM (SELECT source, unnest({toks}) AS token FROM documents) x
          WHERE token <> ''
        """
        pair_explode = """
      SELECT a.source AS sa, b.source AS sb, count(*) AS n_common
      FROM _mz_vj_st a
      JOIN _mz_vj_st b ON a.token = b.token AND a.source < b.source
      GROUP BY a.source, b.source
        """
    tail = f"""
    WITH sizes AS (
      SELECT source, count(*) AS n_vocab FROM _mz_vj_st GROUP BY source
    ),
    inter AS ({pair_explode})
    SELECT
      i.sa AS source_a,
      i.sb AS source_b,
      {cnt("sa.n_vocab", "vocab_a")},
      {cnt("sb.n_vocab", "vocab_b")},
      {cnt("i.n_common", "n_common")},
      {dbl("i.n_common / CAST(sa.n_vocab + sb.n_vocab - i.n_common AS DOUBLE)",
           "vocab_jaccard")},
      {dbl("i.n_common / CAST(sa.n_vocab AS DOUBLE)", "containment_a")},
      {dbl("i.n_common / CAST(sb.n_vocab AS DOUBLE)", "containment_b")}
    FROM inter i
    JOIN sizes sa ON sa.source = i.sa
    JOIN sizes sb ON sb.source = i.sb
    ORDER BY i.sa, i.sb
    """
    return [("_mz_vj_st", st_sql)], tail


def _hapax_sql(d: str) -> str:
    # E97 — hapax legomena profile per source: the share of VOCABULARY
    # seen exactly once (and exactly twice — dis legomena) plus the
    # token-mass share those singletons carry.  The lexical-richness
    # reading between E31's Heaps growth and E46's Zipf slope: a
    # natural corpus runs ~40-60% hapax TYPES at tiny token mass;
    # near-zero hapax share means templated/boilerplate text, an
    # exploding one means OCR noise or gibberish (the E77 OOV signal
    # at the source's own scale).
    #
    # Scale: one explode-agg to (source, token) counts, one per-source
    # rollup of the vocab frame.
    toks = _tok(d)
    unn = "explode" if d == "spark" else "unnest"
    return f"""
    WITH tf AS (
      SELECT source, token, count(*) AS c
      FROM (SELECT source, {unn}({toks}) AS token FROM documents) x
      WHERE token <> ''
      GROUP BY source, token
    )
    SELECT
      source,
      {cnt("count(*)", "vocab_size")},
      {cnt("sum(c)", "total_tokens")},
      {cnt("sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)", "n_hapax")},
      {cnt("sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)", "n_dis")},
      {dbl("sum(CASE WHEN c = 1 THEN 1.0 ELSE 0.0 END) / count(*)",
           "hapax_type_share")},
      {dbl("sum(CASE WHEN c = 2 THEN 1.0 ELSE 0.0 END) / count(*)",
           "dis_type_share")},
      {dbl("sum(CASE WHEN c = 1 THEN 1.0 ELSE 0.0 END)"
           " / CAST(sum(c) AS DOUBLE)", "hapax_token_share")}
    FROM tf
    GROUP BY source
    ORDER BY source
    """


def _token_entropy_sql(d: str) -> str:
    # E99 — unigram Shannon entropy per source, in bits, plus the
    # vocab-normalized efficiency H/log₂V (Shannon 1948; the scalar
    # the E93 coverage LADDER integrates: entropy is the area under
    # the whole curve, efficiency says how far from uniform the
    # distribution sits — 1.0 = every type equally likely, natural
    # text ~0.7-0.8) and the perplexity 2^H (the unigram-LM floor E33
    # measures against held-out docs, here in closed form over the
    # training counts themselves).  E75's parity discipline: shares
    # rounded to 6 dp BEFORE log₂.
    #
    # Scale: one explode-agg to (source, token) counts, one |sources|
    # rollup.
    toks = _tok(d)
    unn = "explode" if d == "spark" else "unnest"
    p = "round(c / CAST(total AS DOUBLE) + 1e-12, 6)"
    return f"""
    WITH tf AS (
      SELECT source, token, count(*) AS c
      FROM (SELECT source, {unn}({toks}) AS token FROM documents) x
      WHERE token <> ''
      GROUP BY source, token
    ),
    sized AS (
      SELECT *, sum(c) OVER (PARTITION BY source) AS total FROM tf
    ),
    h AS (
      SELECT
        source,
        CAST(count(*) AS DOUBLE) AS v,
        max(total) AS total,
        -sum({p} * ln({p}) / ln(2.0)) AS h_bits
      FROM sized
      GROUP BY source
    )
    SELECT
      source,
      {cnt("v", "vocab_size")},
      {cnt("total", "total_tokens")},
      {dbl("h_bits", "entropy_bits")},
      {dbl("CASE WHEN v > 1 THEN h_bits / (ln(v) / ln(2.0)) ELSE 0.0 END",
           "efficiency")},
      {dbl("power(2.0, h_bits)", "unigram_perplexity")}
    FROM h
    ORDER BY source
    """


COVERAGE_KS = (10, 25, 100, 1000)


def _coverage_curve_sql(d: str) -> str:
    # E93 — head-COVERAGE curve per source: the share of total token
    # mass covered by the top-k most frequent types, at a fixed k
    # ladder.  The cumulative companion to E46's Zipf slope — slope
    # says how fast the tail decays, this says what a k-entry
    # vocabulary/BPE budget actually BUYS per source (the tokenizer-
    # sizing readout next to E76's fertility).  Under-k vocabularies
    # report coverage 1.0 (the whole source is covered).  Ranks break
    # ties on (count DESC, token) — deterministic in both engines.
    #
    # Scale: one explode-agg to (source, token) counts (the heavy
    # shuffle), one per-source rank window over the vocab frame, and a
    # |sources|·|ladder| rollup.
    toks = _tok(d)
    unn = "explode" if d == "spark" else "unnest"
    cov = ",\n      ".join(
        dbl(
            f"max(CASE WHEN rk <= {k} THEN cum_share END)",
            f"coverage_top{k}",
        )
        for k in COVERAGE_KS
    )
    return f"""
    WITH tf AS (
      SELECT source, token, count(*) AS c
      FROM (SELECT source, {unn}({toks}) AS token FROM documents) x
      WHERE token <> ''
      GROUP BY source, token
    ),
    ranked AS (
      SELECT
        source, c,
        row_number() OVER (PARTITION BY source ORDER BY c DESC, token) AS rk,
        sum(c) OVER (PARTITION BY source ORDER BY c DESC, token
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          / CAST(sum(c) OVER (PARTITION BY source) AS DOUBLE) AS cum_share
      FROM tf
    )
    SELECT
      source,
      {cnt("count(*)", "vocab_size")},
      {cnt("sum(c)", "total_tokens")},
      {cov}
    FROM ranked
    GROUP BY source
    ORDER BY source
    """


def _lognormal_fit_sql(d: str) -> str:
    # E95 — lognormal fit of per-doc token counts per source: μ̂/σ̂ of
    # ln(tokens), the implied lognormal mean exp(μ̂ + σ̂²/2), and its
    # ratio to the ACTUAL mean as the in-row goodness witness (≈1 when
    # the lognormal family fits — document lengths famously do; a
    # ratio far from 1 flags a truncated or multi-modal length regime
    # that breaks E25's packing-efficiency assumptions).  ln() runs on
    # exact integer token counts (engine-identical), the D40 rounding
    # discipline everywhere else.
    #
    # Scale: one scan, one per-source hash-agg.
    toks = arr_len(_tok(d), d)
    return f"""
    WITH lens AS (
      SELECT source, CAST({toks} AS DOUBLE) AS n
      FROM documents
      WHERE {toks} >= 1
    ),
    fit AS (
      SELECT
        source,
        CAST(count(*) AS DOUBLE) AS k,
        avg(ln(n)) AS mu,
        coalesce(var_samp(ln(n)), 0.0) AS s2,
        avg(n) AS actual_mean
      FROM lens
      GROUP BY source
    )
    SELECT
      source,
      {cnt("k", "n_docs")},
      {dbl("mu", "log_mean")},
      {dbl("sqrt(s2)", "log_std")},
      {dbl("exp(mu + s2 / 2.0)", "implied_mean")},
      {dbl("actual_mean", "actual_mean")},
      {dbl("exp(mu + s2 / 2.0) / actual_mean", "implied_over_actual")},
      (abs(round(exp(mu + s2 / 2.0) / actual_mean + {NUDGE}, 4) - 1.0)
         <= 0.25) AS lognormal_plausible
    FROM fit
    ORDER BY source
    """


def _bigram_entropy_rate_sql(d: str) -> str:
    # E105 — bigram CONDITIONAL entropy per source, H(next|cur) in bits
    # (Shannon 1948 §7): E99 scores sources by unigram entropy; this
    # adds the first-order sequential structure — context_gain =
    # H(unigram) − H(next|cur) is the information one token of context
    # buys, the statistic that separates word-soup from real prose at
    # the same vocabulary.  E44's bigram_ppl evaluates a MODEL per doc;
    # this is the corpus-level entropy identity over exact counts.
    # E75's parity discipline: shares rounded to 6 dp before log₂.
    #
    # Scale: one pair explode-agg on (source, bigram) — the E30 word-
    # count shape, partial agg map-side; the conditional total rides a
    # (source, w1)-partitioned window on the counted frame; rollup to
    # |sources| rows.
    pairs = _pairs_expr(d)
    unn = "explode" if d == "spark" else "unnest"
    w1 = "split_part(bg, ' ', 1)" if d != "spark" else \
        "element_at(split(bg, ' '), 1)"
    p_joint = "round(c / CAST(n_tot AS DOUBLE) + 1e-12, 6)"
    p_cond = "round(c / CAST(c_w1 AS DOUBLE) + 1e-12, 6)"
    return f"""
    WITH tf2 AS (
      SELECT source, bg, count(*) AS c
      FROM (SELECT source, {unn}({pairs}) AS bg FROM documents) x
      GROUP BY source, bg
    ),
    sized AS (
      SELECT
        source, bg, c,
        sum(c) OVER (PARTITION BY source) AS n_tot,
        sum(c) OVER (PARTITION BY source, {w1}) AS c_w1
      FROM tf2
    ),
    h AS (
      SELECT
        source,
        CAST(count(*) AS BIGINT) AS v2,
        max(n_tot) AS n_bigrams,
        -sum({p_joint} * ln({p_cond}) / ln(2.0)) AS h_cond
      FROM sized
      GROUP BY source
    )
    SELECT
      source,
      {cnt("n_bigrams", "n_bigrams")},
      {cnt("v2", "bigram_vocab")},
      {dbl("h_cond", "cond_entropy_bits")},
      {dbl("power(2.0, h_cond)", "cond_perplexity")}
    FROM h
    ORDER BY source
    """


TOKEN_LEN_CAP = 12  # lengths above this collapse into one tail bucket


def _token_length_histogram_sql(d: str) -> str:
    # E108 — token-LENGTH histogram per source (the distribution E76's
    # fertility scalar summarizes: a source can match another's mean
    # chars/token while hiding a long-identifier tail that a subword
    # tokenizer will shred): per (source, length-bucket) token share,
    # lengths above TOKEN_LEN_CAP pooled into the tail bucket.  One
    # explode-agg (the E30 word-count shape), shares via a window over
    # the ≤|sources|·(cap+1) rollup.
    toks = _tok(d)
    unn = "explode" if d == "spark" else "unnest"
    blen = f"least(length(token), {TOKEN_LEN_CAP + 1})"
    return f"""
    WITH lens AS (
      SELECT source, CAST({blen} AS BIGINT) AS len_bucket, count(*) AS c
      FROM (SELECT source, {unn}({toks}) AS token FROM documents) x
      WHERE token <> ''
      GROUP BY source, CAST({blen} AS BIGINT)
    )
    SELECT
      source,
      len_bucket,
      (len_bucket > {TOKEN_LEN_CAP}) AS is_tail_bucket,
      {cnt("c", "n_tokens")},
      {dbl("c / CAST(sum(c) OVER (PARTITION BY source) AS DOUBLE)",
           "share")}
    FROM lens
    ORDER BY source, len_bucket
    """




def _tfidf_source_signature_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E112 — distinctive-term SIGNATURE per source: top-5 terms by
    # source-level tf-idf (tf = the term's share of the source's mass,
    # idf over the |sources| universe — E14's doc-grain scoring lifted
    # to the corpus-audit grain: "what is this source ABOUT, relative
    # to the others").  The (source, term) count frame materializes
    # once (term df and the scoring both read it); ranking is a window
    # partitioned by source over the vocab-sized frame.
    toks = _tok(d)
    unn = "explode" if d == "spark" else "unnest"
    tf_sql = f"""
      SELECT source, token, count(*) AS c
      FROM (SELECT source, {unn}({toks}) AS token FROM documents) x
      WHERE token <> ''
      GROUP BY source, token
    """
    tail = f"""
    WITH n_src AS (
      SELECT count(DISTINCT source) AS ns FROM _mz_tsig_tf
    ),
    df AS (
      SELECT token, count(*) AS n_with FROM _mz_tsig_tf GROUP BY token
    ),
    mass AS (
      SELECT source, sum(c) AS total FROM _mz_tsig_tf GROUP BY source
    ),
    scored AS (
      SELECT
        t.source,
        t.token,
        t.c,
        round((t.c / CAST(m.total AS DOUBLE))
              * ln((ns.ns + 1.0) / (df.n_with + 1.0)) + 1e-9, 8) AS score
      FROM _mz_tsig_tf t
      JOIN mass m ON m.source = t.source
      JOIN df ON df.token = t.token
      CROSS JOIN n_src ns
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY source
                           ORDER BY score DESC, token) AS rk
      FROM scored
    )
    SELECT
      source,
      {cnt("rk", "rank")},
      token,
      {cnt("c", "n_occurrences")},
      {dbl("score * 1000.0", "tfidf_x1000")}
    FROM ranked
    WHERE rk <= 5
    ORDER BY source, rank
    """
    return [("_mz_tsig_tf", tf_sql)], tail


def _doc_entropy_screen_sql(d: str) -> str:
    # E113 — per-doc token-entropy screen: E99 scores SOURCES; this
    # flags the individual near-zero-information documents (log spam,
    # repeated-word padding — a doc whose unigram entropy is far below
    # its length's ceiling carries almost no content per token).  One
    # (doc, token) agg, per-doc entropy with the round-before-log2
    # discipline, per-source rollup of the low-entropy share at the
    # 1-bit screen plus the worst offenders' count.
    toks = _tok(d)
    unn = "explode" if d == "spark" else "unnest"
    pr = "round(c / CAST(n_d AS DOUBLE) + 1e-12, 6)"
    return f"""
    WITH tf AS (
      SELECT doc_id, source, token, count(*) AS c
      FROM (SELECT doc_id, source, {unn}({toks}) AS token FROM documents) x
      WHERE token <> ''
      GROUP BY doc_id, source, token
    ),
    sized AS (
      SELECT *, sum(c) OVER (PARTITION BY doc_id) AS n_d FROM tf
    ),
    per_doc AS (
      SELECT
        doc_id,
        source,
        max(n_d) AS n_tokens,
        -sum({pr} * ln({pr}) / ln(2.0)) AS h_bits
      FROM sized
      GROUP BY doc_id, source
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {dbl("avg(h_bits)", "mean_doc_entropy_bits")},
      {dbl(pct("h_bits", 0.1, d), "p10_doc_entropy_bits")},
      {dbl(
          "avg(CAST(CASE WHEN round(h_bits + 1e-9, 4) < 1.0"
          " AND n_tokens >= 10 THEN 1 ELSE 0 END AS DOUBLE))",
          "low_entropy_share",
      )}
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """


QUERIES = [
    materialized_backed("bpe_pair_stats", _bpe_pair_stats_parts, ("documents",)),
    materialized_backed("vocab_jaccard_matrix", _vocab_jaccard_parts, ("documents",)),
    sql_backed("ngram_coverage_curve", _coverage_curve_sql, ("documents",)),
    sql_backed("hapax_ratio", _hapax_sql, ("documents",)),
    sql_backed("token_entropy", _token_entropy_sql, ("documents",)),
    sql_backed("lognormal_length_fit", _lognormal_fit_sql, ("documents",)),
    sql_backed("ngram_novelty", _ngram_novelty_sql, ("documents",)),
    sql_backed("vocab_growth", _vocab_growth_sql, ("documents",)),
    materialized_backed("unigram_ppl", _unigram_ppl_parts, ("documents",)),
    sql_backed("bigram_ppl", _bigram_ppl_sql, ("documents",)),
    sql_backed("zipf_slope", _zipf_slope_sql, ("documents",)),
    materialized_backed("ppl_buckets", _ppl_buckets_parts, ("documents",)),
    materialized_backed(
        "stopword_divergence", _stopword_divergence_parts, ("documents",),
    ),
    sql_backed("token_fertility", _token_fertility_sql, ("documents",)),
    materialized_backed("oov_rate", _oov_rate_parts, ("documents",)),
    sql_backed("bigram_entropy_rate", _bigram_entropy_rate_sql, ("documents",)),
    sql_backed("token_length_histogram", _token_length_histogram_sql,
               ("documents",)),
    materialized_backed("tfidf_source_signature",
                        _tfidf_source_signature_parts, ("documents",)),
    sql_backed("doc_entropy_screen", _doc_entropy_screen_sql,
               ("documents",)),
]


def _readability_sql(d: str) -> str:
    # E121 — Flesch reading ease + Flesch-Kincaid grade per source: the
    # syllable-grain rung E102's ARI deliberately skipped (ARI needs
    # only chars/words; Flesch needs syllables).  Syllables ≈ vowel-
    # GROUP count ('[aeiouy]+' runs over the lowered text — the
    # standard cheap approximation; exact-integer per doc, identical in
    # both engines), words = whitespace tokens, sentences = [.!?]+
    # splits with non-blank remainder (the E102 construction).
    #
    # Corpus-level scores divide the SUMS (one division per source, no
    # per-doc ratio noise); easy_share applies the per-doc 60-point
    # Flesch cut from exact integer counts.  Map-only per doc → one
    # |sources| rollup.
    toks = _tok(d)
    if d == "spark":
        sents = ("size(filter(split(text, '[.!?]+'), "
                 "x -> length(trim(x)) > 0))")
        words = f"size({toks})"
        syll = "size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
    else:
        sents = ("len(list_filter(string_split_regex(text, '[.!?]+'), "
                 "x -> length(trim(x)) > 0))")
        words = f"len({toks})"
        syll = "len(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
    flesch = (
        "206.835 - 1.015 * ({w} / CAST(nullif({s}, 0) AS DOUBLE))"
        " - 84.6 * ({y} / CAST(nullif({w}, 0) AS DOUBLE))"
    )
    doc_flesch = flesch.format(w="words", s="sents", y="syll")
    agg_flesch = flesch.format(w="sum(words)", s="nullif(sum(sents), 0)",
                               y="sum(syll)")
    fk = (
        "0.39 * (sum(words) / CAST(nullif(sum(sents), 0) AS DOUBLE))"
        " + 11.8 * (sum(syll) / CAST(nullif(sum(words), 0) AS DOUBLE))"
        " - 15.59"
    )
    return f"""
    WITH per_doc AS (
      SELECT
        source,
        CAST({sents} AS BIGINT) AS sents,
        CAST({words} AS BIGINT) AS words,
        CAST({syll} AS BIGINT) AS syll
      FROM documents
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {dbl("sum(words) / CAST(nullif(count(*), 0) AS DOUBLE)",
           "words_per_doc")},
      {dbl("sum(syll) / CAST(nullif(sum(words), 0) AS DOUBLE)",
           "syllables_per_word")},
      {dbl("sum(words) / CAST(nullif(sum(sents), 0) AS DOUBLE)",
           "words_per_sentence")},
      {dbl(agg_flesch, "flesch_reading_ease")},
      {dbl(fk, "fk_grade_level")},
      {dbl(f"avg(CAST(CASE WHEN words > 0 AND sents > 0 "
           f"AND {doc_flesch} >= 60.0 THEN 1 ELSE 0 END AS DOUBLE))",
           "easy_doc_share")}
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """


def _yule_k_sql(d: str) -> str:
    # E122 — Yule's K lexical-concentration characteristic per source
    # (Yule 1944: K = 10⁴·(Σm²V_m − N)/N², length-invariant where E60's
    # raw hapax share and E75's entropy both drift with corpus size) +
    # Simpson's repeat-rate D = Σm(m−1)/(N(N−1)) (the probability two
    # random tokens coincide) and the vocabulary census they derive
    # from.  Template-sprawl sources push K up; K is THE classical
    # authorship/diversity constant missing from the E-family.
    #
    # Scale: one token explode → (source, term) hash-agg (the corpus
    # scan), then a ≤|vocab| frequency-spectrum rollup — all exact
    # integers until the final ratios.
    explode = (
        f"SELECT source, explode({_tok(d)}) AS term FROM documents"
        if d == "spark"
        else f"SELECT source, unnest({_tok(d)}) AS term FROM documents"
    )
    return f"""
    WITH tf AS (
      SELECT source, term, count(*) AS m
      FROM ({explode}) t
      GROUP BY source, term
    ),
    spectrum AS (
      SELECT source,
        CAST(sum(m) AS DOUBLE) AS n,
        CAST(count(*) AS DOUBLE) AS v,
        CAST(sum(m * m) AS DOUBLE) AS m2,
        CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS v1
      FROM tf GROUP BY source
    )
    SELECT
      source,
      {cnt("n", "n_tokens")},
      {cnt("v", "vocab_size")},
      {dbl("CASE WHEN n > 0.0 THEN 10000.0 * (m2 - n) / (n * n) "
           "ELSE 0.0 END", "yule_k")},
      {dbl("CASE WHEN n >= 2.0 THEN (m2 - n) / (n * (n - 1.0)) "
           "ELSE 0.0 END", "simpson_repeat_rate")},
      {dbl("CASE WHEN v > 0.0 THEN v1 / v ELSE 0.0 END",
           "hapax_type_share")}
    FROM spectrum
    ORDER BY source
    """


QUERIES.extend([
    sql_backed("readability_scores", _readability_sql, ("documents",)),
    sql_backed("yule_k_profile", _yule_k_sql, ("documents",)),
])


HEAD_SHARE = 0.2  # leading fraction of a doc counted as its "head"


def _ngram_position_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E127 — positional bias of cross-doc repeated 3-grams: E42 finds
    # WHICH shingles are boilerplate (repeated across docs); this
    # finds WHERE they sit — headers/navigation concentrate in the
    # first HEAD_SHARE of a doc, so a head-lift ≫ 1 says a simple
    # prefix-trim would remove most boilerplate BEFORE paying for
    # line-level dedup (E41).  Per source: repeated-shingle share,
    # head share among repeated occurrences, lift vs the HEAD_SHARE
    # baseline.
    #
    # Positional shingles: token index via posexplode (Spark) /
    # generate_subscripts (DuckDB) + two lead() windows per doc
    # (bounded by doc length); the shingle frame MATERIALIZES —
    # corpus-level repetition counts and per-occurrence position reads
    # both consume it.
    toks = _tok(d)
    if d == "spark":
        exploded = (f"SELECT doc_id, source, pos, tok FROM documents "
                    f"LATERAL VIEW posexplode({toks}) t AS pos, tok")
    else:
        exploded = (f"SELECT doc_id, source, "
                    f"generate_subscripts({toks}, 1) - 1 AS pos, "
                    f"unnest({toks}) AS tok FROM documents")
    shingles_sql = f"""
      WITH toks AS (
        {exploded}
      ),
      grams AS (
        SELECT doc_id, source, pos,
          tok || ' ' ||
          lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' ||
          lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle,
          CAST(count(*) OVER (PARTITION BY doc_id) AS DOUBLE) AS n_toks
        FROM toks
      )
      SELECT doc_id, source, pos, shingle, n_toks - 2.0 AS n_shingles
      FROM grams WHERE shingle IS NOT NULL
    """
    tail = f"""
    WITH rep AS (
      SELECT shingle
      FROM _mz_pb_shingles
      GROUP BY shingle
      HAVING count(DISTINCT doc_id) >= 2
    ),
    tagged AS (
      SELECT s.source,
        CAST(CASE WHEN r.shingle IS NOT NULL THEN 1 ELSE 0 END
             AS DOUBLE) AS is_rep,
        CAST(CASE WHEN s.n_shingles > 0.0
                  AND CAST(s.pos AS DOUBLE) / s.n_shingles < {HEAD_SHARE!r}
             THEN 1 ELSE 0 END AS DOUBLE) AS in_head
      FROM _mz_pb_shingles s
      LEFT JOIN rep r ON r.shingle = s.shingle
    )
    SELECT
      source,
      {cnt("count(*)", "n_shingle_occurrences")},
      {dbl("avg(is_rep)", "repeated_share")},
      {dbl("CASE WHEN sum(is_rep) > 0.0 "
           "THEN sum(is_rep * in_head) / sum(is_rep) ELSE 0.0 END",
           "repeated_head_share")},
      {dbl("avg(in_head)", "head_baseline_share")},
      {dbl("CASE WHEN sum(is_rep) > 0.0 AND avg(in_head) > 0.0 "
           "THEN (sum(is_rep * in_head) / sum(is_rep)) / avg(in_head) "
           "ELSE 0.0 END", "head_lift")}
    FROM tagged
    GROUP BY source
    ORDER BY source
    """
    return [("_mz_pb_shingles", shingles_sql)], tail


QUERIES.extend([
    materialized_backed("ngram_position_bias", _ngram_position_parts,
                        ("documents",)),
])
