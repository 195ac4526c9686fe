"""Text-analysis operators over the documents table (SURVEY §2 E8-E11).

Language-ID, quality scoring, token counting, and fingerprinting — the
text half of the LLM-training-data toolkit.  All map-only projections +
one small agg; at 100 TB these scale linearly with zero shuffles
(token_counts shuffles once on `source`).

Tokenization is space-run splitting (the synthetic corpus is plain
word-soup); the BPE-ish regex tokenizer shows the regexp path.
"""

from __future__ import annotations

from fiveg_spark.plans.registry import (
    NUDGE,
    arr_len,
    cnt,
    dbl,
    materialized_backed,
    pct,
    split_ws,
    sql_backed,
)

# Marker stopwords per language: deterministic scoring material that
# exists in the synthetic corpus vocabulary.
_MARKERS = {
    "en": ("the", "a", "fast", "slow"),
    "es": ("data", "part", "batch", "stream"),
    "de": ("window", "filter", "join", "merge"),
}

_BPE_ISH = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _tok(d: str) -> str:
    return split_ws("lower(text)", d)


def _marker_count(d: str, words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    if d == "spark":
        return f"size(filter({_tok(d)}, x -> x IN ({inlist})))"
    return f"len(list_filter({_tok(d)}, x -> x IN ({inlist})))"


def _lang_scored_cte(d: str) -> str:
    """THE E8 classifier frame — `scored(doc_id, lang, score_en,
    score_es, score_de)`, one scan.  Shared by E8 and the E85 confusion
    matrix so a marker change moves both certified rows together."""
    en = _marker_count(d, _MARKERS["en"])
    es = _marker_count(d, _MARKERS["es"])
    de = _marker_count(d, _MARKERS["de"])
    return f"""scored AS (
      SELECT
        doc_id,
        lang,
        CAST({en} AS INT) AS score_en,
        CAST({es} AS INT) AS score_es,
        CAST({de} AS INT) AS score_de
      FROM documents
    )"""


# E8's argmax decision over _lang_scored_cte columns (ties: en > es > de).
LANG_PRED_CASE = (
    "CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en' "
    "WHEN score_es >= score_de THEN 'es' ELSE 'de' END"
)


def _lang_id_sql(d: str) -> str:
    return f"""
    WITH {_lang_scored_cte(d)}
    SELECT
      doc_id,
      lang,
      score_en, score_es, score_de,
      {LANG_PRED_CASE} AS predicted
    FROM scored
    """


def _lang_confusion_sql(d: str) -> str:
    # E85 — language-ID CONFUSION MATRIX: E8's n-gram classifier scored
    # against the corpus labels, per (true, predicted) cell with row-
    # normalized recall and the classifier's share of the cell — the
    # eval every curation pipeline runs before trusting a lang filter
    # (a filter that misroutes 'es' docs to 'de' silently biases the
    # mixture E26 computes).  Shares E8's scored frame + argmax
    # VERBATIM (_lang_scored_cte / LANG_PRED_CASE).
    #
    # Scale: one scan → |langs|² hash-agg cells.
    return f"""
    WITH {_lang_scored_cte(d)},
    cells AS (
      SELECT lang AS true_lang, {LANG_PRED_CASE} AS predicted_lang,
             count(*) AS c
      FROM scored
      GROUP BY lang, {LANG_PRED_CASE}
    )
    SELECT
      true_lang,
      predicted_lang,
      {cnt("c", "n_docs")},
      {dbl("c / CAST(sum(c) OVER (PARTITION BY true_lang) AS DOUBLE)",
           "row_recall")},
      {dbl("c / CAST(sum(c) OVER (PARTITION BY predicted_lang) AS DOUBLE)",
           "col_precision")},
      (true_lang = predicted_lang) AS correct
    FROM cells
    ORDER BY true_lang, predicted_lang
    """


def quality_m_cte(d: str) -> str:
    """THE E9 per-doc quality-metric frame — `m(doc_id, lang, source,
    n_chars, n_tokens, n_stopwords)`, one scan.  Shared by E9 and the
    E82 snapshot-trend monitor so a metric change moves both certified
    rows together (the r7 tokenizer-split lesson)."""
    toks = _tok(d)
    n_toks = arr_len(toks, d)
    stop = _marker_count(d, ("the", "a", "of", "and"))
    return f"""m AS (
      SELECT
        doc_id,
        lang,
        source,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST({n_toks} AS BIGINT) AS n_tokens,
        CAST({stop} AS BIGINT) AS n_stopwords
      FROM documents
    )"""


# E9's scalar score over quality_m_cte columns (raw, unrounded).
QUALITY_SCORE_RAW = (
    "CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.5 END"
    " * (1.0 - n_stopwords / CAST(n_tokens AS DOUBLE))"
)


def _text_quality_sql(d: str) -> str:
    return f"""
    WITH {quality_m_cte(d)}
    SELECT
      doc_id,
      lang,
      source,
      n_chars,
      n_tokens,
      {dbl("(n_chars - n_tokens + 1) / CAST(n_tokens AS DOUBLE)", "avg_token_len")},
      {dbl("n_stopwords / CAST(n_tokens AS DOUBLE)", "stopword_ratio")},
      {dbl(QUALITY_SCORE_RAW, "quality_score")}
    FROM m
    """


def _token_counts_sql(d: str) -> str:
    toks = _tok(d)
    # Spark's regexp_extract_all defaults to group 1; group 0 = whole match.
    grp = ", 0" if d == "spark" else ""
    bpe = f"regexp_extract_all(lower(text), '{_BPE_ISH}'{grp})"
    return f"""
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {cnt(f"sum({arr_len(toks, d)})", "ws_tokens")},
      {cnt(f"sum({arr_len(bpe, d)})", "bpe_tokens")},
      {cnt("sum(length(text))", "total_chars")},
      {dbl(f"avg({arr_len(toks, d)})", "avg_doc_tokens")}
    FROM documents
    GROUP BY source
    """


def _doc_fingerprint_sql(d: str) -> str:
    # E11: whole-doc content hash on normalized text + a positional
    # prefix fingerprint (first 5 tokens), both engine-identical via md5.
    toks = _tok(d)
    if d == "spark":
        prefix = f"concat_ws(' ', slice({toks}, 1, 5))"
    else:
        prefix = f"array_to_string(list_slice({toks}, 1, 5), ' ')"
    return f"""
    SELECT
      doc_id,
      md5(lower(text)) AS content_hash,
      md5({prefix}) AS prefix_hash
    FROM documents
    """


def _tfidf_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E14 — TF-IDF top-3 terms per document: explode tokens, tf per
    # (doc, term), df per term, smoothed idf, rank window per doc.
    # The df side is a tiny term dictionary -> broadcast at scale.
    #
    # materialized_backed (r6 plan audit): the exploded term frame fed
    # BOTH tf and df — inlined, Spark scanned the corpus 3×.  The tf
    # frame is materialized once; df derives from it EXACTLY (tf is
    # already distinct per (doc, term), so count(*) per term over tf ==
    # count(DISTINCT doc_id) over raw terms).  The n_docs count-star
    # scan remains: it must include zero-token docs, and a count-only
    # parquet scan reads footers, not data.
    tf_sql = _tf_frame_sql(d)
    tail = f"""
    WITH df AS (
      SELECT term, count(*) AS df FROM _mz_tfidf_tf GROUP BY term
    ),
    n AS (
      SELECT count(*) AS n_docs FROM documents
    ),
    scored AS (
      SELECT
        tf.doc_id,
        tf.term,
        round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1e-9, 4) + 0.0 AS score
      FROM _mz_tfidf_tf tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, term
        ) AS rnk
      FROM scored
    )
    SELECT
      doc_id,
      {cnt("rnk", "rnk")},
      term,
      CAST(score AS DOUBLE) AS tfidf
    FROM ranked
    WHERE rnk <= 3
    """
    return [("_mz_tfidf_tf", tf_sql)], tail


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 5
# planted keyword queries over the synthetic ops vocabulary — the
# retrieval shape (query set x corpus) on the LEXICAL side, pairing with
# ann_retrieval's embedding side
BM25_QUERIES = (
    ("q_stream", ("spark", "stream", "window")),
    ("q_orders", ("customer", "order", "value")),
    ("q_joins", ("hash", "join", "table")),
)


def _bm25_ranked_ctes(rel: str) -> str:
    """Shared CTE chain from a materialized (doc, term, tf) relation to
    the per-query BM25 ranking (qterms → doclen/stats/df → scored →
    ranked) — used by the retrieval query (E64) and the ranking-quality
    eval (E68), guaranteeing both score identically."""
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in BM25_QUERIES for t in terms
    )
    return f"""qterms AS (
      SELECT * FROM (VALUES {qvals}) AS t(query_id, term)
    ),
    doclen AS (
      SELECT doc_id, sum(tf) AS dl FROM {rel} GROUP BY doc_id
    ),
    stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen
    ),
    df AS (
      SELECT tf.term, count(*) AS df
      FROM {rel} tf
      WHERE tf.term IN (SELECT term FROM qterms)
      GROUP BY tf.term
    ),
    scored AS (
      SELECT
        q.query_id,
        tf.doc_id,
        count(*) AS n_terms_matched,
        round(sum(
          ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
          * tf.tf * ({BM25_K1} + 1.0)
          / (tf.tf + {BM25_K1}
             * (1.0 - {BM25_B} + {BM25_B} * l.dl / s.avgdl))
        ) + 1e-9, 4) + 0.0 AS score
      FROM {rel} tf
      JOIN qterms q ON q.term = tf.term
      JOIN df ON df.term = tf.term
      JOIN doclen l ON l.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY q.query_id, tf.doc_id
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (
          PARTITION BY query_id ORDER BY score DESC, doc_id
        ) AS rnk
      FROM scored
    )"""


def _tf_frame_sql(d: str) -> str:
    """The (doc_id, term, tf) frame every BM25-family query
    materializes — ONE tokenize-and-count definition (shared with the
    A17 postings writer's semantics: _tok, no trim) so a tokenization
    change moves every certified retrieval row together instead of
    desynchronizing three copies (r7 self-review)."""
    toks = _tok(d)
    if d == "spark":
        # (r13: a REPARTITION spread before this explode was A/B-measured
        # slower — a plain unigram explode is too cheap per row to pay an
        # extra exchange for, unlike the md5-amplified shingle paths.)
        exploded = f"SELECT doc_id, explode({toks}) AS term FROM documents"
    else:
        exploded = f"SELECT doc_id, unnest({toks}) AS term FROM documents"
    return f"""
      WITH terms AS (
        {exploded}
      )
      SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
    """


def _bm25_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E64 — BM25 ranked retrieval (Robertson & Zaragoza 2009, the
    # Okapi/Lucene formulation with the nonnegative idf): score every
    # document against a planted keyword-query set, top-k per query.
    # This is the lexical retrieval operator a RAG/dedup pipeline runs
    # next to the embedding ANN path (ann_retrieval.py) — hybrid
    # retrieval fuses both (rrf_fusion is already certified).
    #
    #   score(q, d) = sum_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    #   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
    #
    # Scale: ONE corpus scan builds the (doc, term, tf) frame
    # (materialized — doc lengths, document frequencies and scoring all
    # derive from it); the query-term dictionary is a literal VALUES
    # frame and df joins are broadcast-tiny; scoring touches only rows
    # whose term appears in a query (filter BEFORE the join fan-out);
    # ranking is a per-query window over <= |matched docs| rows.  Final
    # scores round (NUDGE discipline) BEFORE the rank so both engines
    # order identically, doc_id tiebreak.
    tf_sql = _tf_frame_sql(d)
    tail = f"""
    WITH {_bm25_ranked_ctes("_mz_bm25_tf")}
    SELECT
      query_id,
      {cnt("rnk", "rnk")},
      {cnt("doc_id", "doc_id")},
      {cnt("n_terms_matched", "n_terms_matched")},
      CAST(score AS DOUBLE) AS bm25
    FROM ranked
    WHERE rnk <= {BM25_TOPK}
    ORDER BY query_id, rnk
    """
    return [("_mz_bm25_tf", tf_sql)], tail


def _retrieval_eval_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # E68 — rank-quality eval of the BM25 ranking (MRR + nDCG@k,
    # Järvelin & Kekäläinen 2002): graded relevance = n_terms_matched
    # (a doc matching all query terms IS more relevant to a keyword
    # query than a one-term hit — an exact, label-free ground truth the
    # oracle can recompute), so the eval asks whether the SCORE-based
    # ordering respects the set-overlap ordering.  nDCG gains are
    # 2^rel − 1 with log2 discounts; MRR counts a doc relevant when it
    # matches >= 2 terms.  This is the eval harness a retrieval stack
    # runs per index build — and because it shares the E64 CTE chain
    # verbatim, a scoring regression breaks BOTH certified rows.
    #
    # Scale: same one-scan shape as E64; the eval tail is arithmetic
    # over |queries|·|candidates| rows.
    tf_sql = _tf_frame_sql(d)
    log2 = "ln(2.0)"
    gain = "(power(2.0, n_terms_matched) - 1.0)"
    # r13 opt: the BM25 ranking is materialized as its OWN checkpointed
    # frame — the tail referenced `ranked` twice (dcg's topk + the ideal
    # re-rank), and Spark inlines CTEs, so the doclen/df/scored/window
    # chain over the tf frame ran twice (ledger: 25 exchanges).  The
    # ranking is ≤ |queries|·|matched docs| rows; both references are
    # now reads of the small frame.
    ranked_sql = f"""
    WITH {_bm25_ranked_ctes("_mz_releval_tf")}
    SELECT query_id, doc_id, n_terms_matched, rnk FROM ranked
    """
    tail = f"""
    WITH topk AS (
      SELECT * FROM _mz_releval_ranked WHERE rnk <= {BM25_TOPK}
    ),
    dcg AS (
      SELECT query_id,
             sum({gain} / (ln(rnk + 1.0) / {log2})) AS dcg,
             count(*) AS n_ret,
             min(CASE WHEN n_terms_matched >= 2 THEN rnk END) AS first_rel
      FROM topk GROUP BY query_id
    ),
    ideal AS (
      SELECT query_id, n_terms_matched,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY n_terms_matched DESC, doc_id
             ) AS irnk
      FROM _mz_releval_ranked
    ),
    idcg AS (
      SELECT query_id,
             sum({gain} / (ln(irnk + 1.0) / {log2})) AS idcg
      FROM ideal WHERE irnk <= {BM25_TOPK} GROUP BY query_id
    )
    SELECT
      d.query_id,
      {cnt("d.n_ret", "n_returned")},
      {dbl(
          "CASE WHEN d.first_rel IS NOT NULL "
          "THEN 1.0 / d.first_rel ELSE 0.0 END",
          "mrr",
      )},
      {dbl("d.dcg", "dcg")},
      {dbl("i.idcg", "idcg")},
      {dbl(
          "CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg ELSE 0.0 END",
          "ndcg",
      )}
    FROM dcg d JOIN idcg i ON i.query_id = d.query_id
    ORDER BY d.query_id
    """
    return [("_mz_releval_tf", tf_sql), ("_mz_releval_ranked", ranked_sql)], tail


def _rx_all(d: str, x: str, pat: str, rep: str) -> str:
    """regexp_replace over ALL matches in both engines (Spark replaces
    globally by default; DuckDB needs the 'g' flag)."""
    if d == "spark":
        return f"regexp_replace({x}, '{pat}', '{rep}')"
    return f"regexp_replace({x}, '{pat}', '{rep}', 'g')"


def _text_normalize_sql(d: str) -> str:
    # E53 — the C4/CCNet-style normalization pass that FRONTS a curation
    # pipeline (before content-hash dedup, before shingling): collapse
    # whitespace runs (incl. tabs — char class, no backslash escapes so
    # Java regex and RE2 agree), trim edges, and flag what changed.
    # Emits the md5 of the normalized text so the contract certifies the
    # byte-level reconstruction, plus changed/empty flags a funnel can
    # aggregate.  Map-only: one scan, no shuffle at any scale — the
    # trailing ORDER BY doc_id is oracle-determinism only; at scale
    # consume the unsorted map-only frame.
    ws = "[ \t][ \t]*"  # run of spaces/tabs (POSIX-portable, no \s)
    clean = f"trim({_rx_all(d, 'text', ws, ' ')})"
    return f"""
    WITH cleaned AS (
      SELECT
        doc_id,
        source,
        text,
        {clean} AS clean_text
      FROM documents
    )
    SELECT
      doc_id,
      source,
      {cnt("length(text)", "n_chars_raw")},
      {cnt("length(clean_text)", "n_chars_clean")},
      CASE WHEN clean_text = text THEN FALSE ELSE TRUE END AS changed,
      CASE WHEN length(clean_text) = 0 THEN TRUE ELSE FALSE END AS empty_after,
      md5(clean_text) AS clean_hash
    FROM cleaned
    ORDER BY doc_id
    """


CODE_SCORE_THRESHOLD = 0.15


def _code_detect_sql(d: str) -> str:
    # E73 — heuristic code-vs-prose detection per document (the
    # StarCoder/The-Stack curation split: a pretraining mix wants code
    # ROUTED, not dropped, and a prose-quality filter like E22 mustn't
    # punish code for "bad grammar").  Signals, all O(1)-per-char and
    # shuffle-free: symbol density (chars outside [a-z0-9 space] after
    # lowering), structural-character density ({}();=<> per char), and
    # the underscore/camel-ish token share a tokenizer sees in
    # identifiers.  Score = symbol density + 2×structural density
    # (structure is the stronger signal — prose uses commas and
    # quotes, not braces), flagged at {CODE_SCORE_THRESHOLD} on the
    # ROUNDED score.
    #
    # Counting is subtraction-free of regex backtracking: occurrences
    # of single chars via length(x) − length(replace(x, c, '')) —
    # identical integer arithmetic both engines; the one regex strips
    # the alnum class (same RE2/Java semantics, no escapes).
    # Map-only: one scan, no shuffle at any scale; the trailing ORDER
    # BY is oracle determinism only.
    low = "lower(text)"
    sym_stripped = _rx_all(d, low, "[a-z0-9 ]", "")
    structural = " + ".join(
        f"(length({low}) - length(replace({low}, '{c}', '')))"
        for c in ("{", "}", "(", ")", ";", "=")
    )
    return f"""
    WITH scored AS (
      SELECT
        doc_id,
        source,
        length(text) AS n_chars,
        length({sym_stripped}) AS n_symbols,
        {structural} AS n_structural
      FROM documents
    )
    SELECT
      doc_id,
      source,
      {cnt("n_chars", "n_chars")},
      {dbl("n_symbols / CAST(greatest(n_chars, 1) AS DOUBLE)",
           "symbol_density")},
      {dbl("n_structural / CAST(greatest(n_chars, 1) AS DOUBLE)",
           "structural_density")},
      {dbl(
          "(n_symbols + 2.0 * n_structural) / greatest(n_chars, 1)",
          "code_score",
      )},
      CAST(round((n_symbols + 2.0 * n_structural) / greatest(n_chars, 1)
                 + {NUDGE}, 4) > {CODE_SCORE_THRESHOLD} AS BOOLEAN) AS is_code
    FROM scored
    ORDER BY doc_id
    """


def _sentence_stats_sql(d: str) -> str:
    # E102 — sentence-grain readability profile per source: sentence
    # counts (split on [.!?]+ runs), words per sentence, and the
    # Automated Readability Index 4.71·(chars/words) +
    # 0.5·(words/sentences) − 21.43 (Senter & Smith 1967 — exactly
    # computable from counts, unlike syllable-based Flesch) — the
    # readability screen a curation pass runs next to E9's surface
    # quality and E22's Gopher rules, which both stop at the word
    # grain.  Map-only per-doc counts, one |sources| rollup.
    toks = _tok(d)
    if d == "spark":
        sents = ("size(filter(split(text, '[.!?]+'), "
                 "x -> length(trim(x)) > 0))")
        words = f"size({toks})"
    else:
        sents = ("len(list_filter(string_split_regex(text, '[.!?]+'), "
                 "x -> length(trim(x)) > 0))")
        words = f"len({toks})"
    alnum = f"length({_rx_all(d, 'text', '[^A-Za-z0-9]', '')})"
    ari = (
        "4.71 * (alnum / CAST(nullif(words, 0) AS DOUBLE))"
        " + 0.5 * (words / CAST(nullif(sents, 0) AS DOUBLE)) - 21.43"
    )
    return f"""
    WITH per_doc AS (
      SELECT
        source,
        CAST({sents} AS BIGINT) AS sents,
        CAST({words} AS BIGINT) AS words,
        CAST({alnum} AS BIGINT) AS alnum
      FROM documents
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {dbl("avg(sents)", "mean_sentences")},
      {dbl("avg(words / CAST(nullif(sents, 0) AS DOUBLE))",
           "mean_words_per_sentence")},
      {dbl("avg(alnum / CAST(nullif(words, 0) AS DOUBLE))",
           "mean_chars_per_word")},
      {dbl(f"avg({ari})", "mean_ari")},
      {dbl(f"{pct(ari, 0.9, d)}", "p90_ari")}
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """


def _char_class_profile_sql(d: str) -> str:
    # E103 — character-CLASS composition per source: digit / uppercase
    # / whitespace / alpha / symbol shares of the raw byte stream —
    # the sub-word quality screen (tables and code dumps skew digit+
    # symbol; shouting spam skews upper) that E9/E22 word-grain rules
    # can't see.  Each class count is one global regexp_replace
    # length-difference — map-only, one |sources| rollup.
    def cls(pat: str) -> str:
        return f"length(text) - length({_rx_all(d, 'text', pat, '')})"

    # whitespace must cover tabs/newlines or clean multi-line prose
    # leaks into symbol_share; '\t'-style escapes resolve to the same
    # regex in both engines (Spark unescapes the literal, DuckDB's RE2
    # interprets the backslash class)
    n_space_expr = cls("[ \t\r\n]")

    return f"""
    WITH per_doc AS (
      SELECT
        source,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST({cls("[0-9]")} AS BIGINT) AS n_digit,
        CAST({cls("[A-Z]")} AS BIGINT) AS n_upper,
        CAST({n_space_expr} AS BIGINT) AS n_space,
        CAST({cls("[A-Za-z]")} AS BIGINT) AS n_alpha
      FROM documents
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {cnt("sum(n_chars)", "total_chars")},
      {dbl("sum(n_digit) / CAST(nullif(sum(n_chars), 0) AS DOUBLE)",
           "digit_share")},
      {dbl("sum(n_upper) / CAST(nullif(sum(n_chars), 0) AS DOUBLE)",
           "upper_share")},
      {dbl("sum(n_space) / CAST(nullif(sum(n_chars), 0) AS DOUBLE)",
           "space_share")},
      {dbl("sum(n_alpha) / CAST(nullif(sum(n_chars), 0) AS DOUBLE)",
           "alpha_share")},
      {dbl(
          "sum(n_chars - n_digit - n_space - n_alpha)"
          " / CAST(nullif(sum(n_chars), 0) AS DOUBLE)",
          "symbol_share",
      )}
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """


def _url_markup_screen_sql(d: str) -> str:
    # E104 — web-residue screen per source: share of docs carrying
    # URLs, HTML-ish tags, or character entities, plus URL density —
    # the "did the extractor actually strip the boilerplate" audit a
    # CommonCrawl-style pipeline runs before E53's normalization
    # (which fixes whitespace, not markup).  Patterns are RE2/Java
    # common ground; counting is regexp_extract_all length (map-only).
    if d == "spark":
        n_urls = "size(regexp_extract_all(text, 'https?://[^ ]+', 0))"
    else:
        n_urls = "len(regexp_extract_all(text, 'https?://[^ ]+'))"
    has_tag = "CASE WHEN text RLIKE '<[a-z][^>]*>' THEN 1 ELSE 0 END" \
        if d == "spark" else \
        "CASE WHEN regexp_matches(text, '<[a-z][^>]*>') THEN 1 ELSE 0 END"
    has_ent = "CASE WHEN text RLIKE '&[a-z]+;' THEN 1 ELSE 0 END" \
        if d == "spark" else \
        "CASE WHEN regexp_matches(text, '&[a-z]+;') THEN 1 ELSE 0 END"
    return f"""
    WITH per_doc AS (
      SELECT
        source,
        CAST({n_urls} AS BIGINT) AS n_urls,
        {has_tag} AS has_tag,
        {has_ent} AS has_entity,
        CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {dbl("avg(CAST(CASE WHEN n_urls > 0 THEN 1 ELSE 0 END AS DOUBLE))",
           "url_doc_share")},
      {dbl("avg(CAST(has_tag AS DOUBLE))", "tag_doc_share")},
      {dbl("avg(CAST(has_entity AS DOUBLE))", "entity_doc_share")},
      {dbl(
          "1000.0 * sum(n_urls) / CAST(nullif(sum(n_chars), 0) AS DOUBLE)",
          "urls_per_1k_chars",
      )}
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """


def _fingerprint_collision_sql(d: str) -> str:
    # E110 — fingerprint-collision audit per source: how much
    # discriminating power does E11's 5-token PREFIX hash keep vs the
    # full content hash?  distinct-prefix / distinct-full is the
    # compression a prefix-blocked dedup pass would pay in extra
    # candidate pairs (a collision factor of 2 doubles the candidate
    # fan-in).  One scan, per-source distinct counts.
    toks = _tok(d)
    if d == "spark":
        prefix = f"concat_ws(' ', slice({toks}, 1, 5))"
    else:
        prefix = f"array_to_string(list_slice({toks}, 1, 5), ' ')"
    return f"""
    WITH hashed AS (
      SELECT
        source,
        md5(lower(text)) AS full_hash,
        md5({prefix}) AS prefix_hash
      FROM documents
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {cnt("count(DISTINCT full_hash)", "n_full_hashes")},
      {cnt("count(DISTINCT prefix_hash)", "n_prefix_hashes")},
      {dbl(
          "count(DISTINCT full_hash)"
          " / CAST(nullif(count(DISTINCT prefix_hash), 0) AS DOUBLE)",
          "prefix_collision_factor",
      )}
    FROM hashed
    GROUP BY source
    ORDER BY source
    """


QUERIES = [
    materialized_backed("tfidf_top_terms", _tfidf_parts, ("documents",)),
    sql_backed("code_like_score", _code_detect_sql, ("documents",)),
    sql_backed("lang_id", _lang_id_sql, ("documents",)),
    sql_backed("lang_confusion_matrix", _lang_confusion_sql, ("documents",)),
    sql_backed("text_quality", _text_quality_sql, ("documents",)),
    sql_backed("token_counts", _token_counts_sql, ("documents",)),
    sql_backed("doc_fingerprint", _doc_fingerprint_sql, ("documents",)),
    sql_backed("text_normalize", _text_normalize_sql, ("documents",)),
    materialized_backed("bm25_retrieval", _bm25_parts, ("documents",)),
    materialized_backed(
        "retrieval_eval_lexical", _retrieval_eval_parts, ("documents",),
    ),
    sql_backed("sentence_stats", _sentence_stats_sql, ("documents",)),
    sql_backed("char_class_profile", _char_class_profile_sql, ("documents",)),
    sql_backed("url_markup_screen", _url_markup_screen_sql, ("documents",)),
    sql_backed("fingerprint_collision_audit", _fingerprint_collision_sql,
               ("documents",)),
]
