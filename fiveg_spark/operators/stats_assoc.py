"""Statistical-association and distribution-shape operators.

The model-selection side of the reference (train.py's VAR lag choice,
feature map) implicitly assumes trends and feature/target association;
these operators surface that evidence as first-class queries, plus the
corpus-concentration diagnostics an LLM-data pipeline runs before
fixing mixture weights (a handful of mega-sources dominating a corpus
is the #1 mixing failure).

Scale notes (SURVEY §3): every query aggregates the fact table ONCE
into a tiny frame (hours × slices, or sources, or a small contingency
grid); all follow-up arithmetic runs on that reduced frame, so the
single wide-table scan/shuffle dominates and nothing here adds a
second pass over raw data.
"""

from __future__ import annotations

from fiveg_spark.operators.timeseries import _hourly_cte
from fiveg_spark.plans.registry import (NUDGE, cnt, dbl, epoch,
                                         materialized_backed, sql_backed)


# Guarded OLS fit pieces over Σ sums named (n, sx, sy, sxx, syy, sxy):
# a single-hour slice has x variance EXACTLY 0 (division by zero under
# ANSI) and a constant-throughput slice zeroes the y variance (0/0 NaN
# in r²) — degenerate fits report slope 0 / intercept = mean y / r² 0.
_OLS_DX = "(n * sxx - sx * sx)"
_OLS_DY = "(n * syy - sy * sy)"
_OLS_FIT = f"(n * sxy - sx * sy) / {_OLS_DX}"
_OLS_SLOPE = f"CASE WHEN abs({_OLS_DX}) < 1e-9 THEN 0.0 ELSE {_OLS_FIT} END"
_OLS_INTERCEPT = (
    f"CASE WHEN abs({_OLS_DX}) < 1e-9 THEN sy / n ELSE (sy - ({_OLS_FIT}) * sx) / n END"
)
_OLS_R2 = (
    f"CASE WHEN abs({_OLS_DX}) < 1e-9 OR abs({_OLS_DY}) < 1e-9 THEN 0.0 "
    f"ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy) / ({_OLS_DX} * {_OLS_DY}) END"
)


def _ols_trend_sql(d: str) -> str:
    # C44 — per-slice OLS trend of hourly throughput: slope (bps/hour),
    # intercept, and r².  Closed-form from Σx, Σy, Σxy, Σx², Σy² — the
    # same partial-sums shape a 1000-executor regression uses (map-side
    # partials, one tiny reduce).  x is hours since each slice's first
    # hour (window min over the ALREADY-hourly frame) so the sums stay
    # far from double-precision loss; y is the 4-dp-rounded hourly
    # throughput, identical in both engines by construction.
    return f"""
    {_hourly_cte(d)},
    xy AS (
      SELECT
        slice,
        ({epoch("h", d)} - min({epoch("h", d)}) OVER (PARTITION BY slice)) / 3600.0 AS x,
        throughput_bps AS y
      FROM hourly
    ),
    sums AS (
      SELECT
        slice,
        CAST(count(*) AS DOUBLE) AS n,
        sum(x) AS sx, sum(y) AS sy,
        sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM xy
      GROUP BY slice
    )
    SELECT
      slice,
      {cnt("n", "n_hours")},
      {dbl(_OLS_SLOPE, "slope_bps_per_hour")},
      {dbl(_OLS_INTERCEPT, "intercept_bps")},
      {dbl(_OLS_R2, "r2")}
    FROM sums
    ORDER BY slice
    """


def _gini_sql(d: str) -> str:
    # C45 — Gini coefficient of per-doc token mass within each source:
    # how concentrated a source's token budget is in its biggest docs.
    # Exact rank formula over ascending token counts,
    #   G = 2·Σ(i·x_i) / (n·Σx) − (n+1)/n ;
    # ties contribute the same Σ(i·x_i) under any tie order, so
    # row_number with a doc_id tiebreak is deterministic AND
    # order-insensitive.  One explode-agg to token counts (the heavy
    # part), then windows over the per-doc frame.
    from fiveg_spark.operators.text import _tok
    from fiveg_spark.plans.registry import arr_len

    return f"""
    WITH doc_tokens AS (
      SELECT doc_id, source, CAST({arr_len(_tok(d), d)} AS DOUBLE) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT
        source,
        n_tokens,
        CAST(row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS DOUBLE) AS i
      FROM doc_tokens
    )
    SELECT
      source,
      {cnt("count(*)", "n_docs")},
      {cnt("sum(CAST(n_tokens AS BIGINT))", "total_tokens")},
      {dbl(
        "2.0 * sum(i * n_tokens) / (count(*) * sum(n_tokens)) - (count(*) + 1.0) / count(*)",
        "gini",
      )}
    FROM ranked
    GROUP BY source
    ORDER BY source
    """


def _assoc_sql(d: str) -> str:
    # C46 — is event_type associated with time-of-day?  Chi-square,
    # Cramér's V, and mutual information over the (event_type ×
    # 6-hour-band) contingency grid.  One scan to the grid (≤ types×4
    # cells), then expected counts via window sums — the pre-modeling
    # feature/target association screen.  The grid is SPARSE (zero
    # cells absent): an O=0 cell contributes E to χ², and Σ_all E = N,
    # so the missing mass is N − Σ_observed E — closed form, no dense
    # type×band cross join.  Zero cells contribute 0 to MI (p·ln p → 0).
    # Cramér's V guard: a 1-type or 1-band grid has min(r−1, c−1) = 0 —
    # V is undefined (no association possible), report 0 instead of
    # dividing by zero under ANSI.
    return f"""
    WITH grid AS (
      SELECT
        event_type,
        CAST(floor(CAST(extract(hour FROM ts) AS DOUBLE) / 6.0) AS BIGINT) AS band,
        CAST(count(*) AS DOUBLE) AS o
      FROM events
      GROUP BY event_type, CAST(floor(CAST(extract(hour FROM ts) AS DOUBLE) / 6.0) AS BIGINT)
    ),
    tot AS (
      SELECT
        event_type,
        band,
        o,
        sum(o) OVER (PARTITION BY event_type) AS r_tot,
        sum(o) OVER (PARTITION BY band) AS c_tot,
        sum(o) OVER () AS n
      FROM grid
    )
    SELECT
      {cnt("count(DISTINCT event_type)", "n_types")},
      {cnt("count(DISTINCT band)", "n_bands")},
      {cnt("CAST(max(n) AS BIGINT)", "n_events")},
      {dbl(
        "sum((o - r_tot * c_tot / n) * (o - r_tot * c_tot / n) / (r_tot * c_tot / n)) "
        "+ (max(n) - sum(r_tot * c_tot / n))",
        "chi_square",
      )},
      {cnt("(count(DISTINCT event_type) - 1) * (count(DISTINCT band) - 1)", "dof")},
      {dbl(
        "CASE WHEN least(count(DISTINCT event_type) - 1, count(DISTINCT band) - 1) = 0 "
        "THEN 0.0 ELSE "
        "sqrt((sum((o - r_tot * c_tot / n) * (o - r_tot * c_tot / n) / (r_tot * c_tot / n)) "
        "+ (max(n) - sum(r_tot * c_tot / n))) "
        "/ (max(n) * least(count(DISTINCT event_type) - 1, count(DISTINCT band) - 1))) END",
        "cramers_v",
      )},
      {dbl("sum((o / n) * ln(o * n / (r_tot * c_tot)))", "mutual_info_nats")}
    FROM tot
    """


def _chunk_frame_cte(d: str) -> str:
    """THE E35 chunk-geometry frame — `chunks(doc_id, n_tokens,
    chunk_idx)` under the fixed 256-token/192-stride rule, shared by
    E35's emitter and E91's reconciliation audit (one geometry, two
    certified rows)."""
    from fiveg_spark.operators.text import _tok
    from fiveg_spark.plans.registry import arr_len

    gen = (
        "explode(sequence(0, n_chunks - 1))"
        if d == "spark"
        else "unnest(generate_series(0, n_chunks - 1))"
    )
    return f"""doc_tokens AS (
      SELECT doc_id, CAST({arr_len(_tok(d), d)} AS BIGINT) AS n_tokens
      FROM documents
    ),
    counted AS (
      SELECT
        doc_id,
        n_tokens,
        CAST(1 + CAST(ceil(greatest(CAST(n_tokens AS DOUBLE) - 256.0, 0.0) / 192.0) AS BIGINT) AS BIGINT)
          AS n_chunks
      FROM doc_tokens
    ),
    chunks AS (
      SELECT doc_id, n_tokens, {gen} AS chunk_idx
      FROM counted
    )"""


def _doc_chunks_sql(d: str) -> str:
    # E35 — RAG/pretraining chunker: fixed 256-token windows with
    # 64-token overlap (stride 192).  Chunk COUNT per doc is closed-form
    # (no loop): 1 + ceil(max(0, n−256)/192); boundaries come from one
    # sequence-explode — map-only, no shuffle at all until the final
    # ORDER BY (which production writes skip).  The last chunk clips to
    # the doc end; a short tail (< 64 tokens beyond overlap) still gets
    # its own chunk iff it extends past the previous window.
    return f"""
    WITH {_chunk_frame_cte(d)}
    SELECT
      doc_id,
      chunk_idx,
      {cnt("chunk_idx * 192", "start_tok")},
      {cnt("least(chunk_idx * 192 + 256, n_tokens)", "end_tok")},
      {cnt("least(chunk_idx * 192 + 256, n_tokens) - chunk_idx * 192", "chunk_tokens")}
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """


def _evt_tail_sql(d: str) -> str:
    # C68 — extreme-value tail fit: peaks-over-threshold GPD (the
    # standard EVT recipe for "how bad is the 1-in-1000 event" when the
    # empirical tail runs out of data).  Per event_type: threshold u =
    # p90 of value, exceedances e = value − u fit to a Generalized
    # Pareto by METHOD OF MOMENTS (Hosking & Wallis 1987):
    #
    #   ξ = ½(1 − m²/v),   σ = ½m(1 + m²/v)      (m, v = mean/var of e)
    #
    # and the p=0.001 return level  x_p = u + σ/ξ·((p/ζ_u)^−ξ − 1)
    # with the exponential (ξ→0) limit  u + σ·ln(ζ_u/p);  ζ_u = tail
    # mass.  Engine-parity discipline: m, v, ξ, σ are each ROUNDED
    # before any branch or downstream use, so both engines take the
    # same ξ=0 branch and exponentiate identical doubles; the variance
    # guard is RELATIVE (corr_safe's rule) so constant exceedances
    # degrade to the exponential fit instead of dividing by ~0.
    #
    # Scale: one scan — the p90 thresholds are a tiny per-type
    # aggregate joined back (broadcast), moments are decomposable sums.
    from fiveg_spark.plans.registry import pct

    guard = "1e-12 * greatest(m * m, 1e-300)"
    xi_raw = "0.5 * (1.0 - m * m / v)"
    sg_raw = "0.5 * m * (1.0 + m * m / v)"
    p = "0.001"
    return f"""
    WITH thr AS (
      SELECT event_type, round({pct("value", 0.90, d)} + 1e-9, 4) + 0.0 AS u,
             count(*) AS n_total
      FROM events GROUP BY event_type
    ),
    exceed AS (
      SELECT e.event_type, t.u, t.n_total, e.value - t.u AS ex
      FROM events e JOIN thr t ON t.event_type = e.event_type
      WHERE e.value > t.u
    ),
    mom AS (
      SELECT
        event_type,
        max(u) AS u,
        max(n_total) AS n_total,
        count(*) AS n_exceed,
        round(avg(ex) + 1e-9, 4) + 0.0 AS m,
        round(CASE WHEN count(*) < 2 THEN 0.0
                   ELSE (sum(ex * ex) - count(*) * avg(ex) * avg(ex))
                        / (count(*) - 1) END + 1e-9, 4) + 0.0 AS v
      FROM exceed
      GROUP BY event_type
    ),
    fit AS (
      SELECT
        event_type, u, n_total, n_exceed, m, v,
        round(CASE WHEN v <= {guard} THEN 0.0 ELSE {xi_raw} END + 1e-9, 4)
          + 0.0 AS xi,
        round(CASE WHEN v <= {guard} THEN m ELSE {sg_raw} END + 1e-9, 4)
          + 0.0 AS sigma,
        round(CAST(n_exceed AS DOUBLE) / n_total + 1e-9, 6) + 0.0 AS zeta
      FROM mom
    )
    SELECT
      event_type,
      {dbl("u", "threshold_p90")},
      {cnt("n_exceed", "n_exceed")},
      {dbl("m", "mean_excess")},
      {dbl("xi", "xi_shape")},
      {dbl("sigma", "sigma_scale")},
      {dbl(
        f"CASE WHEN xi = 0.0 THEN u + sigma * ln(zeta / {p}) "
        f"ELSE u + sigma / xi * (power({p} / zeta, -xi) - 1.0) END",
        "return_level_p001",
      )}
    FROM fit
    WHERE n_exceed >= 2
    ORDER BY event_type
    """


def _jackknife_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C72 — delete-one-BLOCK jackknife confidence interval for a
    # ratio-of-sums metric (Efron 1981; the block variant is the
    # standard error machinery for ratio metrics at data-warehouse
    # scale, where the iid bootstrap would need a resampling pass the
    # fact table can't afford): metric = mean value per event_type as
    # sum(value)/count, blocks = days.  Leave-one-day-out replicates
    #   R_(i) = (S − s_i) / (N − n_i),
    #   se² = (B − 1) · var_pop(R_(i)),
    # which is robust to within-day correlation that the naive
    # sd/sqrt(n) interval ignores — the honest CI for clustered events.
    #
    # Scale: ONE fact scan builds the per-(type, day) partials; every
    # later stage is |types|·|days| arithmetic.  Emitted se/CI values
    # hash-certify exactly (ratio arithmetic on identical doubles;
    # var_pop's summation-order noise is absorbed by the edge rounding).
    # Single-day types have no replicates -> se pinned 0 with a flag.
    # r13 opt: the per-(type, day) partial frame is MATERIALIZED — the
    # tail walks it via tot (2×: loo join + final) and loo, and Spark
    # inlines CTEs, so the fact scan ran 3× (ledger: 3 file scans for a
    # 1-table query).  One fact pass; everything after is |types|·|days|.
    daily_sql = """
      SELECT
        event_type,
        date_trunc('day', ts) AS day,
        sum(value) AS s,
        count(*) AS n
      FROM events
      WHERE value IS NOT NULL
      GROUP BY event_type, date_trunc('day', ts)
    """
    tail = f"""
    WITH daily AS (
      SELECT * FROM _mz_jk_daily
    ),
    tot AS (
      SELECT event_type, sum(s) AS st, sum(n) AS nt, count(*) AS b
      FROM daily GROUP BY event_type
    ),
    loo AS (
      SELECT
        d.event_type,
        t.b,
        t.st / t.nt AS ratio,
        (t.st - d.s) / (t.nt - d.n) AS r_i
      FROM daily d
      JOIN tot t ON t.event_type = d.event_type
      WHERE t.nt > d.n
    ),
    jk AS (
      SELECT
        event_type,
        max(b) AS b,
        max(ratio) AS ratio,
        CASE WHEN count(*) >= 2
             THEN sqrt((max(b) - 1.0) * var_pop(r_i))
             ELSE 0.0 END AS se
      FROM loo GROUP BY event_type
    )
    SELECT
      t.event_type,
      {cnt("t.b", "n_days")},
      {cnt("t.nt", "n_events")},
      {dbl("t.st / t.nt", "ratio")},
      {dbl("coalesce(j.se, 0.0)", "jk_se")},
      {dbl("t.st / t.nt - 1.96 * coalesce(j.se, 0.0)", "ci_lo")},
      {dbl("t.st / t.nt + 1.96 * coalesce(j.se, 0.0)", "ci_hi")},
      CAST(t.b >= 2 AND j.se IS NOT NULL AS BOOLEAN) AS se_defined
    FROM tot t LEFT JOIN jk j ON j.event_type = t.event_type
    ORDER BY t.event_type
    """
    return [("_mz_jk_daily", daily_sql)], tail


ANOVA_F_CRIT = 3.0  # F(df1=2, df2→∞) at alpha = 0.05


def _anova_sql(d: str) -> str:
    # C77 — one-way ANOVA across slices on the hourly throughput
    # series: do the slice means differ beyond within-slice noise?
    # The omnibus companion to D33's pairwise Mann-Whitney — MW tests
    # ONE pair's location, ANOVA tests ALL groups in one F statistic
    # and eta² reports the effect size (share of variance explained by
    # slice membership), the go/no-go evidence for slice-conditioned
    # models (per-slice VAR vs pooled, ref train.py fits per-slice).
    #
    #   SSB = Σ n_i (m_i − m̄)²,  SSW = Σ (Σx² − (Σx)²/n_i),
    #   F = (SSB/(k−1)) / (SSW/(N−k)),  η² = SSB / (SSB + SSW)
    #
    # Decomposable Σ/Σ² sums per group → one grouped agg on the hourly
    # rollup + one 1-row reduction; degenerate guards: k < 2 or
    # N ≤ k or SSW = 0 report F = 0 / not significant.  The verdict
    # compares the ROUNDED F against F_crit(2, ∞) = {ANOVA_F_CRIT}.
    return f"""
    {_hourly_cte(d)},
    grp AS (
      SELECT
        slice,
        count(*) AS n_i,
        sum(throughput_bps) AS s_i,
        sum(throughput_bps * throughput_bps) AS ss_i
      FROM hourly
      GROUP BY slice
    ),
    grand AS (
      SELECT sum(s_i) / sum(n_i) AS gm FROM grp
    ),
    tot AS (
      SELECT
        count(*) AS k,
        sum(g.n_i) AS n,
        sum(g.ss_i - g.s_i * g.s_i / g.n_i) AS ssw,
        sum(g.n_i * (g.s_i / g.n_i - gr.gm) * (g.s_i / g.n_i - gr.gm)) AS ssb
      FROM grp g CROSS JOIN grand gr
    )
    SELECT
      {cnt("k", "k_groups")},
      {cnt("n", "n_hours")},
      {dbl("ssb", "ss_between")},
      {dbl("ssw", "ss_within")},
      {dbl(
          "CASE WHEN k < 2 OR n <= k OR ssw <= 0 THEN 0.0"
          " ELSE (ssb / (k - 1)) / (ssw / (n - k)) END",
          "f_stat",
      )},
      {dbl(
          "CASE WHEN ssb + ssw <= 0 THEN 0.0 ELSE ssb / (ssb + ssw) END",
          "eta_sq",
      )},
      CAST(CASE WHEN k < 2 OR n <= k OR ssw <= 0 THEN FALSE
                ELSE round((ssb / (k - 1)) / (ssw / (n - k)) + 1e-9, 4)
                     > {ANOVA_F_CRIT} END AS BOOLEAN) AS significant
    FROM tot
    """


def _elasticity_sql(d: str) -> str:
    # C103 — discount→quantity elasticity screen per part type: the
    # closed-form OLS of l_quantity on l_discount (does discounting
    # move volume, and for which product family?) plus r² — the
    # pricing-team association readout next to C44's temporal trend.
    # Same partial-sums shape as C44 (map-side Σx/Σy/Σxy partials, one
    # |types|-row reduce — the distributed-regression layout); x is the
    # raw discount (11 exact literals, engine-identical), y the integer
    # quantity, so the sums stay far from precision loss.  Mean
    # quantities at zero/max discount ride alongside as the model-free
    # contrast witness.
    return f"""
    WITH xy AS (
      SELECT
        p.p_type AS part_type,
        l.l_discount AS x,
        CAST(l.l_quantity AS DOUBLE) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    sums AS (
      SELECT
        part_type,
        CAST(count(*) AS DOUBLE) AS n,
        sum(x) AS sx, sum(y) AS sy,
        sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy,
        avg(CASE WHEN x = 0.0 THEN y END) AS qty_at_zero,
        avg(CASE WHEN x >= 0.09 THEN y END) AS qty_at_max
      FROM xy
      GROUP BY part_type
    )
    SELECT
      part_type,
      {cnt("n", "n_lineitems")},
      {dbl(_OLS_SLOPE, "qty_per_discount_unit")},
      {dbl(_OLS_INTERCEPT, "qty_at_no_discount_fit")},
      {dbl(_OLS_R2, "r2")},
      {dbl("qty_at_zero", "qty_at_zero_mean")},
      {dbl("qty_at_max", "qty_at_max_mean")}
    FROM sums
    ORDER BY part_type
    """


def _chunk_audit_sql(d: str) -> str:
    # E91 — chunker RECONCILIATION audit: per doc, E35's emitted
    # geometry re-derived and certified against three identities —
    # coverage (min start = 0 and max end = n_tokens: no token left
    # out), contiguity (every chunk starts inside its predecessor:
    # no gap), and the token-conservation equation Σ widths = n_tokens
    # + overlap.  The pre-flight a training-data pipeline runs before
    # paying GPU time on chunks: a chunker that drops or double-counts
    # tokens poisons loss accounting silently.  Shares E35's geometry
    # frame VERBATIM (_chunk_frame_cte — one geometry, two certified
    # rows).
    #
    # Scale: map-only explode + one per-doc agg (doc_id shuffle).
    return f"""
    WITH {_chunk_frame_cte(d)},
    widths AS (
      SELECT
        doc_id, n_tokens, chunk_idx,
        chunk_idx * 192 AS start_tok,
        least(chunk_idx * 192 + 256, n_tokens) AS end_tok,
        lag(least(chunk_idx * 192 + 256, n_tokens))
          OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS prev_end
      FROM chunks
    )
    SELECT
      doc_id,
      {cnt("max(n_tokens)", "n_tokens")},
      {cnt("count(*)", "n_chunks")},
      {cnt("sum(end_tok - start_tok)", "total_chunk_tokens")},
      {cnt("sum(end_tok - start_tok) - max(n_tokens)", "overlap_tokens")},
      {dbl(
          "(sum(end_tok - start_tok) - max(n_tokens))"
          " / CAST(sum(end_tok - start_tok) AS DOUBLE)",
          "overlap_ratio",
      )},
      (min(start_tok) = 0 AND max(end_tok) = max(n_tokens)) AS covered_ok,
      (sum(CASE WHEN prev_end IS NOT NULL AND start_tok > prev_end
                THEN 1 ELSE 0 END) = 0) AS contiguous_ok
    FROM widths
    GROUP BY doc_id
    """


def _priority_anova_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C112 — does o_orderpriority actually move shipping?  One-way
    # ANOVA of the order→ship latency (C82's convention) across the
    # five priority classes — C77's F machinery pointed at the ops
    # question behind C97's backlog buckets: a non-significant F here
    # means the priority field is decorative and every SLA built on it
    # is theater.  Per-priority mean rides alongside the grand F so
    # the direction is readable in-row.
    #
    # Scale: one lineitem⋈orders pass (broadcast-able orders columns),
    # one 5-group Σ/Σ² agg — the distributed-ANOVA layout of C77.
    #
    # r13 opt: the 5-row Σ/Σ² frame is MATERIALIZED — the tail
    # references it three times (grand mean, the pooled F sums, and the
    # per-priority output row), and Spark inlines CTEs, so the full
    # lineitem⋈orders pass ran 3× (the ledger showed 6 file scans for
    # a 2-table query).  One fact pass, three reads of 5 rows.
    lat = f"(({epoch('l.l_shipdate', d)} - {epoch('o.o_orderdate', d)}) / 86400.0)"
    grp_sql = f"""
      SELECT priority,
        count(*) AS n_i,
        sum(lat) AS s_i,
        sum(lat * lat) AS ss_i
      FROM (
        SELECT o.o_orderpriority AS priority, {lat} AS lat
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      ) obs GROUP BY priority
    """
    tail_prefix = f"""
    WITH grp AS (
      SELECT * FROM _mz_panova_grp
    ),
    grand AS (
      SELECT sum(s_i) / sum(n_i) AS gm FROM grp
    ),
    tot AS (
      SELECT
        count(*) AS k,
        sum(g.n_i) AS n,
        sum(g.ss_i - g.s_i * g.s_i / g.n_i) AS ssw,
        sum(g.n_i * (g.s_i / g.n_i - gr.gm) * (g.s_i / g.n_i - gr.gm)) AS ssb
      FROM grp g CROSS JOIN grand gr
    )
    SELECT
      g.priority,
      {cnt("g.n_i", "n_lineitems")},
      {dbl("g.s_i / g.n_i", "mean_latency_days")},
      {dbl("t.ssb", "ss_between")},
      {dbl("t.ssw", "ss_within")},
      {dbl(
          "CASE WHEN t.k < 2 OR t.n <= t.k OR t.ssw <= 0 THEN 0.0"
          " ELSE (t.ssb / (t.k - 1)) / (t.ssw / (t.n - t.k)) END",
          "f_stat",
      )},
      CAST(CASE WHEN t.k < 2 OR t.n <= t.k OR t.ssw <= 0 THEN FALSE
                ELSE round((t.ssb / (t.k - 1)) / (t.ssw / (t.n - t.k))
                           + {NUDGE}, 4) > 2.37 END AS BOOLEAN)
        AS priority_matters
    FROM grp g CROSS JOIN tot t
    ORDER BY g.priority
    """
    return [("_mz_panova_grp", grp_sql)], tail_prefix


def _lead_time_trend_sql(d: str) -> str:
    # C105 — supplier lead-time TREND per supplier nation: monthly mean
    # order→ship latency (C82's latency convention) regressed on the
    # month index with the shared closed-form OLS — the "is this
    # nation's supply chain getting slower" screen that turns C82's
    # static distribution into a direction.  y is the 4-dp-rounded
    # monthly mean (parity discipline), x months since each nation's
    # first month.
    #
    # Scale: one lineitem⋈orders⋈supplier⋈nation pass (broadcast
    # dims) → (nation, month) rollup → |nations| regression rows.
    lat = f"(({epoch('l.l_shipdate', d)} - {epoch('o.o_orderdate', d)}) / 86400.0)"
    month = f"CAST(floor({epoch('o.o_orderdate', d)} / 86400.0 / 30.4375) AS BIGINT)"
    return f"""
    WITH monthly AS (
      SELECT
        n.n_name AS nation,
        {month} AS month_idx,
        round(avg({lat}) + {NUDGE}, 4) AS mean_lat,
        count(*) AS n_items
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY n.n_name, {month}
    ),
    xy AS (
      SELECT
        nation,
        CAST(month_idx - min(month_idx) OVER (PARTITION BY nation) AS DOUBLE)
          AS x,
        mean_lat AS y,
        n_items
      FROM monthly
    ),
    sums AS (
      SELECT
        nation,
        CAST(count(*) AS DOUBLE) AS n,
        sum(n_items) AS total_items,
        sum(x) AS sx, sum(y) AS sy,
        sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM xy
      GROUP BY nation
    )
    SELECT
      nation,
      {cnt("n", "n_months")},
      {cnt("total_items", "n_lineitems")},
      {dbl("sy / n", "mean_monthly_latency_days")},
      {dbl(_OLS_SLOPE, "latency_trend_days_per_month")},
      {dbl(_OLS_R2, "r2")},
      (round({_OLS_SLOPE} + {NUDGE}, 4) > 0.05) AS degrading
    FROM sums
    ORDER BY nation
    """


def _size_price_corr_sql(d: str) -> str:
    # C130 — size→price association per part type: the catalog-design
    # screen (does bigger cost more, and how linearly) — correlation
    # via the shared corr_safe decomposable-sums form (native corr is
    # banned: ANSI DIVIDE_BY_ZERO on constant series, r5 lesson), plus
    # the OLS slope in price-per-size-unit.  One |types|-row agg.
    from fiveg_spark.plans.registry import corr_safe

    corr = corr_safe("CAST(p_size AS DOUBLE)", "p_retailprice")
    n = "CAST(count(*) AS DOUBLE)"
    sx = "sum(CAST(p_size AS DOUBLE))"
    sy = "sum(p_retailprice)"
    sxx = "sum(CAST(p_size AS DOUBLE) * CAST(p_size AS DOUBLE))"
    sxy = "sum(CAST(p_size AS DOUBLE) * p_retailprice)"
    slope = (f"CASE WHEN {n} * {sxx} - {sx} * {sx} > 1e-12 THEN "
             f"({n} * {sxy} - {sx} * {sy}) / ({n} * {sxx} - {sx} * {sx})"
             " ELSE 0.0 END")
    return f"""
    SELECT
      p_type,
      {cnt("count(*)", "n_parts")},
      {dbl("avg(CAST(p_size AS DOUBLE))", "mean_size")},
      {dbl("avg(p_retailprice)", "mean_price")},
      {dbl(corr, "size_price_corr")},
      {dbl(slope, "price_per_size_unit")}
    FROM part
    GROUP BY p_type
    ORDER BY p_type
    """


QUERIES = [
    sql_backed("size_price_correlation", _size_price_corr_sql, ("part",)),
    sql_backed("anova_slice_means", _anova_sql, ("events",)),
    sql_backed("discount_qty_elasticity", _elasticity_sql, ("lineitem", "part")),
    sql_backed("chunk_overlap_audit", _chunk_audit_sql, ("documents",)),
    sql_backed("supplier_lead_time_trend", _lead_time_trend_sql,
               ("lineitem", "orders", "supplier", "nation")),
    materialized_backed("priority_latency_anova", _priority_anova_parts,
                        ("lineitem", "orders")),
    materialized_backed("jackknife_ratio_ci", _jackknife_parts, ("events",)),
    sql_backed("ols_trend_per_slice", _ols_trend_sql, ("events",)),
    sql_backed("gini_token_concentration", _gini_sql, ("documents",)),
    sql_backed("event_time_association", _assoc_sql, ("events",)),
    sql_backed("doc_chunks", _doc_chunks_sql, ("documents",)),
    sql_backed("evt_tail_fit", _evt_tail_sql, ("events",)),
]
