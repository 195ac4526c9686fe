"""Mergeable-summary statistics: histogram quantile rollups and
sweep-line concurrency.

C49 is the SQL-expressible member of the sketch family (next to the
HLL and Misra-Gries rows-only ops): a fixed-bin histogram is a FULLY
mergeable quantile summary — daily bucket counts sum upward to any
coarser grain with zero rescan, and quantile estimates carry a
provable ≤ bin-width error.  Because build+merge+estimate are plain
aggregation arithmetic, the DuckDB oracle checks every step exactly.

C50 is the classic interval sweep-line: concurrency at time t =
running sum of +1/−1 endpoint events — one window pass, no
interval×interval join.
"""

from __future__ import annotations

from fiveg_spark.plans.registry import NUDGE, cnt, dbl, epoch, materialized_backed, sql_backed

BIN_W = 10.0
N_BINS = 60  # values clamp into [0, 600)


def _hist_quantile_sql(d: str) -> str:
    # C49 — daily histogram sketches → merged quantile estimates.
    # daily: GROUP BY (day, bucket) — the persisted rollup-table unit;
    # merged: GROUP BY bucket summing daily counts (NO rescan of raw);
    # estimate: cumulative-count walk with linear interpolation inside
    # the target bucket; exact percentiles ride along so the contract
    # row itself shows |est − exact| ≤ BIN_W.
    pct = "percentile" if d == "spark" else "quantile_cont"
    cast_v = "CAST(value AS DOUBLE)" if d == "spark" else "CAST(value AS DOUBLE)"
    return f"""
    WITH daily AS (
      SELECT
        date_trunc('day', ts) AS day,
        least(CAST(floor({cast_v} / {BIN_W}) AS BIGINT), {N_BINS - 1}) AS bucket,
        CAST(count(*) AS BIGINT) AS c
      FROM events
      GROUP BY date_trunc('day', ts),
               least(CAST(floor({cast_v} / {BIN_W}) AS BIGINT), {N_BINS - 1})
    ),
    merged AS (
      SELECT bucket, CAST(sum(c) AS DOUBLE) AS c
      FROM daily
      GROUP BY bucket
    ),
    walk AS (
      SELECT
        bucket,
        c,
        sum(c) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(c) OVER () AS n
      FROM merged
    ),
    targets(p) AS (VALUES (0.5), (0.9), (0.99)),
    est AS (
      SELECT
        t.p,
        min(w.bucket * {BIN_W} + {BIN_W} * (t.p * w.n - (w.cum - w.c)) / w.c) AS q_est
      FROM targets t
      JOIN walk w
        ON w.cum >= t.p * w.n AND (w.cum - w.c) < t.p * w.n
      GROUP BY t.p
    ),
    -- all three exact percentiles from ONE events aggregation (a
    -- UNION-ALL-per-percentile re-scans events per branch under
    -- Spark's CTE inlining), unpivoted via the targets frame
    exact_wide AS (
      SELECT
        {pct}({cast_v}, 0.5) AS q50,
        {pct}({cast_v}, 0.9) AS q90,
        {pct}({cast_v}, 0.99) AS q99
      FROM events
    ),
    exact AS (
      SELECT
        CAST(t.p AS DOUBLE) AS p,
        CASE t.p WHEN 0.5 THEN w.q50 WHEN 0.9 THEN w.q90 ELSE w.q99 END AS q_exact
      FROM targets t CROSS JOIN exact_wide w
    )
    SELECT
      CAST(e.p AS DOUBLE) AS p,
      {dbl("est.q_est", "q_est")},
      {dbl("e.q_exact", "q_exact")},
      {dbl("abs(est.q_est - e.q_exact)", "abs_err")}
    FROM est JOIN exact e ON est.p = e.p
    ORDER BY p
    """


def _concurrency_sql(d: str) -> str:
    # C50 — peak concurrent active users per hour, sweep-line form:
    # reduce each (user, day) to one [first_seen, last_seen] interval,
    # explode into +1/−1 endpoint events, running-sum in event-time
    # order (ties: starts before ends at the same instant — matches the
    # closed-interval convention), then max per hour.  One interval agg
    # + one global-ordered window over the (small) endpoint set; an
    # interval×interval overlap join would be quadratic in peak load.
    return f"""
    WITH intervals AS (
      SELECT
        user_id,
        date_trunc('day', ts) AS day,
        min(ts) AS t_start,
        max(ts) AS t_end
      FROM events
      GROUP BY user_id, date_trunc('day', ts)
    ),
    endpoints AS (
      SELECT t_start AS t, 1 AS delta FROM intervals
      UNION ALL
      SELECT t_end AS t, -1 AS delta FROM intervals
    ),
    swept AS (
      -- intervals never span days (built per (user, day)), so the sweep
      -- legally restarts each day: PARTITION BY day keeps the window
      -- parallel at scale instead of one global single-partition sort.
      SELECT
        t,
        sum(delta) OVER (PARTITION BY date_trunc('day', t)
                         ORDER BY t, delta DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      FROM endpoints
    )
    SELECT
      date_trunc('hour', t) AS hour,
      {cnt("max(live)", "peak_concurrent")}
    FROM swept
    GROUP BY date_trunc('hour', t)
    ORDER BY hour
    """


CM_DEPTH = 4
CM_WIDTH = 1024


def _countmin_sql(d: str) -> str:
    # E39 — Count-Min sketch, entirely in SQL so the oracle checks the
    # BUILD, the MERGE-compatible layout, and the estimates exactly:
    # d×w counters where h_r(term) = md5('cm<r>#'||term) digits → int
    # mod w (engine-identical arithmetic, same trick as the weighted
    # sampler); point estimate = min over the d rows.  Build is ONE
    # explode + one hash-agg on (r, bucket); the sketch (4096 cells)
    # broadcasts to the probe join.  Guarantee est ≥ exact always,
    # overestimate ≤ εN w.h.p. — the in-row exact column shows it.
    from fiveg_spark.operators.text import _tok

    explode = (
        f"SELECT explode({_tok(d)}) AS term FROM documents"
        if d == "spark"
        else f"SELECT unnest({_tok(d)}) AS term FROM documents"
    )
    h8 = "substring(md5(concat('cm', CAST(r AS STRING), '#', term)), 1, 8)"
    digits = " + ".join(
        f"(instr('0123456789abcdef', substring({h8}, {i}, 1)) - 1) * {16 ** (8 - i)}.0"
        for i in range(1, 9)
    )
    hash_bucket = f"CAST(CAST(({digits}) AS BIGINT) % {CM_WIDTH} AS BIGINT)"
    rows = ", ".join(f"({r})" for r in range(CM_DEPTH))
    return f"""
    WITH toks AS ({explode}),
    rows_r(r) AS (VALUES {rows}),
    hashed AS (
      SELECT term, r, {hash_bucket} AS bucket
      FROM toks CROSS JOIN rows_r
    ),
    sketch AS (
      SELECT r, bucket, CAST(count(*) AS BIGINT) AS c
      FROM hashed
      GROUP BY r, bucket
    ),
    exact AS (
      SELECT term, CAST(count(*) AS BIGINT) AS exact_count
      FROM toks
      GROUP BY term
      ORDER BY exact_count DESC, term
      LIMIT 10
    ),
    probes AS (
      SELECT e.term, e.exact_count, {hash_bucket} AS bucket, r
      FROM exact e CROSS JOIN rows_r
    )
    SELECT
      p.term,
      p.exact_count,
      {cnt("min(s.c)", "cm_estimate")},
      {cnt("min(s.c) - p.exact_count", "overestimate")}
    FROM probes p
    JOIN sketch s ON p.r = s.r AND p.bucket = s.bucket
    GROUP BY p.term, p.exact_count
    ORDER BY p.exact_count DESC, p.term
    """


KMV_K = 16


def _kmv_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C56 — KMV (k-minimum-values) distinct sketch, entirely in SQL so
    # the oracle checks build, MERGE, and estimates exactly.  Per day:
    # keep the k smallest md5-hash fractions of user_id (a k-row
    # sketch); estimate distinct = (k−1)/frac_k (Bar-Yossef 2002).
    # Merge: the global k-min set is a subset of the union of per-day
    # k-min sets (any globally-k-smallest value is day-k-smallest in
    # its own day), so month-level distincts come from k·days sketch
    # rows with NO rescan of raw events — the same rollup contract as
    # the histogram/HLL/CM rows.  Days with < k distinct users fall
    # back to exact (the sketch IS the value set).  md5-digit → frac
    # arithmetic is engine-identical (same trick as Count-Min / the
    # weighted sampler); exact distincts ride in-row as the error
    # witness.
    h8 = "substring(md5(concat('kmv#', CAST(user_id AS STRING))), 1, 8)"
    digits = " + ".join(
        f"(instr('0123456789abcdef', substring({h8}, {i}, 1)) - 1) * {16 ** (8 - i)}.0"
        for i in range(1, 9)
    )
    frac = f"(({digits}) / 4294967296.0)"
    k = KMV_K
    # materialized_backed (r6 plan audit): day_sketch feeds BOTH the
    # per-day rows and the merged global row — inlined, Spark re-ran
    # the events scan per reference (3 scans); the k-rows-per-day
    # sketch materializes once.  The global exact witness keeps its own
    # (inherent) scan.
    sketch_sql = f"""
      WITH day_users AS (
        SELECT DISTINCT
          CAST(CAST(ts AS DATE) AS STRING) AS day,
          user_id
        FROM events
      ),
      hashed AS (
        SELECT day, user_id, {frac} AS frac FROM day_users
      ),
      ranked AS (
        SELECT
          day,
          frac,
          row_number() OVER (PARTITION BY day ORDER BY frac, user_id) AS rn,
          count(*) OVER (PARTITION BY day) AS n_day
        FROM hashed
      )
      SELECT day, frac, rn, n_day FROM ranked WHERE rn <= {k}
    """
    tail = f"""
    WITH day_rows AS (
      SELECT
        day AS grain,
        CASE WHEN max(n_day) >= {k}
             THEN ({k} - 1) / max(CASE WHEN rn = {k} THEN frac END)
             ELSE CAST(max(n_day) AS DOUBLE) END AS est,
        CAST(max(n_day) AS BIGINT) AS exact_distinct
      FROM _mz_kmv_day_sketch
      GROUP BY day
    ),
    merged_ranked AS (
      SELECT frac, row_number() OVER (ORDER BY frac) AS rn
      FROM (SELECT DISTINCT frac FROM _mz_kmv_day_sketch) u
    ),
    global_exact AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events
    ),
    merged_row AS (
      SELECT
        'ALL' AS grain,
        CASE WHEN max(m.rn) >= {k}
             THEN ({k} - 1) / max(CASE WHEN m.rn = {k} THEN m.frac END)
             ELSE CAST(max(m.rn) AS DOUBLE) END AS est,
        max(g.n) AS exact_distinct
      FROM merged_ranked m CROSS JOIN global_exact g
    ),
    unioned AS (
      SELECT * FROM day_rows UNION ALL SELECT * FROM merged_row
    )
    SELECT
      grain,
      {dbl("est", "kmv_estimate")},
      exact_distinct,
      {dbl(
        "abs(est - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE)",
        "rel_err",
      )}
    FROM unioned
    ORDER BY grain
    """
    return [("_mz_kmv_day_sketch", sketch_sql)], tail


KMV_SETOP_K = 64  # set-op sketches need lower variance than C56's k=16


def _kmv_set_ops_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C65 — KMV SET-OPERATION estimation (Beyer et al. 2007, "On
    # Synopses for Distinct-Value Estimation Under Multiset
    # Operations"): for every event_type pair, estimate |A∪B|, |A∩B|
    # and Jaccard from the per-type k-min sketches ALONE.  The k
    # smallest of S_A ∪ S_B is exactly the k-min sketch of A∪B, and a
    # union-sketch member that belongs to A necessarily appears in S_A
    # (k-smallest of the union ⊆ k-smallest of its own set), so
    #   ρ̂ = |U_k ∩ S_A ∩ S_B| / k,   |A∩B| ≈ ρ̂ · est(|A∪B|).
    # This is the "how many users do BOTH X and Y" question answered
    # from k·|types| sketch rows with no pair-wise rescan — the
    # cross-set companion to C56's temporal rollup.
    #
    # Certification: exact witnesses ride in-row (computed from the
    # SAME materialized distinct frame, so the whole query still scans
    # events once) plus theorem-level tolerance booleans — the additive
    # ε|A∪B| intersection bound and a 3σ-padded Jaccard band at k=64.
    # All estimate VALUES also hash-certify; the booleans witness
    # truth, the values witness engine parity.
    #
    # Scale: the distinct (type, user) frame materializes once (one
    # shuffle); sketches are a per-type window rank over it (types are
    # few → tiny); every later stage touches only sketch/pair rows
    # (≤ k·|types|²), i.e. broadcast-sized at any corpus size.  The
    # exact witness self-join keys on user_id — high-cardinality.
    k = KMV_SETOP_K
    h8 = "substring(md5(concat('kmvso#', CAST(user_id AS STRING))), 1, 8)"
    digits = " + ".join(
        f"(instr('0123456789abcdef', substring({h8}, {i}, 1)) - 1) * {16 ** (8 - i)}.0"
        for i in range(1, 9)
    )
    frac = f"(({digits}) / 4294967296.0)"
    tu = """
      SELECT DISTINCT event_type, user_id FROM events
    """
    sketch = f"""
      SELECT event_type, frac, n_type FROM (
        SELECT
          event_type,
          {frac} AS frac,
          row_number() OVER (PARTITION BY event_type ORDER BY {frac}, user_id) AS rn,
          count(*) OVER (PARTITION BY event_type) AS n_type
        FROM _mz_kmvso_tu
      ) r WHERE rn <= {k}
    """
    tail = f"""
    WITH types AS (
      SELECT event_type, max(n_type) AS n FROM _mz_kmvso_sketch GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS ta, a.n AS na, b.event_type AS tb, b.n AS nb
      FROM types a JOIN types b ON a.event_type < b.event_type
    ),
    exact_inter AS (
      SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS ni
      FROM _mz_kmvso_tu a
      JOIN _mz_kmvso_tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    ),
    union_rows AS (
      SELECT
        p.ta,
        p.tb,
        s.frac,
        max(CASE WHEN s.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
        max(CASE WHEN s.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p
      JOIN _mz_kmvso_sketch s ON s.event_type IN (p.ta, p.tb)
      GROUP BY p.ta, p.tb, s.frac
    ),
    union_k AS (
      SELECT * FROM (
        SELECT
          ta, tb, frac, in_a, in_b,
          row_number() OVER (PARTITION BY ta, tb ORDER BY frac) AS rn
        FROM union_rows
      ) r WHERE rn <= {k}
    ),
    est AS (
      SELECT
        ta,
        tb,
        count(*) AS k_used,
        CASE WHEN count(*) >= {k}
             THEN ({k} - 1) / max(CASE WHEN rn = {k} THEN frac END)
             ELSE CAST(count(*) AS DOUBLE) END AS est_union,
        sum(in_a * in_b) AS k_inter
      FROM union_k
      GROUP BY ta, tb
    )
    SELECT
      p.ta AS type_a,
      p.tb AS type_b,
      {cnt("p.na + p.nb - coalesce(x.ni, 0)", "exact_union")},
      {cnt("coalesce(x.ni, 0)", "exact_inter")},
      {dbl("e.est_union", "est_union")},
      {dbl("e.k_inter / CAST(e.k_used AS DOUBLE) * e.est_union", "est_inter")},
      {dbl("e.k_inter / CAST(e.k_used AS DOUBLE)", "est_jaccard")},
      (abs(e.est_union - (p.na + p.nb - coalesce(x.ni, 0)))
         <= 0.4 * (p.na + p.nb - coalesce(x.ni, 0)) + 1.0) AS union_ok,
      (abs(e.k_inter / CAST(e.k_used AS DOUBLE) * e.est_union
           - coalesce(x.ni, 0))
         <= 0.3 * (p.na + p.nb - coalesce(x.ni, 0)) + 1.0) AS inter_ok,
      (abs(e.k_inter / CAST(e.k_used AS DOUBLE)
           - coalesce(x.ni, 0) / CAST(p.na + p.nb - coalesce(x.ni, 0) AS DOUBLE))
         <= 0.25) AS jaccard_ok
    FROM pairs p
    JOIN est e ON e.ta = p.ta AND e.tb = p.tb
    LEFT JOIN exact_inter x ON x.ta = p.ta AND x.tb = p.tb
    ORDER BY p.ta, p.tb
    """
    return [("_mz_kmvso_tu", tu), ("_mz_kmvso_sketch", sketch)], tail


THETA_K = 128  # per-source retained-sample budget (RSE ~ 1/sqrt(k-1) ~ 9%)


def _theta_overlap_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C69 — THETA-SKETCH corpus-overlap matrix over documents (Dasgupta
    # et al. 2016, "Theta-Sketch Framework"; the KMV generalization the
    # r6 verdict asked for): for every SOURCE pair, estimate the shingle
    # union, intersection, per-side difference and Jaccard from per-
    # source (theta, sample) sketches alone.  This answers "how much
    # content do corpus A and corpus B share" at 100 TB, where the exact
    # distinct-shingle join cannot fit — the KMV family (C56/C65) covers
    # events/users; this is the documents/content twin, and the theta
    # formulation adds what KMV's rank-k union trick can't express
    # directly: the A\B difference estimate.
    #
    # Sketch per source: theta = k-th smallest hash fraction (1.0 when
    # under-filled), sample = fractions < theta.  Pair ops at
    # theta_ab = least(theta_a, theta_b): every sample member below
    # theta_ab is a uniform inclusion-probability-theta_ab draw from its
    # set, so |union|/|inter|/|diff| estimates are the filtered member
    # counts divided by theta_ab, and Jaccard is the member-count ratio.
    #
    # Certification: exact witnesses (per-source distinct counts ride on
    # the sketch window; pairwise exact intersections self-join the SAME
    # materialized distinct frame, so the corpus still scans once) plus
    # theorem-level tolerance booleans at k=128.  Witnesses are
    # contract-scale only — a production caller keeps the k·|sources|
    # sketch rows and never rescans facts.
    #
    # Scale: the distinct (source, frac) frame materializes once (one
    # explode + one dedup shuffle); sketches are a per-source window
    # rank (|sources| tiny); every pair stage touches <= k·|sources|²
    # broadcast-sized rows.
    from fiveg_spark.operators.dedup import shingled_scan

    h8 = "substring(md5(concat('th#', shingle)), 1, 8)"
    # INTEGER digit arithmetic, ONE exact dyadic division at the end:
    # a `* 268435456.0` literal is DECIMAL in Spark (not DOUBLE), and
    # the resulting DECIMAL(38,10) frac truncates at 1e-10 — enough to
    # flip a 4-decimal rounding boundary against DuckDB's exact double.
    # BIGINT sums are exact in both engines; /2^32 is exact in binary.
    # (Measured r8: a single conv(h8,16,10) is ~15% SLOWER than this 8-
    # term expansion — codegen's subexpression elimination computes the
    # md5 once either way, and conv's radix parse loses to 8 instr ops.)
    digits = " + ".join(
        f"CAST(instr('0123456789abcdef', substring({h8}, {i}, 1)) - 1 AS BIGINT)"
        f" * CAST({16 ** (8 - i)} AS BIGINT)"
        for i in range(1, 9)
    )
    frac = f"(CAST({digits} AS DOUBLE) / 4294967296.0)"
    k = THETA_K
    # (r13: an explicit REPARTITION spread between the inner distinct
    # and the md5 projection was A/B-measured SLOWER here — the digit
    # arithmetic over the already-deduped rows is too cheap to pay an
    # extra exchange for, unlike the chunk-sigs shingle+md5 explode.)
    spread = shingled_scan(d, "source", distinct=True)
    # DISTINCT (source, shingle) BEFORE hashing (r8 measurement: ~12%
    # faster at sf0.1 — the corpus has ~10× more shingle occurrences
    # than distinct shingles, and the md5+digit arithmetic is the
    # dominant cost, so dedup first pays 10× less hash work for one
    # partial-agg-compacted shuffle of the strings).  The outer
    # DISTINCT on frac stays: two distinct shingles colliding to one
    # 32-bit frac must count once in the sketch.
    # ONE materialized frame (r13 optimization, guide §2.4): the old
    # shape checkpointed sf (distinct fracs) AND a separate rank-window
    # sketch over it — two eager jobs.  The rank/count windows plus the
    # per-source theta (a second window over the SAME source partition:
    # no extra exchange, the hash(source)+sort(frac) the rank already
    # paid satisfies it) now ride ON the distinct frame, so the tail's
    # srcs frame is a filter (rn = 1) instead of a groupBy and retained
    # is a filter instead of a sketch⋈srcs join.  Old tail: 20
    # Exchanges / 2 SMJ; new: filters + the same bounded pair stages.
    sfw = f"""
      SELECT source, frac, rn, n_src,
        CASE WHEN n_src >= {k}
             THEN max(CASE WHEN rn = {k} THEN frac END)
                    OVER (PARTITION BY source)
             ELSE 1.0 END AS theta
      FROM (
        SELECT
          source,
          frac,
          row_number() OVER (PARTITION BY source ORDER BY frac) AS rn,
          count(*) OVER (PARTITION BY source) AS n_src
        FROM (
          SELECT DISTINCT source, {frac} AS frac
          FROM (
            {spread}
          ) shingled
        ) sf
      ) ranked
    """
    # Exact pairwise-intersection witness.  Spark uses the E3 posting-
    # list shape (group the sketch-input frame by frac, explode source
    # pairs inside each posting set): the frac-equality SELF-JOIN it
    # replaces shuffles the full distinct frame TWICE and is the one
    # stage of this query that grows with corpus content rather than
    # with k·|sources| — at 100 TB it is the scale-killer, while the
    # posting explode stays one agg + map-only pair emission (posting
    # sets are |sources|-bounded).  DuckDB keeps the join formulation
    # (it materializes CTEs; oracle-side cost is irrelevant).
    if d == "spark":
        exact_inter = """frac_posting AS (
      SELECT sort_array(collect_set(source)) AS srcs
      FROM _mz_theta_sfw
      GROUP BY frac
      HAVING size(collect_set(source)) > 1
    ),
    exact_inter AS (
      SELECT p.sa AS sa, p.sb AS sb, count(*) AS xi
      FROM frac_posting
      LATERAL VIEW explode(flatten(transform(srcs, (x, i) ->
        transform(slice(srcs, i + 2, size(srcs)), y ->
          named_struct('sa', x, 'sb', y))))) t AS p
      GROUP BY p.sa, p.sb
    )"""
    else:
        exact_inter = """exact_inter AS (
      SELECT a.source AS sa, b.source AS sb, count(*) AS xi
      FROM _mz_theta_sfw a
      JOIN _mz_theta_sfw b ON a.frac = b.frac AND a.source < b.source
      GROUP BY a.source, b.source
    )"""
    tail = f"""
    WITH srcs AS (
      SELECT source, n_src AS n, theta
      FROM _mz_theta_sfw WHERE rn = 1
    ),
    retained AS (
      SELECT source, frac
      FROM _mz_theta_sfw WHERE rn <= {k} AND frac < theta
    ),
    pairs AS (
      SELECT
        a.source AS sa, a.n AS na,
        b.source AS sb, b.n AS nb,
        least(a.theta, b.theta) AS theta_ab
      FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    members AS (
      SELECT
        p.sa,
        p.sb,
        r.frac,
        max(CASE WHEN r.source = p.sa THEN 1 ELSE 0 END) AS in_a,
        max(CASE WHEN r.source = p.sb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p
      JOIN retained r
        ON r.source IN (p.sa, p.sb) AND r.frac < p.theta_ab
      GROUP BY p.sa, p.sb, r.frac
    ),
    est AS (
      SELECT
        sa,
        sb,
        count(*) AS nu,
        sum(in_a * in_b) AS ni,
        sum(in_a * (1 - in_b)) AS nd
      FROM members
      GROUP BY sa, sb
    ),
    {exact_inter}
    SELECT
      p.sa AS source_a,
      p.sb AS source_b,
      {cnt("p.na + p.nb - coalesce(x.xi, 0)", "exact_union")},
      {cnt("coalesce(x.xi, 0)", "exact_inter")},
      {dbl("coalesce(e.nu, 0) / p.theta_ab", "est_union")},
      {dbl("coalesce(e.ni, 0) / p.theta_ab", "est_inter")},
      {dbl("coalesce(e.nd, 0) / p.theta_ab", "est_diff_ab")},
      {dbl(
          "CASE WHEN coalesce(e.nu, 0) > 0 "
          "THEN coalesce(e.ni, 0) / CAST(e.nu AS DOUBLE) ELSE 0.0 END",
          "est_jaccard",
      )},
      (abs(coalesce(e.nu, 0) / p.theta_ab
           - (p.na + p.nb - coalesce(x.xi, 0)))
         <= 0.4 * (p.na + p.nb - coalesce(x.xi, 0)) + 1.0) AS union_ok,
      (abs(coalesce(e.ni, 0) / p.theta_ab - coalesce(x.xi, 0))
         <= 0.3 * (p.na + p.nb - coalesce(x.xi, 0)) + 1.0) AS inter_ok,
      (abs(CASE WHEN coalesce(e.nu, 0) > 0
                THEN coalesce(e.ni, 0) / CAST(e.nu AS DOUBLE) ELSE 0.0 END
           - coalesce(x.xi, 0)
             / CAST(p.na + p.nb - coalesce(x.xi, 0) AS DOUBLE))
         <= 0.25) AS jaccard_ok
    FROM pairs p
    LEFT JOIN est e ON e.sa = p.sa AND e.sb = p.sb
    LEFT JOIN exact_inter x ON x.sa = p.sa AND x.sb = p.sb
    ORDER BY p.sa, p.sb
    """
    return [("_mz_theta_sfw", sfw)], tail



def _littles_law_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C89 -- Little's law conformance over the order pipeline (Little
    # 1961; Brumelle's finite-horizon exact form): with every order
    # OPENED and CLOSED inside the observed span, the time-average
    # work-in-progress equals arrival rate x mean sojourn EXACTLY --
    # L = lambda * W is an identity, not an approximation.  The row
    # computes L two INDEPENDENT ways and certifies their agreement:
    #
    #   direct:  L = (sum of per-order sojourns) / span
    #   sweep:   L = integral of the piecewise-constant open-order
    #            count over time / span (C50's +-1 endpoint sweep,
    #            integrated via lead(t) segment lengths)
    #
    # Agreement is the theorem; disagreement means the interval
    # derivation broke (the audit a throughput dashboard needs before
    # quoting WIP).  Sojourn = o_orderdate -> max(l_shipdate), the C82
    # latency convention.
    #
    # Data-quality guard: intervals with t_end <= t_start (shipment
    # recorded before the order -- present in this synthetic data, and
    # in any real pipeline with clock skew) are EXCLUDED and counted
    # in n_invalid; Little's law is a statement about well-formed
    # sojourns, and silently folding inverted intervals in would keep
    # the identity algebraically true while making every reported
    # number operationally meaningless.
    #
    # Scale: the interval frame (one per order) materializes from one
    # orders x lineitem join; the sweep sorts 2n endpoints in ONE
    # global window at contract scale -- the 100 TB path buckets the
    # sweep by month with carry-in prefix counts (the C50 day-
    # partition trick one level up); everything else is one hash-agg.
    intervals_sql = f"""
    SELECT * FROM (
      SELECT
        o.o_orderkey AS order_key,
        {epoch("o.o_orderdate", d)} AS t_start,
        max({epoch("l.l_shipdate", d)}) AS t_end,
        count(*) OVER () AS n_total
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, {epoch("o.o_orderdate", d)}
    ) iv
    WHERE t_end > t_start
    """
    tail = f"""
    WITH bounds AS (
      SELECT
        count(*) AS n,
        max(n_total) - count(*) AS n_invalid,
        min(t_start) AS t0,
        max(t_end) AS t1,
        sum(t_end - t_start) AS sum_sojourn
      FROM _mz_ll_intervals
    ),
    endpoints AS (
      SELECT t_start AS t, 1 AS delta FROM _mz_ll_intervals
      UNION ALL
      SELECT t_end AS t, -1 AS delta FROM _mz_ll_intervals
    ),
    swept AS (
      SELECT
        t,
        sum(delta) OVER (ORDER BY t, delta DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS wip,
        lead(t) OVER (ORDER BY t, delta DESC) AS t_next
      FROM endpoints
    ),
    integral AS (
      SELECT sum(wip * (t_next - t)) AS area
      FROM swept
      WHERE t_next IS NOT NULL
    )
    SELECT
      {cnt("b.n", "n_orders")},
      {cnt("b.n_invalid", "n_invalid_intervals")},
      {dbl("(b.t1 - b.t0) / 86400.0", "span_days")},
      {dbl("b.n / ((b.t1 - b.t0) / 86400.0)", "lambda_per_day")},
      {dbl("b.sum_sojourn / b.n / 86400.0", "w_days")},
      {dbl("b.sum_sojourn / (b.t1 - b.t0)", "l_direct")},
      {dbl("i.area / (b.t1 - b.t0)", "l_sweep")},
      abs(round(b.sum_sojourn / (b.t1 - b.t0) + {NUDGE}, 4)
          - round(i.area / (b.t1 - b.t0) + {NUDGE}, 4)) <= 0.001
        AS littles_law_ok
    FROM bounds b CROSS JOIN integral i
    """
    return [("_mz_ll_intervals", intervals_sql)], tail


QUERIES = [
    sql_backed("histogram_quantile_rollup", _hist_quantile_sql, ("events",)),
    sql_backed("concurrency_profile", _concurrency_sql, ("events",)),
    sql_backed("countmin_estimates", _countmin_sql, ("documents",)),
    materialized_backed("kmv_distinct_rollup", _kmv_parts, ("events",)),
    materialized_backed(
        "kmv_set_ops", _kmv_set_ops_parts, ("events",),
    ),
    materialized_backed(
        "theta_sketch_overlap", _theta_overlap_parts, ("documents",),
    ),
    materialized_backed(
        "littles_law_orders", _littles_law_parts, ("orders", "lineitem"),

    ),
]
