"""Mergeable-sketch rollups (SURVEY §2 C32).

The 100 TB pattern for COUNT(DISTINCT) rollups: aggregate once into
per-(fine-grain) Datasketches HLL sketches, then merge sketches upward —
re-aggregation without rescanning the fact table, and sketch columns can
be persisted in a rollup table and unioned incrementally as new
partitions land (the classic "distinct users per day → per month"
hypertable rollup).  Exact distincts are carried alongside here so the
contract and tests can bound the estimation error.

Certified via tolerance-boolean oracles (the approx_variants pattern):
the raw sketch bytes/estimates have no DuckDB twin, so the contract
rows carry exact anchors plus booleans in which each engine bounds ITS
OWN approximation; pytest additionally bounds the relative error at the
default lgConfigK=12 (<~2% typical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.plans.registry import Query, ensure_views, materialized_backed
from fiveg_spark.sources.tables import load_table


def hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily user sketches per event_type, merged to per-type totals.

    Returns the full diagnostic frame (raw estimate + rel_err) for
    tests; the contract projects the cross-engine-comparable subset —
    exact anchors plus an in-row 10%-relative-error boolean, the
    approx_variants certification pattern (each engine checks ITS OWN
    sketch against ITS OWN exact count)."""
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("n"),
    )
    merged = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_events",
            "approx_users",
            "exact_users",
            F.round(
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users"),
                4,
            ).alias("rel_err"),
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.1 * F.col("exact_users")
            ).alias("hll_ok"),
        )
    )


def _hll_rollup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparable projection: drop the engine-specific raw estimate."""
    return hll_rollup(spark, sf_dir).select(
        "event_type", "n_days", "n_events", "exact_users", "hll_ok"
    )


_HLL_ROLLUP_ORACLE = """
SELECT
  event_type,
  CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
  CAST(abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
       <= 0.1 * count(DISTINCT user_id) AS BOOLEAN) AS hll_ok
FROM events
GROUP BY event_type
"""


def _mg_kernel(capacity: int):
    """Per-partition Misra-Gries summarizer for mapInPandas: at most
    ``capacity`` counters, decrement-all on overflow; the marker row
    (term="") carries the partition's decrement count so the merged
    bound includes partitions where a term died out."""

    def mg(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        dec = 0
        for pdf in batches:
            for t in pdf["term"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < capacity:
                    counters[t] = 1
                else:
                    dec += 1
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame(
            {
                "term": list(counters) + [""],
                "est": list(counters.values()) + [0],
                "dec": [0] * len(counters) + [dec],
            }
        )

    return mg


def heavy_hitters(
    spark: SparkSession, sf_dir: str, k: int = 20, capacity: int = 64
) -> DataFrame:
    """E37 — Misra-Gries heavy hitters over document tokens, the
    bounded-memory alternative to a full term-count shuffle.

    Each partition keeps at most ``capacity`` counters (classic MG:
    decrement-all when full); per-partition summaries MERGE by summing
    counts, and the guarantee survives the merge:

        est ≤ true ≤ est + Σ_p dec_p

    (dec_p = decrement rounds in partition p).  Only the tiny summaries
    shuffle — at 100 TB the full-fidelity groupBy moves the whole token
    multiset, this moves capacity × n_partitions rows.  Exact counts for
    the reported terms ride along (broadcast semi-join) so the contract
    row itself shows the bound holding."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.explode(F.split(F.lower("text"), " +")).alias("term"))

    summaries = toks.mapInPandas(
        _mg_kernel(capacity), schema="term STRING, est LONG, dec LONG"
    ).cache()
    total_err = summaries.agg(F.sum("dec").alias("max_err"))
    top = (
        summaries.filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.sum("est").alias("est_count"))
        .orderBy(F.desc("est_count"), F.asc("term"))
        .limit(k)
    )
    exact = (
        toks.join(F.broadcast(top.select("term")), "term")
        .groupBy("term")
        .agg(F.count("*").alias("exact_count"))
    )
    return (
        top.join(exact, "term")
        .crossJoin(F.broadcast(total_err))
        .select("term", "est_count", "exact_count", "max_err")
        .orderBy(F.desc("est_count"), F.asc("term"))
    )


def heavy_hitters_certified(
    spark: SparkSession, sf_dir: str, k: int = 20, capacity: int = 64
) -> DataFrame:
    """Certifiable E37 surface: the deterministic EXACT top-k terms as
    the cross-engine anchor, with the Misra-Gries guarantee carried as
    in-row booleans (the approx_variants pattern — Spark checks ITS OWN
    sketch, the oracle emits the literal truths the theorem promises):

        mg_lower_ok:  est ≤ true          (MG never overcounts)
        mg_upper_ok:  true ≤ est + Σdec   (underestimate ≤ total decrements;
                                           holds with est = 0 for a term
                                           absent from every summary)

    Empty tokens (split artifacts of trailing space-runs) are excluded
    identically in both engines — "" doubles as the marker row's key."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " +")).alias("term")
    ).filter(F.col("term") != "")
    summaries = toks.mapInPandas(
        _mg_kernel(capacity), schema="term STRING, est LONG, dec LONG"
    ).cache()
    total_err = summaries.agg(F.sum("dec").alias("max_err"))
    mg_est = (
        summaries.filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.sum("est").alias("est_count"))
    )
    exact_topk = (
        toks.groupBy("term")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("term"))
        .limit(k)
    )
    return (
        exact_topk.join(mg_est, "term", "left")
        .na.fill({"est_count": 0})
        .crossJoin(F.broadcast(total_err))
        .select(
            "term",
            "exact_count",
            (F.col("est_count") <= F.col("exact_count")).alias("mg_lower_ok"),
            (F.col("exact_count") <= F.col("est_count") + F.col("max_err")).alias(
                "mg_upper_ok"
            ),
        )
        .orderBy(F.desc("exact_count"), F.asc("term"))
    )


_HEAVY_HITTERS_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), ' +')) AS term FROM documents
),
topk AS (
  SELECT term, CAST(count(*) AS BIGINT) AS exact_count
  FROM toks
  WHERE term <> ''
  GROUP BY term
  ORDER BY exact_count DESC, term
  LIMIT 20
)
SELECT term, exact_count,
       TRUE AS mg_lower_ok,
       TRUE AS mg_upper_ok
FROM topk
ORDER BY exact_count DESC, term
"""


WAU_DAYS = 7  # trailing window width (the WAU / L7-actives metric)


def hll_sliding_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C67 — trailing 7-day distinct actives per (event_type, day) from
    the DAILY sketch rows alone: the continuous-aggregate pattern.  A
    naive WAU query rescans 7 days of facts per anchor day (each fact
    row read 7 times); here each day's users are sketched ONCE and
    every trailing window is a union of ≤ 7 sketch rows — the rollup
    table IS the input, new days append incrementally, and the fact
    table is never re-read (the C32 contract extended from disjoint
    grains to OVERLAPPING windows, which no GROUP BY rollup can serve).

    Scale: daily sketches are |types|·|days| rows; the membership
    explode multiplies only those (×7), never facts.  The exact
    witness below pays one inherent second scan at contract time; a
    production rollup would maintain it incrementally or skip it.
    """
    events = load_table(spark, "events", sf_dir)
    day_idx = (F.unix_micros(F.date_trunc("day", "ts")) / 86_400_000_000).cast("long")
    # materialize-once: the sketch frame feeds anchors, the membership
    # explode, AND the semi-join — inlined, Spark re-ran the events
    # scan per reference (the sweep gate measured 4 corpus scans; with
    # the checkpoint it is 1 sketch build + the inherent exact witness)
    daily = (
        events.withColumn("d", day_idx)
        .groupBy("event_type", "d")
        .agg(F.hll_sketch_agg("user_id").alias("sk"), F.count("*").alias("n"))
    ).localCheckpoint()
    anchors = daily.select("event_type", F.col("d").alias("w"))
    member = daily.withColumn(
        "w", F.explode(F.expr(f"transform(sequence(0, {WAU_DAYS - 1}), i -> d + i)"))
    ).join(anchors, ["event_type", "w"], "left_semi")
    merged = member.groupBy("event_type", "w").agg(
        F.count("*").alias("n_days_present"),
        F.sum("n").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )
    exact = (
        events.withColumn("d", day_idx)
        .withColumn(
            "w",
            F.explode(F.expr(f"transform(sequence(0, {WAU_DAYS - 1}), i -> d + i)")),
        )
        .join(anchors, ["event_type", "w"], "left_semi")
        .groupBy("event_type", "w")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        merged.join(exact, ["event_type", "w"])
        .select(
            "event_type",
            F.col("w").cast("long").alias("window_day"),
            F.col("n_days_present").cast("long").alias("n_days_present"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("exact_users").cast("long").alias("exact_users"),
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.1 * F.col("exact_users")
            ).alias("hll_ok"),
        )
        .orderBy("event_type", "window_day")
    )


_HLL_SLIDING_ORACLE = f"""
WITH ev AS (
  SELECT
    event_type,
    CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS d,
    user_id
  FROM events
),
anchors AS (SELECT DISTINCT event_type, d AS w FROM ev),
member AS (
  SELECT e.event_type, e.d, e.d + g.i AS w, e.user_id
  FROM ev e
  CROSS JOIN (SELECT unnest(generate_series(0, {WAU_DAYS - 1})) AS i) g
)
SELECT
  m.event_type,
  m.w AS window_day,
  CAST(count(DISTINCT m.d) AS BIGINT) AS n_days_present,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT m.user_id) AS BIGINT) AS exact_users,
  CAST(abs(approx_count_distinct(m.user_id) - count(DISTINCT m.user_id))
       <= 0.1 * count(DISTINCT m.user_id) AS BOOLEAN) AS hll_ok
FROM member m
JOIN anchors a ON a.event_type = m.event_type AND a.w = m.w
GROUP BY m.event_type, m.w
ORDER BY m.event_type, window_day
"""


BLOOM_M = 4096  # bits
BLOOM_K = 3  # hash functions
_BLOOM_ABSENT = tuple(range(-1, -21, -1))  # ids guaranteed off-corpus


def bloom_bucket_expr(expr: str, j: str) -> str:
    """Shared md5 bucket position (dialect-identical integer digit
    arithmetic) — C71's batch sketch and B23's streaming sink derive
    bits from THIS one builder, so their stores interoperate."""
    h8 = (
        f"substring(md5(concat('bf', CAST({j} AS STRING), '#',"
        f" CAST({expr} AS STRING))), 1, 8)"
    )
    digits = " + ".join(
        f"CAST(instr('0123456789abcdef', substring({h8}, {i}, 1)) - 1 AS BIGINT)"
        f" * CAST({16 ** (8 - i)} AS BIGINT)"
        for i in range(1, 9)
    )
    return f"(({digits}) % {BLOOM_M})"


def _bloom_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    # C71 — Bloom-filter membership sketch entirely in SQL (Bloom 1970;
    # Swamidass & Baldi 2007 for the fill-ratio cardinality estimate):
    # the sketch family's MEMBERSHIP member next to HLL (cardinality),
    # Misra-Gries (frequency), KMV/theta (set ops) and Count-Min (point
    # counts).  Per event_type the filter is the DISTINCT (type, bit)
    # row set from BLOOM_K md5-derived bucket positions per user — the
    # distributed representation a deployment would compact to a bitmap
    # with bit_or; rows merge upward with plain DISTINCT, zero rescan.
    #
    # Certified claims: (a) NO FALSE NEGATIVES — a true member's k bits
    # are all present BY CONSTRUCTION, so the boolean is a theorem over
    # a planted probe set (present sample + guaranteed-absent negative
    # ids); (b) the measured false-positive count on absent probes is
    # hash-deterministic and value-certifies; (c) the Swamidass-Baldi
    # estimate n̂ = −(m/k)·ln(1 − X/m) lands within tolerance of the
    # exact distinct count carried in-row.
    #
    # Scale: ONE events scan builds the distinct (type, user) frame
    # (materialized: bits, probes, membership witnesses and exact counts
    # all derive from it); everything downstream is |types|·m bits and
    # |types|·|probes| rows — broadcast-sized at any corpus.
    bucket = bloom_bucket_expr

    if d == "spark":
        js = "SELECT explode(array(0, 1, 2)) AS j"
    else:
        js = "SELECT unnest([0, 1, 2]) AS j"
    absent = ", ".join(f"({i})" for i in _BLOOM_ABSENT)
    tu = "SELECT DISTINCT event_type, user_id FROM events"
    tail = f"""
    WITH bits AS (
      SELECT DISTINCT event_type, {bucket("t.user_id", "j.j")} AS bit
      FROM _mz_bloom_tu t CROSS JOIN ({js}) j
    ),
    probes AS (
      SELECT DISTINCT user_id AS probe_id FROM _mz_bloom_tu
      WHERE user_id % 10 = 0
      UNION ALL
      SELECT * FROM (VALUES {absent}) AS a(probe_id)
    ),
    typed AS (
      SELECT ty.event_type, p.probe_id
      FROM (SELECT DISTINCT event_type FROM _mz_bloom_tu) ty
      CROSS JOIN probes p
    ),
    claims AS (
      SELECT
        tp.event_type,
        tp.probe_id,
        sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM (
        SELECT t.event_type, t.probe_id, {bucket("t.probe_id", "j.j")} AS bit
        FROM typed t CROSS JOIN ({js}) j
      ) tp
      LEFT JOIN bits b
        ON b.event_type = tp.event_type AND b.bit = tp.bit
      GROUP BY tp.event_type, tp.probe_id
    ),
    truth AS (
      SELECT
        c.event_type,
        c.probe_id,
        c.n_hit = {BLOOM_K} AS claimed,
        m.user_id IS NOT NULL AS is_member
      FROM claims c
      LEFT JOIN _mz_bloom_tu m
        ON m.event_type = c.event_type AND m.user_id = c.probe_id
    ),
    per_type AS (
      SELECT
        event_type,
        count(*) AS n_probes,
        sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS n_members,
        sum(CASE WHEN claimed THEN 1 ELSE 0 END) AS n_claimed,
        sum(CASE WHEN claimed AND NOT is_member THEN 1 ELSE 0 END) AS fp,
        min(CASE WHEN is_member AND NOT claimed THEN 0 ELSE 1 END) AS no_fn
      FROM truth GROUP BY event_type
    ),
    fill AS (
      SELECT b.event_type, count(*) AS x,
             max(n.n_exact) AS n_exact
      FROM bits b
      JOIN (
        SELECT event_type, count(*) AS n_exact
        FROM _mz_bloom_tu GROUP BY event_type
      ) n ON n.event_type = b.event_type
      GROUP BY b.event_type
    )
    SELECT
      f.event_type,
      CAST(f.n_exact AS BIGINT) AS n_exact,
      CAST(f.x AS BIGINT) AS bits_set,
      CAST(round(-(CAST({BLOOM_M} AS DOUBLE) / {BLOOM_K})
                 * ln(1.0 - f.x / CAST({BLOOM_M} AS DOUBLE)) + 1e-9, 4) + 0.0
           AS DOUBLE) AS est_distinct,
      CAST(p.n_probes AS BIGINT) AS n_probes,
      CAST(p.n_members AS BIGINT) AS n_members,
      CAST(p.n_claimed AS BIGINT) AS n_claimed,
      CAST(p.fp AS BIGINT) AS fp_count,
      CAST(p.no_fn = 1 AS BOOLEAN) AS no_false_negatives,
      (abs(-(CAST({BLOOM_M} AS DOUBLE) / {BLOOM_K})
           * ln(1.0 - f.x / CAST({BLOOM_M} AS DOUBLE))
           - f.n_exact) <= 0.25 * f.n_exact + 2.0) AS est_ok
    FROM fill f
    JOIN per_type p ON p.event_type = f.event_type
    ORDER BY f.event_type
    """
    return [("_mz_bloom_tu", tu)], tail


QUERIES = [
    # tolerance-boolean oracle (the approx_variants pattern): exact
    # anchors hash-compared, each engine bounds ITS OWN sketch in-row.
    Query("hll_rollup_users", _hll_rollup_contract, _HLL_ROLLUP_ORACLE),
    # exact top-k anchor + in-row Misra-Gries bound booleans; the raw
    # estimate-ordered diagnostic surface stays pytest-pinned.
    Query("heavy_hitters", heavy_hitters_certified, _HEAVY_HITTERS_ORACLE),
    Query(
        "hll_sliding_actives", hll_sliding_actives, _HLL_SLIDING_ORACLE,
    ),
    materialized_backed("bloom_membership", _bloom_parts, ("events",)),
]


# --------------------------------------------------------------------------
# C181/C182 (né C168/C169) — Spark 4.1's NATIVE DataSketches surface: approx_top_k and
# the theta family as built-in aggregates (the engine-level twins of the
# repo's portable KMV/Misra-Gries constructions).
# --------------------------------------------------------------------------


def _native_topk_run(spark, sf_dir):
    """C181: `approx_top_k` in its exact regime — with maxItemsTracked
    (default 10000) above the column's true cardinality the sketch
    degenerates to exact counting, so the unnested (item, count) rows
    must equal DuckDB's exact GROUP BY top-k row-for-row.  k=10 exceeds
    |event types|, so tie-boundary membership can't bite; the outer
    sort re-orders deterministically (count desc, item) because the
    sketch's own tie order is unspecified."""
    ensure_views(spark, ("events",), sf_dir)
    return spark.sql("""
        WITH tk AS (
          SELECT approx_top_k(event_type, 10) AS arr FROM events
        )
        SELECT e.item AS event_type,
               CAST(e.count AS BIGINT) AS n_events
        FROM tk LATERAL VIEW explode(arr) x AS e
        ORDER BY n_events DESC, event_type
    """)


_NATIVE_TOPK_ORACLE = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY n_events DESC, event_type
"""


def _native_theta_run(spark, sf_dir):
    """C182: the theta-sketch family as built-ins — per-type
    `theta_sketch_agg(user_id)` estimates, merged corpus-wide with
    `theta_union_agg` (the mergeable-rollup property C32 demonstrates
    portably with HLL, here on the engine's own Compressed-V2 theta
    binaries).  Certified the approx_variants way: exact anchors
    hash-compare, each estimate bounds ITSELF in-row (theta rse at
    lgK 12 is ~1.6%, 5%/±2 ≈ 3σ; at certification SF the sketch is in
    exact mode and the bound is trivially tight).  Two corpus scans:
    the per-type frame and the global exact anchor (overlapping users
    across types make the global irreducible from the per-type one)."""
    ensure_views(spark, ("events",), sf_dir)
    return spark.sql("""
        WITH per_type AS (
          SELECT event_type,
                 count(DISTINCT user_id) AS n_exact,
                 theta_sketch_agg(user_id) AS sk
          FROM events GROUP BY event_type
        ),
        est AS (
          SELECT event_type, n_exact,
                 theta_sketch_estimate(sk) AS n_est
          FROM per_type
        ),
        glob AS (
          SELECT theta_sketch_estimate(theta_union_agg(sk, 12)) AS g_est
          FROM per_type
        ),
        g_exact AS (
          SELECT count(DISTINCT user_id) AS g FROM events
        )
        SELECT
          e.event_type,
          CAST(e.n_exact AS BIGINT) AS n_users_exact,
          CAST(g.g AS BIGINT) AS n_users_global,
          abs(e.n_est - e.n_exact) <= greatest(2.0, 0.05 * e.n_exact)
            AS theta_within_bound,
          abs(gl.g_est - g.g) <= greatest(2.0, 0.05 * g.g)
            AS union_within_bound
        FROM est e CROSS JOIN glob gl CROSS JOIN g_exact g
        ORDER BY e.event_type
    """)


_NATIVE_THETA_ORACLE = """
    WITH g AS (SELECT count(DISTINCT user_id) AS g FROM events)
    SELECT
      event_type,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
      CAST(max(g.g) AS BIGINT) AS n_users_global,
      TRUE AS theta_within_bound,
      TRUE AS union_within_bound
    FROM events CROSS JOIN g
    GROUP BY event_type
    ORDER BY event_type
"""


QUERIES.extend([
    Query("native_topk_types", _native_topk_run, _NATIVE_TOPK_ORACLE),
    Query("native_theta_users", _native_theta_run, _NATIVE_THETA_ORACLE),
])
