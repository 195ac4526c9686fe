"""Watermark-lateness profile over a synthesized disordered arrival
process (SURVEY §2 B25).

The events fixture is perfectly event-time ordered (SURVEY §7.21), so
nothing in the corpus exercises the late/out-of-order semantics every
streaming deployment lives with.  Following the PCAP-bytes and
line-dedup precedent, the DISORDER is synthesized deterministically
inside the query: each event gets an arrival timestamp

    arrival = ts + delay,   delay = keyed-hash draw

where ~10% of events are heavy-tail stragglers (exponential, mean
~120 s — the reconnect/batch-upload shape real event buses show) and
the rest jitter a few seconds.  Both engines derive the SAME delay
from md5 digit arithmetic (the E36 weighted-sample recipe), so the
profile is engine-exact and re-runnable.

The profile answers the question an engineer asks BEFORE picking
``withWatermark`` (the reference hardcodes 10 s —
KafkaKpiPipeline.scala:69-80, with no evidence it is safe): per event
type, how skewed is arrival vs event time, and what share of events
would a candidate watermark delay DROP?  The watermark is simulated
the way Structured Streaming maintains it — the max event time seen
in PRIOR trigger intervals (arrival minutes here) minus the delay —
via a two-level plan that stays scale-safe:

  1. one scan computes (event, delay, arrival minute)  [materialized]
  2. per-minute max event time: an agg to <= |minutes| rows — bounded
     by the time span, NOT the data volume
  3. running max over that tiny frame (global window on a post-
     aggregation frame — the documented acceptable shape, allow-listed
     in the advisor sweep), shifted one minute back = the watermark in
     force when the minute's arrivals are processed
  4. broadcast-size join back + one per-type aggregate

Scale: the only window rides <= |arrival minutes| rows; the join-back
side is the same bounded frame (auto-broadcast); everything else is
map-side + one hash agg on event_type.

Reference scope: beyond-reference production surface (the reference
hardcodes its watermark; this measures what it should be).
"""

from __future__ import annotations

from fiveg_spark.plans.registry import (
    cnt,
    dbl,
    epoch,
    materialized_backed,
    pct,
    sql_backed,
)

# Candidate watermark delays (seconds) a deployment would consider.
WATERMARK_LADDER = (60, 300, 900)

# Straggler model: share of events that arrive on the heavy tail, the
# tail's exponential mean, and the bound on the in-order jitter.
STRAGGLER_SHARE = 0.10
TAIL_MEAN_S = 120.0
JITTER_MAX_S = 5.0


def _u(salt: str) -> str:
    """Uniform-(0,1] double from the first 8 md5 hex digits of the
    salted event_id — identical digit arithmetic in both engines (the
    E36 recipe; float-per-digit is certified there)."""
    h = f"md5(concat('{salt}#', CAST(event_id AS STRING)))"
    digits = " + ".join(
        f"(instr('0123456789abcdef', substring({h}, {i}, 1)) - 1) * {16.0 ** -i!r}"
        for i in range(1, 9)
    )
    return f"({digits} + 1e-10)"


def delay_expr() -> str:
    """Deterministic arrival delay in seconds (dialect-free SQL)."""
    gate = _u("lategate")
    tail = _u("latetail")
    # stragglers: Exp(mean TAIL_MEAN_S) via inverse CDF; rest: bounded
    # jitter from the same second draw (independent salt from the gate)
    return (
        f"CASE WHEN {gate} < {STRAGGLER_SHARE!r} "
        f"THEN -{TAIL_MEAN_S!r} * ln({tail}) "
        f"ELSE {JITTER_MAX_S!r} * {tail} END"
    )


def _lateness_profile_parts(d: str) -> tuple[list[tuple[str, str]], str]:
    es = epoch("ts", d)
    # arr is computed ONCE in an inner select and arr_min derives from
    # that column (r13 opt): the naive inline repeated delay_expr() —
    # 2 md5 digit-arithmetic draws, ~32 string ops — per OUTPUT column,
    # doubling the dominant per-row hash cost of the materialized frame.
    # Same expression tree feeds both engines, so results are identical.
    arr_sql = f"""
      SELECT
        event_id,
        event_type,
        es,
        arr,
        CAST(floor(arr / 60.0) AS BIGINT) AS arr_min
      FROM (
        SELECT
          event_id,
          event_type,
          {es} AS es,
          ({es} + ({delay_expr()})) AS arr
        FROM events
      ) delayed
    """
    late_cols = ",\n      ".join(
        dbl(
            f"avg(CAST(CASE WHEN w.wm_es IS NOT NULL AND a.es < w.wm_es - {w}.0 "
            "THEN 1 ELSE 0 END AS DOUBLE))",
            f"late_share_{w}s",
        )
        for w in WATERMARK_LADDER
    )
    tail = f"""
    WITH minute_max AS (
      SELECT arr_min, max(es) AS max_es
      FROM _mz_late_arr
      GROUP BY arr_min
    ),
    wm AS (
      SELECT
        arr_min,
        max(max_es) OVER (
          ORDER BY arr_min
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS wm_es
      FROM minute_max
    )
    SELECT
      a.event_type,
      {cnt("count(*)", "n_events")},
      {dbl("avg(a.arr - a.es)", "mean_delay_s")},
      {dbl(pct("a.arr - a.es", 0.95, d), "p95_delay_s")},
      {dbl("max(a.arr - a.es)", "max_delay_s")},
      {late_cols}
    FROM _mz_late_arr a
    LEFT JOIN wm w ON w.arr_min = a.arr_min
    GROUP BY a.event_type
    ORDER BY a.event_type
    """
    return [("_mz_late_arr", arr_sql)], tail


def _arrival_inversions_sql(d: str) -> str:
    # B27 — arrival-order INVERSION profile per event type: the share
    # of consecutive ARRIVALS whose event times step backwards, and
    # how far back they step — the disorder statistic that complements
    # the B25 drop shares (two streams can share a late-share yet
    # differ wildly in adjacent-inversion rate, which is what sorting
    # and state-store locality actually feel).  Same deterministic
    # delay synthesis as B25.
    #
    # Scale: the lag window partitions by (type, arrival day) — the
    # one cross-day adjacent pair per type-day is dropped (negligible
    # by construction, documented) in exchange for partitions bounded
    # by a day of one type's arrivals instead of a whole type's
    # history funneling through one task.
    es = epoch("ts", d)
    arr = f"({es} + ({delay_expr()}))"
    back = "(prev_es - es)"
    return f"""
    WITH arrivals AS (
      SELECT
        event_type,
        {es} AS es,
        {arr} AS arr,
        CAST(floor({arr} / 86400.0) AS BIGINT) AS arr_day
      FROM events
    ),
    stepped AS (
      SELECT
        event_type,
        es,
        lag(es) OVER (PARTITION BY event_type, arr_day
                      ORDER BY arr, es) AS prev_es
      FROM arrivals
    )
    SELECT
      event_type,
      {cnt("count(prev_es)", "n_adjacent_pairs")},
      {cnt("sum(CASE WHEN es < prev_es THEN 1 ELSE 0 END)", "n_inversions")},
      {dbl(
          "sum(CASE WHEN es < prev_es THEN 1 ELSE 0 END)"
          " / CAST(nullif(count(prev_es), 0) AS DOUBLE)",
          "inversion_rate",
      )},
      {dbl(f"avg(CASE WHEN es < prev_es THEN {back} END)",
           "mean_backstep_s")},
      {dbl(f"max(CASE WHEN es < prev_es THEN {back} ELSE 0.0 END)",
           "max_backstep_s")}
    FROM stepped
    GROUP BY event_type
    ORDER BY event_type
    """




def _arrival_burstiness_sql(d: str) -> str:
    # B28 — ARRIVAL-process burstiness per event type: Fano factor
    # (var/mean) and peak-to-mean of per-minute arrival COUNTS over
    # the synthesized disordered arrivals — D38 measures EVENT-time
    # burstiness; the ingest fleet is sized on the ARRIVAL process,
    # which the straggler tail re-shapes (a Poisson arrival stream has
    # Fano 1; batching/reconnects push it up).  One minute-grain agg
    # (bounded by time span), one per-type rollup.
    es = epoch("ts", d)
    arr = f"({es} + ({delay_expr()}))"
    return f"""
    WITH per_min AS (
      SELECT
        event_type,
        CAST(floor({arr} / 60.0) AS BIGINT) AS arr_min,
        count(*) AS c
      FROM events
      GROUP BY event_type, CAST(floor({arr} / 60.0) AS BIGINT)
    )
    SELECT
      event_type,
      {cnt("count(*)", "n_active_minutes")},
      {dbl("avg(c)", "mean_per_minute")},
      {dbl("var_samp(c) / nullif(avg(c), 0.0)", "fano_factor")},
      {dbl("max(c) / nullif(avg(c), 0.0)", "peak_to_mean")},
      coalesce(round(var_samp(c) / nullif(avg(c), 0.0) + 1e-9, 4) > 1.5,
               FALSE) AS overdispersed
    FROM per_min
    GROUP BY event_type
    ORDER BY event_type
    """




def _source_ingestion_burstiness_sql(d: str) -> str:
    # A34 -- per-source ingestion burstiness over a synthesized
    # snapshot-time axis (the backlog item gated on exactly this
    # synthesis).  The documents corpus has no arrival axis, so one is
    # derived deterministically inside the query (the B25 precedent):
    # each doc draws an arrival minute in a 1440-minute ingestion day
    # from md5 digit arithmetic keyed on doc_id, and HALF the sources
    # (first md5 hex digit of the source name < '8') upload in 30-min
    # BATCHES -- their minutes quantize to the batch grid, the real
    # crawl-dump shape -- while the rest trickle uniformly.
    #
    # The measured axis is the per-minute count dispersion over the
    # FULL 1440-minute day (empty minutes included, via the closed-form
    # population moments: E[c^2] = sum(c^2)/T with the zero cells
    # contributing nothing): Fano = var/mean, peak-to-mean, and active
    # share.  Batch-mode sources must read overdispersed (Fano >> 1),
    # trickle sources Poisson-flat (Fano ~ 1) -- pytest plants both.
    #
    # Scale: one scan -> per-(source, minute) hash agg -> per-source
    # rollup bounded by |sources| x 1440.  Engine parity: the same md5
    # digit arithmetic both sides (E36 recipe), verdict on ROUNDED Fano.
    h = "md5(concat('ingest#', CAST(doc_id AS STRING)))"
    digits = " + ".join(
        f"(instr('0123456789abcdef', substring({h}, {i}, 1)) - 1) * {16.0 ** -i!r}"
        for i in range(1, 9)
    )
    u = f"({digits} + 1e-10)"
    raw_minute = f"least(CAST(floor({u} * 1440.0e0) AS BIGINT), 1439)"
    batchy = "(instr('0123456789abcdef', substring(md5(source), 1, 1)) - 1) < 8"
    minute = (
        f"CASE WHEN {batchy} THEN CAST(floor({raw_minute} / 30) * 30 AS BIGINT) "
        f"ELSE {raw_minute} END"
    )
    return f"""
    WITH arrivals AS (
      SELECT source, {minute} AS m, CASE WHEN {batchy} THEN 1 ELSE 0 END AS b
      FROM documents
    ),
    per_min AS (
      SELECT source, max(b) AS b, m, count(*) AS c
      FROM arrivals GROUP BY source, m
    ),
    per_source AS (
      SELECT source, max(b) AS b,
        CAST(sum(c) AS DOUBLE) AS n_docs,
        CAST(count(*) AS DOUBLE) AS active_minutes,
        CAST(sum(c * c) AS DOUBLE) AS cc,
        CAST(max(c) AS DOUBLE) AS peak
      FROM per_min GROUP BY source
    )
    SELECT
      source,
      CAST(b = 1 AS BOOLEAN) AS batch_mode,
      {cnt("n_docs", "n_docs")},
      {cnt("active_minutes", "active_minutes")},
      {dbl("active_minutes / 1440.0e0", "active_share")},
      {dbl("(cc / 1440.0e0 - power(n_docs / 1440.0e0, 2))"
           " / (n_docs / 1440.0e0)", "fano_factor")},
      {dbl("peak / (n_docs / 1440.0e0)", "peak_to_mean")},
      CAST(round((cc / 1440.0e0 - power(n_docs / 1440.0e0, 2))
           / (n_docs / 1440.0e0) + 1e-9, 4) > 1.2 AS BOOLEAN)
        AS overdispersed
    FROM per_source
    ORDER BY source
    """


QUERIES = [
    materialized_backed(
        "watermark_lateness_profile", _lateness_profile_parts, ("events",),
    ),
    sql_backed("arrival_order_inversions", _arrival_inversions_sql,
               ("events",)),
    sql_backed("arrival_burstiness", _arrival_burstiness_sql, ("events",)),
    sql_backed("source_ingestion_burstiness",
               _source_ingestion_burstiness_sql, ("documents",)),
]
