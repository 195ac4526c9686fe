"""Query registry: one declarative SQL text per operator, two dialects.

Most operators are expressed as ONE SQL template with a handful of
dialect substitutions (epoch extraction, json access, exact percentile,
list functions).  The Spark side runs through ``spark.sql`` — identical
to the DataFrame API from Catalyst's point of view (same logical plan,
same pushdown/codegen) — and the DuckDB side becomes the driver oracle.
Sharing the text makes oracle parity structural instead of aspirational.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from fiveg_spark.sources.tables import load_table


@dataclass(frozen=True)
class Query:
    name: str
    run: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, None → rows-only check


# session → {(table, sf_dir): loaded DataFrame}.  load_table pays file
# listing + schema resolution + timestamp normalization on every call; a
# bench or test session runs hundreds of queries over the same (session,
# sf_dir), so cache the DataFrame and only re-point the temp view (a
# cheap catalog upsert).  The view is ALWAYS re-registered — tests
# overwrite these names with synthetic frames, so skipping registration
# would leak their data into the next query.  Weak keys: a stopped/GC'd
# session drops its entries.
_FRAMES: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def ensure_views(spark: SparkSession, tables: tuple[str, ...], sf_dir: str) -> None:
    from fiveg_spark.sources.tables import ensure_session_confs

    ensure_session_confs(spark)  # cached loads must not skip conf enforcement
    frames = _FRAMES.setdefault(spark, {})
    for t in tables:
        key = (t, sf_dir)
        if key not in frames:
            frames[key] = load_table(spark, t, sf_dir)
        frames[key].createOrReplaceTempView(t)


def sql_backed(
    name: str,
    sql_fn: Callable[[str], str],
    tables: tuple[str, ...],
) -> Query:
    """Build a Query from a dialect-parameterized SQL template."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_views(spark, tables, sf_dir)
        return spark.sql(sql_fn("spark"))

    return Query(name=name, run=run, oracle=sql_fn("duckdb"))


_PART_MODES = ("checkpoint", "inline")


def run_parts(spark: SparkSession, parts_fn, mode: str = "checkpoint") -> DataFrame:
    """Execute a materialized_backed parts query against whatever views
    are currently registered (tests point the base tables at synthetic
    frames first).

    'checkpoint' (default) computes each part to completion with an
    eager localCheckpoint before the tail plans, so no tail reference
    can recompute it.  'inline' registers plain temp views and lets the
    tail re-inline the part subtree per reference — cheaper only for a
    part referenced twice whose materialization writes more bytes than
    re-running its scans (substring_dedup's exploded positions; the
    OPTIMIZATION_r14.md A/B record has the measurements)."""
    ctes, tail = parts_fn("spark")
    for rel, sql in ctes:
        part = spark.sql(sql)
        if mode == "checkpoint":
            part = part.localCheckpoint()
        part.createOrReplaceTempView(rel)
    return spark.sql(tail)


def materialized_backed(
    name: str,
    parts_fn: Callable[[str], tuple[list[tuple[str, str]], str]],
    tables: tuple[str, ...],
    mode: str = "checkpoint",
) -> Query:
    """sql_backed variant for queries whose tail references a derived
    frame 3+ times.  Spark inlines CTEs, so a shared WITH body re-runs
    its whole scan+compute pipeline per reference (the advisor's
    repeated-scan rule; at 100 TB the re-run IS the query cost) — while
    DuckDB materializes CTEs and doesn't care.

    ``parts_fn(dialect) -> (ctes, tail)`` where ctes is an ordered list
    of (relation_name, sql) and tail references those names.  On Spark,
    each cte materializes ONCE via eager localCheckpoint and registers
    as a temp view (use globally-unique ``_mz_``-prefixed names); the
    oracle folds everything back into one WITH chain (a tail that opens
    with its own WITH merges into it).  ``mode`` is run_parts' part
    mode, checked here so a misspelling fails at registration."""
    if mode not in _PART_MODES:
        raise ValueError(f"{name}: part mode {mode!r} is not one of {_PART_MODES}")

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_views(spark, tables, sf_dir)
        return run_parts(spark, parts_fn, mode)

    ctes, tail = parts_fn("duckdb")
    if not ctes:
        # a parts query whose references turned out to be a pure chain
        # (each frame consumed exactly once): no materialization needed,
        # the tail IS the query in both dialects
        oracle = tail
    else:
        with_clause = ",\n".join(f"{rel} AS ({sql})" for rel, sql in ctes)
        stripped = tail.lstrip()
        if stripped[:5].upper() == "WITH ":
            oracle = f"WITH {with_clause},\n{stripped[5:]}"
        else:
            oracle = f"WITH {with_clause}\n{tail}"
    return Query(name=name, run=run, oracle=oracle)


# ---- shared snippet helpers (identical rounding discipline everywhere) ----

NUDGE = "1e-9"  # see dbl for why


def dbl(expr: str, alias: str) -> str:
    """Float metric, rounded to 4 decimals on BOTH engines.

    The +1e-9 nudge settles round-half ties: averages/ratios of 2-decimal
    inputs are exact rationals that frequently land ON the .00005 grid,
    where Spark (BigDecimal HALF_UP) and DuckDB (scaled-double rint) can
    disagree.  1e-9 is far above cross-engine summation noise (~1e-13
    relative) and far below the 1e-4 grid, so both engines land on the
    same side of every boundary."""
    # `+ 0.0` OUTSIDE the round erases IEEE negative zero: a tiny negative
    # input (skewness ~ -1e-7) rounds to `-0.0` in DuckDB but renders `0.0`
    # in Spark — numerically equal, string-hash different.  -0.0 + 0.0 =
    # +0.0 in IEEE 754, identically in both engines.
    return f"CAST(round(coalesce({expr}, 0.0) + {NUDGE}, 4) + 0.0 AS DOUBLE) AS {alias}"


def cnt(expr: str, alias: str) -> str:
    return f"CAST({expr} AS BIGINT) AS {alias}"


def distinct_cnt(expr: str, dialect: str) -> str:
    """Exact distinct count, Expand-free on Spark.  Two or more
    count(DISTINCT ...) aggregates in one SELECT make Spark Expand the
    input N+1 ways (every row replicated per distinct column) before
    the first partial aggregate — at 100 TB that multiplies the rows
    entering the aggregation by the distinct-column count.
    size(collect_set(x)) computes the same integer (collect_set drops
    NULLs and dedups exactly like count(DISTINCT); set order never
    reaches the result) in ONE pass with map-side partial sets.

    ONLY for bounded-cardinality distinct sets (languages, sources,
    protocols, ports): collect_set holds each group's set in a single
    aggregation buffer, so an unbounded distinct (user_id, content
    hash) must keep the count(DISTINCT) spelling, whose Expand +
    partial-dedup distributes the set across partitions."""
    if dialect == "spark":
        return f"size(collect_set({expr}))"
    return f"count(DISTINCT {expr})"


def corr_safe(x: str, y: str) -> str:
    """Sample correlation from decomposable sums, total on degenerate
    input: the native ``corr`` raises DIVIDE_BY_ZERO under Spark's
    default ANSI mode when either series is constant (and yields
    NULL/NaN inconsistently across engines), so constant/empty series
    here return 0.0 instead.  NULL pairs are excluded like the native
    aggregate.  Same text in both dialects; the ulp-level difference vs
    the engine's one-pass co-moment algorithm dies in the 4-decimal
    rounding every query applies."""
    both = f"({x} IS NOT NULL AND {y} IS NOT NULL)"
    n = f"sum(CASE WHEN {both} THEN 1.0 ELSE 0.0 END)"
    sx = f"sum(CASE WHEN {both} THEN {x} ELSE 0.0 END)"
    sy = f"sum(CASE WHEN {both} THEN {y} ELSE 0.0 END)"
    sxx = f"sum(CASE WHEN {both} THEN {x} * {x} ELSE 0.0 END)"
    syy = f"sum(CASE WHEN {both} THEN {y} * {y} ELSE 0.0 END)"
    sxy = f"sum(CASE WHEN {both} THEN {x} * {y} ELSE 0.0 END)"
    dx = f"({n} * {sxx} - {sx} * {sx})"
    dy = f"({n} * {syy} - {sy} * {sy})"
    # Degenerate cutoff is RELATIVE to the series' magnitude (n*sxx
    # scales with n^2 and the data's square): an absolute 1e-12 would
    # let a near-constant series land on opposite sides of the
    # threshold in Spark vs DuckDB from summation-order ulps alone.
    tx = f"1e-12 * greatest({n} * {sxx}, 1e-300)"
    ty = f"1e-12 * greatest({n} * {syy}, 1e-300)"
    return (
        f"CASE WHEN {dx} <= {tx} OR {dy} <= {ty} THEN 0.0 "
        f"ELSE ({n} * {sxy} - {sx} * {sy}) / sqrt({dx} * {dy}) END"
    )


def ols_slope(x: str, y: str) -> str:
    """OLS slope from decomposable sums with the degenerate guard —
    the corr_safe discipline for trend fits.  NULL y-values must be
    excluded by the CALLER's frame (mixing NULL-skipping y-sums with
    NULL-counting x-sums silently corrupts the fit — the r9 diurnal
    review finding)."""
    n = "CAST(count(*) AS DOUBLE)"
    sx = f"sum({x})"
    sy = f"sum({y})"
    sxx = f"sum(({x}) * ({x}))"
    sxy = f"sum(({x}) * ({y}))"
    return (
        f"CASE WHEN {n} >= 2.0 AND {n} * {sxx} - {sx} * {sx} > 1e-9 "
        f"THEN ({n} * {sxy} - {sx} * {sy}) / ({n} * {sxx} - {sx} * {sx}) "
        "ELSE 0.0 END"
    )


def pct(col: str, p: float, dialect: str) -> str:
    """Exact interpolated percentile in both engines."""
    if dialect == "spark":
        return f"percentile({col}, {p})"
    return f"quantile_cont({col}, {p})"


def epoch(col: str, dialect: str) -> str:
    """Epoch seconds derived from exact integer microseconds in BOTH
    engines — identical integer, identical division, bit-identical
    double.  (A plain CAST/epoch() pair drifts ~1e-7 at 1.7e9 s, which
    punches through the rounding nudge.)"""
    us = f"unix_micros({col})" if dialect == "spark" else f"epoch_us({col})"
    return f"(CAST({us} AS DOUBLE) / 1000000.0)"


def json_int(col: str, path_key: str, dialect: str) -> str:
    if dialect == "spark":
        return f"CAST(get_json_object({col}, '$.{path_key}') AS INT)"
    return f"CAST(json_extract_string({col}, '$.{path_key}') AS INT)"


def split_ws(col: str, dialect: str) -> str:
    """Whitespace tokenization (space-run splitting, no backslash escapes)."""
    if dialect == "spark":
        return f"split({col}, ' +')"
    return f"string_split_regex({col}, ' +')"


def arr_len(expr: str, dialect: str) -> str:
    return f"size({expr})" if dialect == "spark" else f"len({expr})"
