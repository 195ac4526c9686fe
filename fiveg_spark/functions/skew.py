"""Skew-mitigation primitives (SURVEY §3).

AQE's skew-join splits oversized join partitions; these cover the skew
it misses — a grouped aggregation where a handful of hot keys (one giant
flow, one dominant slice) swamp single reducers, and a join whose hot
key still dominates one task:

- ``salted_agg``: two-phase aggregation.  Phase 1 groups on
  (keys + salt) so a hot key's rows spread over ``n_salts`` reducers;
  phase 2 merges the partials on the true keys.  Correct for any
  algebraic aggregate (sum/count/min/max and anything composed from
  them: avg = sum/count, moments from power sums).
- ``with_salt``: the salt column itself (uniform, deterministic given
  the row, derived from a unique id column).
- ``salted_join``: a sort-merge join whose hot key AQE's skew-join
  cannot split (it sees post-shuffle partition sizes, but one key
  inside one task still dominates).  The big side gets a salt in
  [0, buckets) per row — a hash of a unique column, so re-runs and
  retried tasks place rows identically (no ``rand()``) — and the small
  side is exploded ``buckets``× so every salted key still finds its
  match.  Output is row-for-row the plain join's; the small side grows
  by the factor, the right trade whenever |small| × buckets ≪
  |big-hot-key|.

This is the classic map-side spread the reference would need at 100 TB
when one 5G flow carries orders of magnitude more packets than the
median flow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, unique_col: str, n_salts: int = 16) -> DataFrame:
    """Deterministic uniform salt in [0, n_salts) from a unique column."""
    return df.withColumn("__salt", F.pmod(F.xxhash64(F.col(unique_col)), F.lit(n_salts)))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partial_aggs: dict[str, Column],
    merge_aggs: dict[str, Column],
    unique_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-proof aggregation.

    ``partial_aggs``: name → aggregate over raw rows (phase 1, grouped
    on keys+salt).  ``merge_aggs``: name → aggregate over the phase-1
    partials (phase 2, grouped on keys) — e.g. partial ``count(*)`` is
    merged with ``sum``.
    """
    salted = with_salt(df, unique_col, n_salts)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[c.alias(n) for n, c in partial_aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[c.alias(n) for n, c in merge_aggs.items()]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_from: str,
    buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big`` with ``small`` on column ``on``, salting the
    key into ``buckets`` sub-keys.  ``salt_from`` is a column of ``big``
    whose hash places each row deterministically."""
    salted_big = big.withColumn(
        "_salt", F.pmod(F.hash(F.col(salt_from)), F.lit(buckets))
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = salted_big.join(salted_small, [on, "_salt"], how)
    return out.drop("_salt")


def skew_stats(df: DataFrame, keys: list[str]) -> DataFrame:
    """Diagnostic: per-key row counts vs the heaviest key (find the whale)."""
    counts = df.groupBy(*keys).count()
    return counts.agg(
        F.count("*").alias("n_keys"),
        F.max("count").alias("max_rows"),
        F.expr("percentile(count, 0.5)").alias("median_rows"),
        (F.max("count") / F.expr("percentile(count, 0.5)")).alias("skew_ratio"),
    )
