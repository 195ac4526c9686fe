"""Driver-contract query surface for the ML block (SURVEY §2 D6-D9).

``sequence_counts`` gets a true DuckDB oracle (the window-collect_list
operator's cardinality/bounds are SQL-expressible), and the Holt,
Holt-Winters and Kalman recursions replay as DuckDB RECURSIVE CTEs.
The VAR fit, network forward, hybrid forecast and training are
iterative linear algebra: they certify through invariant rows in
``ml/certify.py``.
"""

from __future__ import annotations

from fiveg_spark.ml.features import feature_frame
from fiveg_spark.ml.sequences import WINDOW, sequence_counts
from fiveg_spark.operators.kpi import kpi36
from fiveg_spark.operators.timeseries import _hourly_cte
from fiveg_spark.plans.registry import Query


def _run_sequence_counts(spark, sf_dir):
    from fiveg_spark.ml.features import with_split

    return sequence_counts(with_split(feature_frame(kpi36(spark, sf_dir))))


_SEQUENCE_COUNTS_ORACLE = f"""
{_hourly_cte("duckdb")},
numbered AS (
  SELECT slice, h,
    row_number() OVER (PARTITION BY slice ORDER BY h) AS rn,
    count(*) OVER (PARTITION BY slice) AS n
  FROM hourly
),
tagged AS (
  SELECT *,
    CASE WHEN rn <= CAST(floor(0.7 * n) AS BIGINT) THEN 'train'
         WHEN rn <= CAST(floor(0.85 * n) AS BIGINT) THEN 'val'
         ELSE 'test' END AS split
  FROM numbered
)
SELECT slice, split,
  CAST(count(*) AS BIGINT) AS n_sequences,
  min(h) AS first_target,
  max(h) AS last_target
FROM tagged
WHERE rn > {WINDOW}
GROUP BY slice, split
"""


def _holt(spark, sf_dir):
    from fiveg_spark.ml.holt import holt_forecast

    return holt_forecast(spark, sf_dir)


def _holt_winters(spark, sf_dir):
    from fiveg_spark.ml.holt import holt_winters_forecast

    return holt_winters_forecast(spark, sf_dir)


def _kalman(spark, sf_dir):
    from fiveg_spark.ml.kalman import kalman_level

    return kalman_level(spark, sf_dir)


def _holt_oracle() -> str:
    from fiveg_spark.ml.holt import holt_oracle_sql

    return holt_oracle_sql()


def _kalman_oracle() -> str:
    from fiveg_spark.ml.kalman import kalman_oracle_sql

    return kalman_oracle_sql()


def _holt_grid(spark, sf_dir):
    from fiveg_spark.ml.holt import holt_grid_search

    return holt_grid_search(spark, sf_dir)


def _holt_grid_oracle() -> str:
    from fiveg_spark.ml.holt import holt_grid_oracle_sql

    return holt_grid_oracle_sql()


def _hw_oracle() -> str:
    from fiveg_spark.ml.holt import holt_winters_oracle_sql

    return holt_winters_oracle_sql()


QUERIES = [
    # value-level oracles: DuckDB replays the SAME recursions as
    # RECURSIVE CTEs (iterative ≠ un-oracle-able — see holt_oracle_sql;
    # Holt-Winters carries its seasonal vector as a LIST column)
    Query("holt_forecast", _holt, _holt_oracle()),
    Query("holt_winters_forecast", _holt_winters, _hw_oracle()),
    Query("kalman_level", _kalman, _kalman_oracle()),
    Query("holt_grid_search", _holt_grid, _holt_grid_oracle()),
    Query("sequence_counts", _run_sequence_counts, _SEQUENCE_COUNTS_ORACLE),
    # the VAR, Huber, forward, forecast and training surfaces certify
    # through invariant rows in ml/certify.py
]
