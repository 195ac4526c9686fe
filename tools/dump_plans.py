"""Dump `.explain("formatted")` for named queries to plans/<round>/ (guide §1.3).

It runs NO timed actions — it builds each DataFrame via the contract
(materialized_backed parts still execute their eager localCheckpoint
jobs, so keep sf small unless plan sizes matter) and writes plans/<round>/<name>_<tag>.txt plus a one-line feature
count to stderr.  <round> is $SPARK_GRAFT_PLANS_ROUND (default r14).

Usage: python tools/dump_plans.py <tag> <query> [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract
from fiveg_spark.session import get_spark

PLAN_FEATURES = {
    "n_exchange": r"\bExchange\b",
    "n_sort": r"\+- Sort\b|^\s*Sort\b",
    "n_smj": r"SortMergeJoin",
    "n_bhj": r"BroadcastHashJoin",
    "n_shj": r"ShuffledHashJoin",
    "n_bnlj": r"BroadcastNestedLoopJoin",
    "n_cartesian": r"CartesianProduct",
    "n_python": r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas",
    "n_scan": r"Scan parquet|FileScan",
    "n_aqe": r"AdaptiveSparkPlan",
}


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14")
    )
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark("dump_plans")
    queries = contract.queries()
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(plans_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        feats = {
            k: len(re.findall(pat, plan, flags=re.M))
            for k, pat in PLAN_FEATURES.items()
        }
        print(f"{name}: {feats}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
