"""Profile the bench headline queries one at a time (guide §1).

For each headline query:
  - build the DataFrame via the contract,
  - one warm-up materialization, then N timed runs of BOTH the bench
    action (`.count()`) and the noop sink (computes every column, §1.4),
  - dump `.explain("formatted")` to plans/$SPARK_GRAFT_PLANS_ROUND/<name>_<tag>.txt
    (default r14),
  - count plan features (Exchange / joins / Python eval nodes).

Prints one JSON line per query and a total, to stderr progress + stdout
JSON, so runs can be diffed across optimization steps.

Usage: python tools/profile_headline.py [tag] [query ...]
  tag defaults to "before"; queries default to the full HEADLINE tuple.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as _bench
import __spark_entry__ as contract
from fiveg_spark.session import get_spark

N_RUNS = 3

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
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or list(_bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14")
    )
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark("profile_headline")
    spark.range(1).count()
    queries = contract.queries()

    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}:warmup")
        t0 = time.time()
        df = queries[name](spark, sf_dir)
        build_s = round(time.time() - t0, 3)
        n = df.count()  # warm-up + row count

        counts, noops = [], []
        for i in range(N_RUNS):
            spark.sparkContext.setJobDescription(f"profile:{name}:count{i}")
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            df.count()
            counts.append(round(time.time() - t0, 3))
        for i in range(N_RUNS):
            spark.sparkContext.setJobDescription(f"profile:{name}:noop{i}")
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            noops.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)

        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        feats = {k: len(re.findall(rx, plan)) for k, rx in PLAN_FEATURES.items()}

        rec = {
            "rows": n,
            "build_s": build_s,
            "count_min": min(counts),
            "count_all": counts,
            "noop_min": min(noops),
            "noop_all": noops,
            **feats,
        }
        out[name] = rec
        print(f"# {name}: {json.dumps(rec)}", file=sys.stderr)

    total = round(sum(r["count_min"] for r in out.values()), 3)
    print(json.dumps({"tag": tag, "sf_dir": sf_dir, "count_total": total,
                      "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
