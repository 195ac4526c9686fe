"""Plan lint: flag the antipatterns that kill 100 TB jobs before they
run (SURVEY §2 C52).

`plans/explain.py` extracts facts; this layer judges them.  Each rule
returns a finding with a severity and the reason it matters at scale —
the review a senior engineer gives a query before it ships:

  cartesian-product    O(n·m) row explosion (always a bug at scale)
  python-row-udf       row-at-a-time Python in the hot path (BatchEval)
  unpushed-filter      a Filter above a FileScan with none of its
                       predicates pushed — full-scan-then-drop
  unpruned-scan        FileScan reading far more columns than the
                       query's output needs
  global-window        a Window with an empty PARTITION BY — all rows
                       through ONE task
  global-sort-no-limit Sort with a range exchange and no TakeOrdered /
                       Limit — a full cluster sort for unbounded output
  many-shuffles        exchange count beyond a soft budget

Heuristics over the executed-plan text, deliberately conservative:
silence on plans we can't judge beats false alarms (rules only fire on
unambiguous plan markers).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

from fiveg_spark.plans.explain import simple_plan


@dataclass(frozen=True)
class Finding:
    rule: str
    severity: str  # "error" | "warn"
    detail: str


def lint_plan(df: DataFrame, shuffle_budget: int = 6) -> list[Finding]:
    plan = simple_plan(df)
    findings: list[Finding] = []

    if "CartesianProduct" in plan:
        findings.append(
            Finding(
                "cartesian-product",
                "error",
                "CartesianProduct in plan: O(n*m) pair explosion; add an "
                "equi-join key or broadcast the provably-tiny side",
            )
        )

    if re.search(r"BatchEvalPython", plan):
        findings.append(
            Finding(
                "python-row-udf",
                "error",
                "row-at-a-time Python UDF (BatchEvalPython): 10-100x slower "
                "than Arrow; use pandas_udf or built-in functions",
            )
        )

    scans = re.findall(r"FileScan \w+ [^\n]*", plan)
    for s in scans:
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", s)
        if pushed is not None and pushed.group(1).strip() == "":
            # a scan with an empty pushdown list is only a problem if the
            # query filters on scanned columns — flag softly
            if "Filter" in plan:
                findings.append(
                    Finding(
                        "unpushed-filter",
                        "warn",
                        "Filter present but FileScan pushed no predicates; "
                        "check the filter uses scan columns without wrapping "
                        "them in non-pushable expressions",
                    )
                )
                break

    if "WindowExec" in plan or "Window " in plan:
        # Spark prints: Window [funcs], [partition cols], [order cols] —
        # a missing partition list shows as back-to-back brackets
        if re.search(r"Window \[[^\]]*\](?:, \[\])", plan) or re.search(
            r"Window \[[^\]]*\], \[\w+#\d+[^\]]*ASC", plan
        ):
            findings.append(
                Finding(
                    "global-window",
                    "warn",
                    "window function with empty PARTITION BY: every row "
                    "funnels through one task; partition by a natural key "
                    "or restructure (acceptable only on pre-reduced frames)",
                )
            )

    if re.search(r"Sort \[", plan) and "rangepartitioning" in plan:
        if "TakeOrderedAndProject" not in plan and not re.search(
            r"(GlobalLimit|CollectLimit)", plan
        ):
            findings.append(
                Finding(
                    "global-sort-no-limit",
                    "warn",
                    "global ORDER BY without LIMIT: full-data range "
                    "shuffle + sort; drop the sort (writes don't need it) "
                    "or bound it with LIMIT",
                )
            )

    # repeated scans of one relation: the CTE-inlining disease — a WITH
    # body referenced n times re-executes its whole scan+compute pipeline
    # n times (the r3 minhash plan read the corpus 8×).  Two scans can be
    # a legitimate self-join; three or more of the SAME file is almost
    # always a restructure-me signal (persist, or band/bucket map-only).
    scan_paths = re.findall(r"Location: [^\[\n]*\[([^\],\n]+)", plan)
    for path in {p for p in scan_paths if scan_paths.count(p) > 2}:
        findings.append(
            Finding(
                "repeated-scan",
                "warn",
                f"{scan_paths.count(path)} FileScans of {path}: the source "
                "pipeline re-executes per reference; compute once and "
                "band/explode map-only, persist, or self-join a reduced frame",
            )
        )

    n_ex = plan.count("Exchange")
    if n_ex > shuffle_budget:
        findings.append(
            Finding(
                "many-shuffles",
                "warn",
                f"{n_ex} exchanges (budget {shuffle_budget}): look for "
                "reusable partitionings, broadcastable sides, or combined "
                "aggregations",
            )
        )

    return findings
