"""Plan-audit helper: executes each named catalog or bench-only query
once on the bench-tuned session and prints the load-bearing lines of
its FINAL (post-AQE) physical plan — scan pushdown, exchanges with
their partitioning and shuffle origin, join strategies, partial
aggregation, window/top-k shape, codegen spans.

Usage:
    python tools/explain_audit.py [query ...]     # default: bench set

Expression ids and plan ids are stripped, so two runs (or two
checkouts) diff line for line. Keeps PLANS.md honest — re-run after
operator changes and diff.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

KEY_MARKERS = (
    "Scan",
    "PushedFilters",
    "ReadSchema",
    "Exchange",
    "AQEShuffleRead",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "HashAggregate",
    "WholeStageCodegen",
    "Window",
    "WindowGroupLimit",
    "partial",
)


_IDS = re.compile(r"#\d+L?|,? \[plan_id=\d+\]")


def strip_ids(plan: str) -> str:
    """``plan`` without expression ids (``#12``, ``#12L``) and plan ids,
    both the ``, [plan_id=N]`` after an exchange's arguments and the bare
    `` [plan_id=N]`` of a leaf such as ``EmptyRelation``."""
    return _IDS.sub("", plan)


def executed_plan(df) -> str:
    """The final physical plan of ``df`` after one execution, ids
    stripped. Running the DataFrame's own query execution makes its
    adaptive plan final; the plan is the one a noop write runs."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return strip_ids(qe.executedPlan().toString().split("== Initial Plan ==")[0])


def main() -> None:
    from hummingbirddatapipeline_spark.catalog import BENCH_ONLY, QUERIES
    from hummingbirddatapipeline_spark.session import get_spark, tune_for_sf

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    if not names:
        import bench

        names = bench.HEADLINE
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    tune_for_sf(spark, sf_dir)
    runnable = {**QUERIES, **BENCH_ONLY}
    for name in names:
        print("=" * 24, name)
        for line in executed_plan(runnable[name](spark, sf_dir)).splitlines():
            if any(k in line for k in KEY_MARKERS):
                print(line[:160])


if __name__ == "__main__":
    main()
