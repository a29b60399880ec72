"""Per-query profiler (optimization guide §1): for each named catalog /
bench-only query, time the plan build, then run 1 cold + N warm passes
through the noop sink and print per-pass seconds plus, for the LAST warm pass, the per-stage
breakdown (executor run time, shuffle read/write bytes, task count)
pulled from the local UI REST API — the local[...] equivalent of
reading the Stages tab.

Usage:
    python tools/profile_query.py <query ...> [--warm 3] [--rebuilt 0]
                                  [--explain DIR]

``build`` is the query function's own time (its eager jobs included);
each of the ``--rebuilt`` passes drops the cached plans and shared
fixtures with ``catalog.invalidate`` and times build + execution.

With --explain DIR the formatted physical plan of each query is also
written to DIR/<query>.txt (the plan artifact of an optimization
round). Besides catalog and bench-only rows, the shared dedup fixtures
``shared_jaccard_pairs`` and ``shared_jaccard_cc`` run by name.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app_id}/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--warm", type=int, default=3)
    ap.add_argument("--rebuilt", type=int, default=0)
    ap.add_argument("--explain", default=None)
    args = ap.parse_args()

    from hummingbirddatapipeline_spark.catalog import (
        BENCH_ONLY,
        QUERIES,
        dedup_q,
        invalidate,
    )
    from hummingbirddatapipeline_spark.session import get_spark, tune_for_sf

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    tune_for_sf(spark, sf_dir)
    runnable = {
        **QUERIES,
        **BENCH_ONLY,
        "shared_jaccard_pairs": dedup_q.shared_jaccard_pairs,
        "shared_jaccard_cc": dedup_q.shared_jaccard_cc,
    }

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    for name in args.queries:
        fn = runnable[name]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        build = time.perf_counter() - t0
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            plan = df._jdf.queryExecution().explainString(mode)
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(plan)

        def one_pass(tag: str, df=df) -> tuple[float, list[int]]:
            sc = spark.sparkContext
            before = {j for j in sc.statusTracker().getJobIdsForGroup(None)}
            sc.setJobDescription(f"{name}:{tag}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            sc.setJobDescription(None)
            after = {j for j in sc.statusTracker().getJobIdsForGroup(None)}
            return dt, sorted(after - before)

        cold, _ = one_pass("cold")
        warms = []
        jobs: list[int] = []
        for i in range(args.warm):
            dt, jids = one_pass(f"warm{i}")
            warms.append(dt)
            jobs = jids
        rebuilt = []
        for i in range(args.rebuilt):
            invalidate(sf_dir)
            t0 = time.perf_counter()
            one_pass(f"rebuilt{i}", fn(spark, sf_dir))
            rebuilt.append(time.perf_counter() - t0)
        print(
            f"== {name}  build={build:.3f}s  cold={cold:.3f}s  warm="
            + " ".join(f"{w:.3f}" for w in warms)
            + f"  min={min(warms):.3f}"
            + ("  rebuilt=" + " ".join(f"{r:.3f}" for r in rebuilt) if rebuilt else "")
        )
        try:
            all_jobs = {j["jobId"]: j for j in _rest(spark, "jobs")}
            stage_ids = sorted(
                sid
                for j in jobs
                if j in all_jobs
                for sid in all_jobs[j].get("stageIds", [])
            )
            stages = {
                s["stageId"]: s
                for s in _rest(spark, "stages")
                if s["status"] == "COMPLETE"
            }
            rows = []
            for sid in stage_ids:
                s = stages.get(sid)
                if not s:
                    continue
                rows.append(
                    (
                        s.get("executorRunTime", 0),
                        sid,
                        s.get("numCompleteTasks", 0),
                        s.get("inputBytes", 0),
                        s.get("shuffleReadBytes", 0),
                        s.get("shuffleWriteBytes", 0),
                        (s.get("name") or "")[:70],
                    )
                )
            rows.sort(reverse=True)
            for rt, sid, nt, ib, srb, swb, nm in rows[:12]:
                print(
                    f"   stage {sid:>5} run={rt/1000:7.2f}s tasks={nt:>4}"
                    f" in={ib/1e6:8.1f}MB sr={srb/1e6:7.1f}MB"
                    f" sw={swb/1e6:7.1f}MB  {nm}"
                )
        except Exception as e:  # pragma: no cover - best effort
            print(f"   (stage metrics unavailable: {e})")


if __name__ == "__main__":
    main()
