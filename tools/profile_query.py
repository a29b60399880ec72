"""Per-query profiler (optimization guide §1): for each named catalog /
bench-only query, time the plan build, then run 1 cold + N warm passes
through the noop sink and print per-pass seconds plus, for the LAST warm pass, the per-stage
breakdown (executor run time, shuffle read/write bytes, task count)
pulled from the local UI REST API — the local[...] equivalent of
reading the Stages tab.

Usage:
    python tools/profile_query.py <query ...> [--warm 3] [--rebuilt 0]
                                  [--explain DIR]

``build`` is the query function's own time (its eager jobs included).
After every query has run, each of the ``--rebuilt`` passes drops the
cached plans and shared fixtures with ``catalog.invalidate``, then
builds and executes every named query again and times each one, like a
rebuild pass of ``perfbench`` or ``bench.py``.

``compiles`` gives, for the build and for each pass, the generated
classes Janino compiled and their milliseconds (a rebuilt pass counts
build and execution). A class served from Spark's codegen cache is not
compiled, so a rebuilt pass that compiles anything recompiled classes
the cache had evicted. ``jvm`` gives the py4j calls each build sent to
the JVM (see :func:`jvm_calls`): the Python-side cost of constructing
the plan, one or more calls per Column node or DataFrame method.
``jobs`` gives the Spark jobs each build ran before execution (schema
inference, localCheckpoints, model-state collects, iterative loops).

With --explain DIR the final (post-AQE) physical plan of each query,
expression and plan ids stripped (:func:`executed_plan`), is also
written to DIR/<query>.txt after its passes, so two runs or two
checkouts diff line for line (the plan artifact of an optimization
round). Besides catalog and bench-only rows, the shared dedup fixtures
``shared_jaccard_pairs`` and ``shared_jaccard_cc`` run by name.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import urllib.request

from py4j import protocol

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


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


def _rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app_id}/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def codegen_compiles(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) so far in this JVM, from Spark's
    CodegenMetrics histogram and CodeGenerator's nanosecond total. A class
    served from Spark's codegen cache is not compiled and not counted."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6


# the object releases Python's garbage collector sends: their number
# depends on when it runs, so they are left out of the count
_RELEASE = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


def jvm_calls(spark) -> int:
    """py4j commands this process has sent to the JVM since the first
    call, object releases excluded. The first call wraps the gateway
    client's ``send_command`` with a counter; later calls read it."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    if not hasattr(send, "calls"):
        inner = send

        def send(command, *args, **kwargs):
            if not command.startswith(_RELEASE):
                send.calls += 1
            return inner(command, *args, **kwargs)

        send.calls = 0
        client.send_command = send
    return send.calls


def job_ids(spark) -> set[int]:
    """Ids of the Spark jobs run so far outside any job group."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


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

    def one_pass(df, desc: str) -> tuple[float, list[int]]:
        sc = spark.sparkContext
        before = job_ids(spark)
        sc.setJobDescription(desc)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        sc.setJobDescription(None)
        return dt, sorted(job_ids(spark) - before)

    def compiled_since(since: tuple[int, float]) -> str:
        n, ms = codegen_compiles(spark)
        return f"{n - since[0]}/{ms - since[1]:.0f}ms"

    for name in args.queries:
        c0 = codegen_compiles(spark)
        b0 = job_ids(spark)
        j0 = jvm_calls(spark)
        t0 = time.perf_counter()
        df = runnable[name](spark, sf_dir)
        build = time.perf_counter() - t0
        jvm = jvm_calls(spark) - j0
        build_jobs = len(job_ids(spark) - b0)
        compiles = [f"build={compiled_since(c0)}"]

        c0 = codegen_compiles(spark)
        cold, _ = one_pass(df, f"{name}:cold")
        compiles.append(f"cold={compiled_since(c0)}")
        warms = []
        jobs: list[int] = []
        for i in range(args.warm):
            c0 = codegen_compiles(spark)
            dt, jobs = one_pass(df, f"{name}:warm{i}")
            compiles.append(f"warm{i}={compiled_since(c0)}")
            warms.append(dt)
        print(
            f"== {name}  build={build:.3f}s  cold={cold:.3f}s  warm="
            + " ".join(f"{w:.3f}" for w in warms)
            + f"  min={min(warms):.3f}"
        )
        print(
            "   compiles " + " ".join(compiles)
            + f"  jvm build={jvm}  jobs build={build_jobs}"
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
        if args.explain:
            # last: executed_plan runs the query once more
            os.makedirs(args.explain, exist_ok=True)
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(executed_plan(df))

    for i in range(args.rebuilt):
        invalidate(sf_dir)
        p0 = codegen_compiles(spark)
        total = 0.0
        per_query = []
        for name in args.queries:
            c0 = codegen_compiles(spark)
            b0 = job_ids(spark)
            j0 = jvm_calls(spark)
            t0 = time.perf_counter()
            df = runnable[name](spark, sf_dir)
            jvm = jvm_calls(spark) - j0
            build_jobs = len(job_ids(spark) - b0)
            one_pass(df, f"{name}:rebuilt{i}")
            dt = time.perf_counter() - t0
            total += dt
            per_query.append(
                f"{name}={dt:.3f}s/{compiled_since(c0)}/jvm={jvm}/jobs={build_jobs}"
            )
        print(
            f"== rebuilt{i}  {total:.3f}s  compiles={compiled_since(p0)}  "
            + " ".join(per_query)
        )


if __name__ == "__main__":
    main()
