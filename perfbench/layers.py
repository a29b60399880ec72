"""Per-layer metrics of a traced run (``--trace 1``).

Which pass each metric reads, and the end-to-end metric it should move:

- set-up layers (``session.*``, ``catalog.import_s``): the run's set-up
  (``session.get_spark_s`` includes the JVM launch); they move ``setup_s``.
- ``fixture.*``: the rebuild pass of ``dedup_models`` (0 on the other
  workload); they move ``rebuild_pass_s`` and ``cold_pass_s``.
- build layers (``catalog.build_*``, ``row.*.build_*``,
  ``scoring.apply_spec_s``, ``tables.load_s``): the first rebuild pass;
  they move ``rebuild_pass_s`` and ``cold_pass_s``, never ``warm_pass_s``.
- execution layers (``exec.*``, ``row.*.exec_s``, ``tables.write_*``):
  the second warm pass; they move ``warm_pass_s``.
- counts (``plan.*`` per row summed, ``dedup.*``) are exact and repeat
  run to run.
- ``serving.*``: the warm block of map requests that a traced
  ``etl_scoring`` run sends after its passes (0 on the other workload).
- ``self.*_s``: self time (span minus its children) summed per span kind.
"""

from __future__ import annotations

import os
import statistics
import time

SETUP_LAYERS = ["session.get_spark", "session.tune_for_sf", "catalog.import"]
EXEC_PASS = "warm2"  # the first warm pass still pays JIT warm-up
SELF_KINDS = ["setup", "layer", "pass", "op", "build", "exec", "request"]


def per_layer(run, rows: list[str], fixtures: list[str], tables: list[str]) -> dict[str, float]:
    """Every per-layer metric, by name; layers a workload does not use read 0."""
    tr = run.tr
    spark = run.spark
    wl = run.wl
    dur = [(s, s["end"] - s["start"]) for s in tr.spans]

    def spans(name=None, kind=None, pass_pred=lambda p: True):
        return [
            d for s, d in dur
            if (name is None or s["name"] == name)
            and (kind is None or s["kind"] == kind)
            and pass_pred(s["pass"] or "")
        ]

    def in_setup(p):
        return p == "setup"

    def is_rebuild(p):
        return p == "rebuild"

    def is_exec_pass(p):
        return p == EXEC_PASS

    def median_or_0(xs):
        return statistics.median(xs) if xs else 0.0

    m: dict[str, float] = {}
    for name in SETUP_LAYERS:
        m[f"{name}_s"] = sum(spans(name, pass_pred=in_setup))
    op_of = {i: s for i, s in enumerate(tr.spans) if s["kind"] == "op"}

    def op_phase(name, kind, pass_id):
        return sum(
            d for s, d in dur
            if s["kind"] == kind and s["pass"] == pass_id and op_of.get(s["parent"], {}).get("name") == name
        )

    for name in fixtures:
        m[f"fixture.{name}_s"] = op_phase(name, "build", "rebuild") + op_phase(name, "exec", "rebuild")

    build = tr.job_stats(lambda g, p: g.endswith(":build") and p == "rebuild")
    m["catalog.build_s"] = sum(spans("build", "build", is_rebuild))
    m["catalog.build_jobs"] = build["jobs"]
    m["catalog.build_tasks"] = build["numTasks"]
    m["scoring.apply_spec_s"] = sum(spans("scoring.apply_spec", pass_pred=is_rebuild))
    for row in rows:
        m[f"row.{row}.build_s"] = op_phase(row, "build", "rebuild")
        m[f"row.{row}.build_jobs"] = tr.job_stats(
            lambda g, p, row=row: g == f"{wl}:{row}:build" and p == "rebuild"
        )["jobs"]
        m[f"row.{row}.exec_s"] = op_phase(row, "exec", EXEC_PASS)

    m["tables.load_s"] = sum(spans("tables.load", pass_pred=is_rebuild))
    t = time.perf_counter()
    for name in tables:
        run.tables.load(spark, run.sf_dir, name).count()
    m["tables.scan_s"] = time.perf_counter() - t
    writes = [
        d for s, d in dur
        if s["pass"] == EXEC_PASS and (
            s["name"] == "tables.write"
            or (s["kind"] == "exec" and op_of.get(s["parent"], {}).get("name") == "map_export")
        )
    ]
    m["tables.write_s"] = sum(writes)
    m["tables.write_mb"] = (
        dir_bytes(os.path.join(run.out_dir, "scoring_990_model", "v3"))  # cold, warm1, warm2
        + dir_bytes(os.path.join(run.out_dir, f"map_{EXEC_PASS}"))
    ) / 2**20

    ex = tr.job_stats(lambda g, p: g.endswith(":exec") and p == EXEC_PASS)
    wall = sum(spans("exec", "exec", is_exec_pass))
    cores = spark.sparkContext.defaultParallelism
    m["exec.wall_s"] = wall
    m["exec.jobs"] = ex["jobs"]
    m["exec.stages"] = ex["stages"]
    m["exec.tasks"] = ex["numTasks"]
    m["exec.executor_run_s"] = ex["executorRunTime"] / 1e3
    m["exec.executor_cpu_s"] = ex["executorCpuTime"] / 1e9
    m["exec.gc_s"] = ex["jvmGcTime"] / 1e3
    m["exec.shuffle_read_mb"] = ex["shuffleReadBytes"] / 2**20
    m["exec.shuffle_write_mb"] = ex["shuffleWriteBytes"] / 2**20
    m["exec.spill_mb"] = ex["diskBytesSpilled"] / 2**20
    m["exec.core_busy_ratio"] = m["exec.executor_run_s"] / (wall * cores) if wall else 0.0

    for k in ("exchanges", "broadcasts", "scans"):
        m[f"plan.{k}"] = sum(p[k] for p in run.plans.values())

    m.update(dedup_counts(run) if wl == "dedup_models" else {
        "dedup.candidate_pairs": 0, "dedup.verified_pairs": 0, "dedup.verify_yield": 0.0,
    })

    warm_reqs = [r for r in run.requests if r["pass"] == "request-warm"]
    req_stats = tr.job_stats(lambda g, p: p == "request-warm")
    n = len(warm_reqs)
    lat = [r["s"] for r in warm_reqs]
    m["serving.plan_s"] = median_or_0(spans("build", "build", lambda p: p == "request-warm"))
    m["serving.exec_s"] = median_or_0(spans("exec", "exec", lambda p: p == "request-warm"))
    m["serving.jobs_per_request"] = req_stats["jobs"] / n if n else 0.0
    m["serving.tasks_per_request"] = req_stats["numTasks"] / n if n else 0.0
    m["serving.request_p50_s"] = median_or_0(lat)
    m["serving.request_p90_s"] = statistics.quantiles(lat, n=10)[8] if n >= 2 else 0.0
    m["serving.requests_per_s"] = n / sum(lat) if n else 0.0

    m.update(run.retained)
    m["trace.overhead_s"] = tr.overhead_s
    selfs = tr.self_times()
    for kind in SELF_KINDS:
        m[f"self.{kind}_s"] = sum(st for s, st in zip(tr.spans, selfs) if s["kind"] == kind)
    return m


def dedup_counts(run) -> dict[str, float]:
    """Exact LSH candidate and verified pair counts, from the same operator
    calls and parameters as the ``dedup_minhash_pairs`` row."""
    from hummingbirddatapipeline_spark.operators import dedup
    from pyspark.sql import functions as F

    docs = run.tables.load(run.spark, run.sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", 32, 1).filter(F.col("n_shingles") > 0)
    cand = dedup.minhash_lsh_candidates(sigs, "doc_id", 8, 32).count()
    verified = dedup.near_dup_pairs_minhash(
        docs, "text", "doc_id", threshold=0.85, num_hashes=32, bands=8, shingle_size=1
    ).count()
    return {
        "dedup.candidate_pairs": cand,
        "dedup.verified_pairs": verified,
        "dedup.verify_yield": verified / cand if cand else 0.0,
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
