"""One benchmark run in a fresh process; started by ``run.py``.

Usage: ``python3 worker.py WORKLOAD SEED SECONDS TRACE SF_DIR OUT_DIR``

Sequence, the same for every workload::

    setup      process start -> imports, JVM and session, table loads
    cold pass  the first pass in the new JVM: plan builds, codegen, eager jobs
    warm pass  PASSES[workload][0] times (at least SECONDS): cached plans
               and checkpoints
    rebuild    ``catalog.invalidate(sf_dir)``, then a pass in the same
               session: every plan, eager job and shared fixture is built
               again; PASSES[workload][1] times

A pass is a fixed list of operations: the shared fixture, catalog rows
(built, then collected) and writes. Only the calls into the program are
timed; outputs are checked between operations and after the passes.

Prints a detail line, then the result line (the last line of stdout).
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import random
import re
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracer import Tracer  # noqa: E402

# Operations of one pass, in order. ``fixture:`` ops build a shared
# fixture of catalog.dedup_q; ``write:`` ops write through the program's
# writers; the rest are catalog rows, collected.
PASS_OPS = {
    "etl_scoring": ["write:scoring_990_model", "write:map_export"],
    "dedup_models": [
        "fixture:shared_jaccard_pairs",
        "dedup_label_propagation",
        "dedup_minhash_pairs",
    ],
}
TRACED_ROWS = ["scoring_990_model", "dedup_label_propagation", "dedup_minhash_pairs"]
FIXTURES = ["shared_jaccard_pairs"]
WORKLOAD_TABLES = {
    "etl_scoring": ["orders", "lineitem", "customer", "nation"],
    "dedup_models": ["documents"],
}
# The map's read path, exercised after the passes of a traced
# etl_scoring run: seeded requests against the cached serving extract.
BLOCK_PER_KIND = 6
REQUEST_KINDS = ("filter", "search", "counters")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
TIERS = ["high", "normal", "negative"]

# Warm and rebuild passes per run. Warm passes keep speeding up as the
# JIT compiles more, so their number is fixed (SECONDS is only a floor)
# and warm_pass_s is the median over all but the first: a dedup pass is
# well under a second, too short to stand alone. rebuild_pass_s is the
# median of the rebuild passes. Medians, so that a short stall of the
# machine in one pass does not move a run's figure.
PASSES = {"etl_scoring": (4, 3), "dedup_models": (12, 2)}
# Operations whose output is checked against another row's DuckDB oracle.
ORACLE_OF = {"map_export": "serving_map_extract"}

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "rebuild_pass_s": "s",
    "success_ratio": "ratio",
    "retained_mb": "MB",
}


@functools.cache
def check_oracle():
    """The differential harness (``tools/check_oracle.py``), loaded when
    the checks run so that its DuckDB import is not part of set-up."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_digest(cols, rows) -> str:
    """Cross-engine digest with the differential harness's normalizer
    (columns by name, exact floats, rows in any order)."""
    norm = check_oracle().normalize([tuple(r) for r in rows], list(cols))
    return hashlib.sha256(repr((sorted(cols), norm)).encode()).hexdigest()


def row_key(cols, rows) -> str:
    """Same-engine digest of collected rows, in any order."""
    return hashlib.sha256(repr((list(cols), sorted(map(repr, rows)))).encode()).hexdigest()


def content_key(df) -> tuple:
    """Same-engine key of a written output, computed in Spark: row count
    and the sum of per-row hashes (any order)."""
    from pyspark.sql import functions as F

    return tuple(df.select(
        F.count("*"), F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2**31 - 1)))
    ).first())


class Run:
    def __init__(self, workload, seed, seconds, trace, sf_dir, out_dir):
        self.wl = workload
        self.seconds = seconds
        self.sf_dir = sf_dir
        self.out_dir = out_dir
        self.tr = Tracer(trace)
        self.rng = random.Random(seed)
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("setup_s", "cold_pass_s", "warm_pass_s", "rebuild_pass_s")
        }
        self.attempted = 0
        self.failures: list[str] = []
        self.first: dict[str, tuple] = {}  # op -> (cols, rows, key) of its first run
        self.requests: list[dict] = []
        self.plans: dict[str, dict] = {}
        self.wall: dict[str, float] = {}
        self.spark = None

    # ---------------------------------------------------------------- set-up
    def setup(self, t_start: float) -> None:
        """Import the package, start the JVM and session, load the
        inputs. Timed from ``t_start``, the start of the process."""
        tr = self.tr
        with tr.span("setup", "setup", pass_id="setup"):
            with tr.span("catalog.import", "layer"):
                if tr.enabled:
                    self._wrap_layers()
                import hummingbirddatapipeline_spark.catalog as catalog
                from hummingbirddatapipeline_spark import session, tables
                from hummingbirddatapipeline_spark.catalog import dedup_q, serving_q
            self.catalog, self.tables, self.dedup_q, self.serving_q = catalog, tables, dedup_q, serving_q
            self.rows = {**catalog.QUERIES, **catalog.BENCH_ONLY}
            with tr.span("session.get_spark", "layer"):
                spark = session.get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            self.spark = spark
            tr.bind(spark)
            with tr.span("session.tune_for_sf", "layer"):
                session.tune_for_sf(spark, self.sf_dir)
            for t in WORKLOAD_TABLES[self.wl]:
                tables.load(spark, self.sf_dir, t)
        self.samples["setup_s"].append(time.time() - t_start)

    def _wrap_layers(self) -> None:
        """Traced runs time the program's own calls into the table and
        scoring layers: their public functions are wrapped before the
        catalog modules import them."""
        from hummingbirddatapipeline_spark import tables
        from hummingbirddatapipeline_spark.scoring import compiler

        def wrap(mod, attr, name):
            fn = getattr(mod, attr)

            @functools.wraps(fn)
            def timed(*a, **k):
                with self.tr.span(name, "layer"):
                    return fn(*a, **k)

            setattr(mod, attr, timed)

        wrap(tables, "load", "tables.load")
        wrap(tables, "write_versioned", "tables.write")
        wrap(compiler, "apply_spec", "scoring.apply_spec")

    # ---------------------------------------------------------------- passes
    def op(self, name: str, pass_id: str, build, execute, check) -> float:
        """Time one operation (build, then execute), then check its output
        untimed. Returns the timed seconds; every call counts as attempted."""
        self.attempted += 1
        tr, grp = self.tr, f"{self.wl}:{name}"
        try:
            with tr.span(name, "op", pass_id=pass_id):
                t0 = time.perf_counter()
                with tr.span("build", "build", group=f"{grp}:build"):
                    obj = build()
                t1 = time.perf_counter()
                with tr.span("exec", "exec", group=f"{grp}:exec"):
                    out = execute(obj)
                t2 = time.perf_counter()
        except Exception as ex:  # noqa: BLE001 - a failed operation must not end the run
            self.failures.append(f"{pass_id}:{name}: {type(ex).__name__}: {ex}"[:500])
            return 0.0
        try:
            if tr.enabled and pass_id == "rebuild" and name not in self.plans:
                self.plans[name] = plan_counts(obj)
            check(obj, out)
        except Exception as ex:  # noqa: BLE001
            self.failures.append(f"{pass_id}:{name}: {type(ex).__name__}: {ex}"[:500])
        return t2 - t0

    def same_as_first(self, name: str, key, cols=None, rows=None) -> None:
        """The first run of an operation keeps its output for the DuckDB
        check; every later run must reproduce its ``key``."""
        if name not in self.first:
            self.first[name] = (cols, rows, key)
        elif self.first[name][2] != key:
            raise AssertionError(f"{name}: output differs from its first run")

    def run_op(self, op: str, pass_id: str) -> float:
        spark, sf = self.spark, self.sf_dir
        kind, _, name = op.rpartition(":")
        if kind == "fixture":
            return self.op(
                name, pass_id, lambda: getattr(self.dedup_q, name)(spark, sf),
                lambda df: df.count(), lambda _, n: self.same_as_first(name, n),
            )

        def read_back(back):
            rows = back.collect() if name not in self.first else None
            self.same_as_first(name, content_key(back), back.columns, rows)

        if op == "write:map_export":
            # Read back with the extract's schema (JSON keeps neither
            # types nor null fields); the write has just cached its plan.
            path = os.path.join(self.out_dir, f"map_{pass_id}")
            return self.op(
                name, pass_id, lambda: None,
                lambda _: self.serving_q.write_map_export(spark, sf, path),
                lambda _, out: read_back(
                    spark.read.schema(self.rows["serving_map_extract"](spark, sf).schema).json(out)
                ),
            )
        fn = self.rows[name]
        if kind == "write":
            base = os.path.join(self.out_dir, name)
            return self.op(
                name, pass_id, lambda: fn(spark, sf),
                lambda df: self.tables.write_versioned(df, base),
                lambda _, path: read_back(spark.read.parquet(path)),
            )
        return self.op(
            name, pass_id, lambda: fn(spark, sf), lambda df: (df.columns, df.collect()),
            lambda _, out: self.same_as_first(name, row_key(*out), *out),
        )

    def one_pass(self, pass_id: str) -> float:
        with self.tr.span(f"pass:{pass_id}", "pass", pass_id=pass_id):
            t = sum(self.run_op(op, pass_id) for op in PASS_OPS[self.wl])
        self.tr.collect_ui()
        return t

    def mark(self, phase: str) -> None:
        """Wall clock at the end of each phase, checks included (detail only)."""
        self.wall[phase] = time.time() - self.t_start

    def run(self, t_start: float) -> None:
        self.t_start = t_start
        warm_passes, rebuild_passes = PASSES[self.wl]
        self.setup(t_start)
        self.mark("setup")
        self.samples["cold_pass_s"].append(self.one_pass("cold"))
        self.mark("cold")
        t_warm = time.perf_counter()
        warm = []
        while len(warm) < warm_passes or time.perf_counter() - t_warm < self.seconds:
            warm.append(self.one_pass(f"warm{len(warm) + 1}"))
        self.samples["warm_pass_s"] = warm[1:]
        self.mark("warm")
        for i in range(rebuild_passes):
            self.catalog.invalidate(self.sf_dir)
            self.samples["rebuild_pass_s"].append(self.one_pass("rebuild" if i == 0 else f"rebuild{i + 1}"))
        self.mark("rebuild")
        self.retained = retained(self.spark)

    # ---------------------------------------------------------------- map requests
    def request_block(self, pass_id: str) -> None:
        """BLOCK_PER_KIND map requests of each kind, in seeded order with
        seeded parameters, against the cached serving extract."""
        from pyspark.sql import functions as F

        spark, sf = self.spark, self.sf_dir
        kinds = [k for k in REQUEST_KINDS for _ in range(BLOCK_PER_KIND)]
        self.rng.shuffle(kinds)
        for kind in kinds:
            if kind == "filter":
                params = (f"NATION_{self.rng.randrange(25)}", self.rng.choice(TIERS))
            elif kind == "search":
                params = (f"{self.rng.randrange(100):02d}",)
            else:
                params = (self.rng.choice(SEGMENTS),)

            def build(kind=kind, p=params):
                ext = self.rows["serving_map_extract"](spark, sf)
                if kind == "filter":
                    return (
                        ext.filter((F.col("region_label") == p[0]) & (F.col("tier") == p[1]))
                        .orderBy("id").limit(500)
                    )
                if kind == "search":
                    return ext.filter(F.col("name").contains(p[0])).orderBy("name", "id").limit(8)
                return ext.filter(F.col("segment") == p[0]).groupBy("region_label").agg(
                    F.count("*").alias("n"),
                    F.sum(F.when(F.col("tier") == "high", 1).otherwise(0)).alias("n_high"),
                    F.sum(F.when(F.col("tier") == "negative", 1).otherwise(0)).alias("n_negative"),
                )

            req = {"kind": kind, "params": params, "pass": pass_id}

            def keep(_, out, req=req):
                req["cols"], req["rows"] = out

            with self.tr.span(f"request:{pass_id}", "request", pass_id=pass_id):
                req["s"] = self.op(kind, pass_id, build, lambda df: (df.columns, df.collect()), keep)
            self.requests.append(req)
        self.tr.collect_ui()

    # ---------------------------------------------------------------- checks
    def check_oracles(self) -> None:
        """First-run outputs against DuckDB over the same tables."""
        con = check_oracle().duck_connect(self.sf_dir)
        oracles = self.catalog.ORACLES
        base = oracles["serving_map_extract"]

        def duck(sql):
            rel = con.sql(sql)
            return oracle_digest(rel.columns, rel.fetchall())

        for name, (cols, rows, _) in self.first.items():
            sql = oracles.get(ORACLE_OF.get(name, name))
            if sql is not None and duck(sql) != oracle_digest(cols, rows):
                self.failures.append(f"oracle:{name}: differs from DuckDB")
        for req in self.requests:
            if "rows" not in req:
                continue
            p = req["params"]
            if req["kind"] == "filter":
                sql = (
                    f"SELECT * FROM ({base}) WHERE region_label = '{p[0]}' AND tier = '{p[1]}' "
                    "ORDER BY id LIMIT 500"
                )
            elif req["kind"] == "search":
                sql = f"SELECT * FROM ({base}) WHERE contains(name, '{p[0]}') ORDER BY name, id LIMIT 8"
            else:
                sql = (
                    "SELECT region_label, COUNT(*) AS n, "
                    "SUM(CASE WHEN tier = 'high' THEN 1 ELSE 0 END) AS n_high, "
                    "SUM(CASE WHEN tier = 'negative' THEN 1 ELSE 0 END) AS n_negative "
                    f"FROM ({base}) WHERE segment = '{p[0]}' GROUP BY region_label"
                )
            if duck(sql) != oracle_digest(req["cols"], req["rows"]):
                self.failures.append(f"oracle:{req['pass']}:{req['kind']}{p}: differs from DuckDB")
        con.close()

    def end_to_end(self) -> dict[str, float]:
        m = {k: statistics.median(v) for k, v in self.samples.items()}
        m["success_ratio"] = (self.attempted - len(self.failures)) / self.attempted
        m["retained_mb"] = self.retained["jvm.heap_used_mb"] + self.retained["py.rss_mb"]
        return m


def plan_counts(obj) -> dict[str, int]:
    """Exchange, broadcast and parquet-scan counts of a DataFrame's
    physical plan as prepared before execution (deterministic)."""
    if not hasattr(obj, "_jdf"):
        return {"exchanges": 0, "broadcasts": 0, "scans": 0}
    plan = obj._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(re.findall(r"(?<![A-Za-z])Exchange ", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        "scans": len(re.findall(r"FileScan parquet|Scan parquet", plan)),
    }


def retained(spark) -> dict[str, float]:
    """JVM heap in use after a full GC, and this process's resident set."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = (rt.totalMemory() - rt.freeMemory()) / 2**20
    rss = 0.0
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                rss = int(line.split()[1]) / 1024
    return {"jvm.heap_used_mb": heap, "py.rss_mb": rss}


def calibrate(spark) -> dict[str, float]:
    """Fixed probes that depend on the machine only, never on the
    repository (as bench.py's): a Spark range-sum and a pure-Python
    loop. Not gated; they make drift between machines visible."""
    t = time.perf_counter()
    spark.range(0, 100_000_000, 1, 8).selectExpr(
        "sum((id % 1000003) * 2654435761 % 1000000007) AS s"
    ).collect()
    cpu = time.perf_counter() - t
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1000000007
    return {"calib_spark_cpu_s": cpu, "calib_py_s": time.perf_counter() - t}


def shutdown(spark) -> None:
    """Stop the session and the JVM this process started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio") or name.endswith("_yield"):
        return "ratio"
    return "count"


def main() -> int:
    t_start = float(os.environ.get("PERFBENCH_T0", time.time()))
    wl, seed, seconds, trace, sf_dir, out_dir = sys.argv[1:7]
    run = Run(wl, int(seed), float(seconds), trace == "1", sf_dir, out_dir)
    run.run(t_start)
    if run.tr.enabled and wl == "etl_scoring":
        run.request_block("request-cold")
        run.request_block("request-warm")
    run.check_oracles()
    run.mark("oracles")
    calibration = calibrate(run.spark)
    if run.tr.enabled:
        from layers import per_layer

        metrics = per_layer(run, TRACED_ROWS, FIXTURES, WORKLOAD_TABLES[wl])
        units = {k: layer_unit(k) for k in metrics}
        run.tr.dump(os.path.join(out_dir, "trace.json"))
    else:
        metrics, units = run.end_to_end(), END_TO_END_UNITS
    shutdown(run.spark)
    run.mark("shutdown")
    detail = {
        "workload": wl,
        "seed": int(seed),
        "samples": run.samples,
        "failures": run.failures,
        "wall_s": run.wall,
        "calibration": calibration,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
