"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the input tables
into ``.perfbench/data`` (see ``gen.py``); every run then starts a fresh
worker process (``worker.py``) with its own temporary Spark local dir,
warehouse, temp dir and output dir under ``.perfbench``, all deleted
when the worker ends. The worker prints a detail line and the result
line; the result line is the last line printed here.

Exits non-zero, without a result, when the program under test
(``hummingbirddatapipeline_spark``) or its tools are not in the checkout.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(WORK, "data", "sf0.01")
WORKLOADS = ("etl_scoring", "dedup_models")
REQUIRED = ("hummingbirddatapipeline_spark/catalog/__init__.py", "tools/gen_sf.py", "tools/check_oracle.py")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600


def child_env(tmp: str) -> dict[str, str]:
    """Environment of a child process: all Spark scratch space under ``tmp``."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        TMPDIR=os.path.join(tmp, "tmp"),
        PYSPARK_SUBMIT_ARGS=shlex.join([
            "--driver-java-options", f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "pyspark-shell",
        ]),
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("SPARK_GRAFT_FANOUT", None)
    env.pop("SPARK_GRAFT_SF_DIR", None)
    return env


def run_child(args: list[str], env: dict[str, str], timeout: float, log: str) -> tuple[int, str]:
    """Run a child in its own process group; on timeout kill the group
    (the child's JVM included). Returns (exit code, stdout)."""
    with open(log, "w") as err:
        proc = subprocess.Popen(
            [sys.executable, *args], env=env, cwd=ROOT, stdout=subprocess.PIPE,
            stderr=err, text=True, start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            out, _ = proc.communicate()
            return 124, out
        finally:
            try:  # anything the child left behind in its group
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    return proc.returncode, out


def tail(path: str, n: int = 30) -> str:
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def ensure_data() -> bool:
    if os.path.exists(os.path.join(DATA, "manifest.json")):
        return True
    os.makedirs(os.path.dirname(DATA), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="build-", dir=WORK)
    try:
        out_dir = os.path.join(tmp, "out")
        os.makedirs(out_dir)
        code, _ = run_child(
            [os.path.join(HERE, "gen.py"), out_dir], child_env(tmp), BUILD_TIMEOUT_S,
            os.path.join(WORK, "build.log"),
        )
        if code != 0:
            print(f"input build failed ({code}):\n{tail(os.path.join(WORK, 'build.log'))}", file=sys.stderr)
            return False
        shutil.rmtree(DATA, ignore_errors=True)
        os.replace(out_dir, DATA)
        return True
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"program not found in this checkout: {missing}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    if not ensure_data():
        return 1

    t0 = time.time()
    tmp = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        out_dir = os.path.join(tmp, "out")
        os.makedirs(out_dir)
        env = child_env(tmp)
        env["PERFBENCH_T0"] = repr(t0)
        log = os.path.join(tmp, "worker.log")
        code, out = run_child(
            [os.path.join(HERE, "worker.py"), args.workload, str(args.seed), str(args.seconds),
             str(args.trace), DATA, out_dir],
            env, RUN_TIMEOUT_S, log,
        )
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if code != 0 or not lines:
            print(f"worker failed ({code}):\n{tail(log)}", file=sys.stderr)
            return 1
        if args.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(
                os.path.join(out_dir, "trace.json"),
                os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
            )
        print("\n".join(lines))
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
