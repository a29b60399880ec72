"""Steadiness check: is each end-to-end metric steady enough for its bound?

    python3 perfbench/steady.py --workload etl_scoring --runs 10
    python3 perfbench/steady.py --files out/*.txt     # saved run.py outputs
    python3 perfbench/steady.py --selftest

Runs the benchmark (or reads saved outputs) in two sets, and prints for
every end-to-end metric of BENCHMARK.json: each set's median and
spread (Q3 - Q1 over the median, ``statistics.quantiles(n=4)``), the
shift between the two medians, and the metric's bound. Flags:

- ``SPREAD``: a set's spread exceeds the bound;
- ``SHIFT``: the two medians differ by more than the bound (either way:
  both sets ran the same code);
- ``NOISY``: a spread above a third of the bound, the target for a
  benchmark that will be compared across commits;
- ``SUBSECOND``: a time whose median is under a second. One short
  timing per run (a single row's rerun, or a percentile over a handful
  of different queries) swings by more than any usable bound, so such
  a metric needs more work per sample.

Exits 1 when any metric is flagged SPREAD or SHIFT.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def judge(name: str, unit: str, bound: float, a: list[float], b: list[float]) -> tuple[str, list[str]]:
    """Both sets ran the same code, so a shift either way is noise."""
    ma, mb = statistics.median(a), statistics.median(b)
    shift = (mb - ma) / ma
    sa, sb = spread(a), spread(b)
    flags = []
    if max(sa, sb) > bound:
        flags.append("SPREAD")
    if abs(shift) > bound:
        flags.append("SHIFT")
    if max(sa, sb) > bound / 3:
        flags.append("NOISY")
    if unit == "s" and min(ma, mb) < 1.0:
        flags.append("SUBSECOND")
    line = (
        f"{name:18s} {ma:10.4g} {mb:10.4g} {100 * shift:+7.1f}% {100 * sa:6.1f}% "
        f"{100 * sb:6.1f}% {100 * bound:6.1f}%  {' '.join(flags) or 'ok'}"
    )
    return line, flags


def report(workload: str, runs_a: list[dict], runs_b: list[dict], spec: dict) -> bool:
    print(f"\n{workload}: {len(runs_a)} + {len(runs_b)} runs")
    print(f"{'metric':18s} {'median A':>10s} {'median B':>10s} {'shift':>8s} {'IQR A':>7s} {'IQR B':>7s} {'bound':>7s}  flags")
    ok = True
    for m in spec["end_to_end"]:
        a = [r["metrics"][m["name"]]["value"] for r in runs_a]
        b = [r["metrics"][m["name"]]["value"] for r in runs_b]
        line, flags = judge(m["name"], m["unit"], m["bound"], a, b)
        print(line)
        ok &= not {"SPREAD", "SHIFT"} & set(flags)
    fails = sum(r["failed"] for r in runs_a + runs_b)
    if fails:
        print(f"failed operations: {fails}")
        ok = False
    return ok


def parse_output(text: str) -> tuple[str, dict]:
    lines = [ln for ln in text.splitlines() if ln.strip()]
    detail = json.loads(lines[-2])["detail"]
    return detail["workload"], json.loads(lines[-1])


def run_sets(workload: str, runs: int, seconds: int) -> tuple[list[dict], list[dict]]:
    """2 x ``runs`` runs with distinct seeds; set A then set B."""
    out = []
    for seed in range(1, 2 * runs + 1):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        )
        out.append(parse_output(p.stdout)[1])
        print(f"  {workload} seed {seed} done", file=sys.stderr)
    return out[:runs], out[runs:]


def selftest() -> bool:
    """The two metrics that made an earlier benchmark too noisy to use: a
    single row's rerun time and a median over a handful of different
    queries. Their two sets of runs had medians 0.32/0.27 s and
    0.49/0.44 s; the runs below are synthetic values around those
    medians. Both metrics must be flagged."""
    cases = [
        ("rerun_s", [0.32, 0.31, 0.33, 0.29, 0.35, 0.32, 0.30, 0.34, 0.32, 0.33],
         [0.27, 0.26, 0.29, 0.27, 0.25, 0.28, 0.27, 0.30, 0.27, 0.26]),
        ("query_p50_s", [0.49, 0.47, 0.52, 0.49, 0.45, 0.50, 0.49, 0.53, 0.48, 0.49],
         [0.44, 0.43, 0.46, 0.44, 0.41, 0.45, 0.44, 0.47, 0.44, 0.42]),
    ]
    ok = True
    for name, a, b in cases:
        line, flags = judge(name, "s", 0.1, a, b)
        print(line)
        ok &= "SHIFT" in flags and "SUBSECOND" in flags
    print("selftest", "ok" if ok else "FAILED")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--files", nargs="+", help="saved run.py outputs; each workload's split in halves")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        return 0 if selftest() else 1
    spec = load_spec()
    if args.files:
        by_wl: dict[str, list[dict]] = {}
        for path in args.files:
            with open(path) as f:
                wl, res = parse_output(f.read())
            by_wl.setdefault(wl, []).append(res)
        sets = {wl: (rs[: len(rs) // 2], rs[len(rs) // 2:]) for wl, rs in by_wl.items()}
    elif args.workload:
        sets = {args.workload: run_sets(args.workload, args.runs, spec["run_seconds"])}
    else:
        ap.error("give --workload, --files or --selftest")
    ok = all([report(wl, a, b, spec) for wl, (a, b) in sets.items()])
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
