"""Local differential harness: runs every catalog query on Spark and its
oracle SQL on DuckDB over the same parquet tables and compares them with
``compare`` — the one differential verdict, shared with
``tests/test_oracles.py`` (which gates every ORACLES row at sf0.001 on
the tuned session).

The sweep always builds a bare session (local[4], UTC, default configs —
not the repo's tuned session factory), the one the ``__spark_entry__``
rows are verified on, so a pass at sf0.01 is the correctness gate.

Usage:
    python tools/check_oracle.py [sf_dir] [query_name ...]
    python tools/check_oracle.py [sf_dir] --skip name [name ...]

``--skip`` inverts the selection (run everything EXCEPT the named
rows) — for above-driver-scale sweeps where a few exact-closure
oracles are quadratic in corpus size and their contract caps do not
bind yet (see PLANS.md "cap-biting-scale" notes). Set
CHECK_ORACLE_TIMES=1 to append per-row spark/oracle seconds to each
line (off by default so driver-facing output stays byte-stable).
Set CHECK_ORACLE_TIMEOUT=<secs> to put a watchdog on each ORACLE
execution (duckdb con.interrupt() from a timer thread): a row whose
oracle exceeds the budget prints ``SKIP-TIMEOUT`` and counts as
skipped, not failed — only meaningful for above-driver-scale sweeps;
the driver-scale gates run without it and a timeout there is a bug.
"""

from __future__ import annotations

import math
import os
import sys
import threading
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    """Sort columns by name, normalize floats/timestamps, sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            # EXACT float compare (matches the driver's value-hash gate).
            # Pass CHECK_ORACLE_TOL=9 etc. to debug with a tolerance.
            tol = os.environ.get("CHECK_ORACLE_TOL")
            return round(v, int(tol)) if tol else v.hex()
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, list):
            return tuple(norm_cell(x) for x in v)
        return v

    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def compare(
    spark_cols: list[str],
    spark_rows: list[tuple],
    duck_cols: list[str],
    duck_types: list,
    duck_rows: list[tuple],
) -> list[str]:
    """The differential verdict: problems found, empty when they match.

    Width gate first: the cross-engine value hash is integer-width-sensitive,
    so a DuckDB HUGEINT/int128 output column (e.g. an unwrapped
    SUM(CASE...)) hash-mismatches a Spark BIGINT even when every value
    is equal — ``normalize``'s Python ints cannot see that. Then the
    ordered column list, the row count and the exact (``float.hex``)
    order-insensitive values."""
    problems = []
    wide = sorted(
        c for c, t in zip(duck_cols, duck_types) if str(t) in ("HUGEINT", "UHUGEINT")
    )
    if wide:
        problems.append(f"oracle emits int128 (value hash fails): {wide}")
    if list(spark_cols) != list(duck_cols):
        problems.append(f"cols spark={list(spark_cols)} duck={list(duck_cols)}")
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
    if not problems:
        a = normalize(spark_rows, list(spark_cols))
        b = normalize(duck_rows, list(duck_cols))
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ; first diffs: {diffs}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    skip: set[str] = set()
    if names and names[0] == "--skip":
        skip, names = set(names[1:]), []
    times = bool(os.environ.get("CHECK_ORACLE_TIMES"))
    oracle_budget = float(os.environ.get("CHECK_ORACLE_TIMEOUT", "0"))

    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    qs, oracles = e.queries(), e.oracle_sql()
    unknown = sorted(set(names) - set(qs))
    if unknown:
        print(f"unknown row name(s): {unknown}")
        return 1
    # bare session: local[4], UTC, every other config default
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)

    n_pass = n_fail = n_skip = 0
    for name, fn in qs.items():
        if names and name not in names:
            continue
        if name in skip:
            n_skip += 1
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        t_spark = time.time() - t0
        t1 = time.time()
        watchdog = None
        if oracle_budget:
            watchdog = threading.Timer(oracle_budget, con.interrupt)
            watchdog.start()
        try:
            rel = con.sql(oracles[name])
            duck_cols, duck_types = list(rel.columns), rel.types
            duck_rows = rel.fetchall()
        except Exception as ex:  # noqa: BLE001
            if oracle_budget and "INTERRUPT" in str(ex).upper():
                print(f"SKIP-TIMEOUT {name}: oracle exceeded {oracle_budget:.0f}s")
                n_skip += 1
            else:
                print(f"FAIL {name}: duckdb error: {ex}")
                n_fail += 1
            continue
        finally:
            if watchdog is not None:
                watchdog.cancel()
        t_duck = time.time() - t1
        suffix = f"  [spark {t_spark:.1f}s oracle {t_duck:.1f}s]" if times else ""
        problems = compare(spark_cols, spark_rows, duck_cols, duck_types, duck_rows)
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_rows)} rows){suffix}")
            n_pass += 1
    skipped = f", {n_skip} skipped" if n_skip else ""
    print(f"\n{n_pass} pass, {n_fail} fail{skipped} (bare local[4] UTC, {sf_dir})")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
