"""Build the benchmark's input tables: ``python3 perfbench/gen.py OUT_DIR``.

The tables come from the repository's own synthetic generator
(``tools/gen_sf.py``, content-addressed: every cell is a hash of its
table, key and field, so every build holds the same rows). The
generator writes one Spark directory per table; this script compacts
each into a single ``<table>.parquet`` file, the layout TESTDATA.md
describes, because the engine sizes its scan fan-out from file bytes
and row groups and DuckDB reads single files.

Runs in its own process (``run.py`` starts it once per checkout and
caches the result), so the Spark session it starts ends with it.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = 0.01
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main(out_dir: str) -> None:
    from pyspark.sql import SparkSession

    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(ROOT, "tools", "gen_sf.py")
    )
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)

    spark = (
        SparkSession.builder.master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
        .appName("perfbench-gen")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        raw = os.path.join(out_dir, "_raw")
        counts = gen_sf.gen_tables(spark, SF, raw)
        for t in TABLES:
            staged = os.path.join(out_dir, f"_one_{t}")
            spark.read.parquet(os.path.join(raw, f"{t}.parquet")).coalesce(1).write.parquet(
                staged
            )
            (part,) = glob.glob(os.path.join(staged, "part-*.parquet"))
            os.replace(part, os.path.join(out_dir, f"{t}.parquet"))
            shutil.rmtree(staged)
        shutil.rmtree(raw)
    finally:
        spark.stop()
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"sf": SF, "rows": counts}, f, sort_keys=True)


if __name__ == "__main__":
    main(sys.argv[1])
