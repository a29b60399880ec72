"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configs are
what we would set cluster-side for the 100 TB deployment (AQE on, skew
join handling, sane shuffle partitioning, Arrow for the few pandas-UDF
paths). Everything else is left to Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Size of Spark's JVM-wide LRU cache of compiled generated classes
# (spark.sql.codegen.cache.maxEntries). It is a static conf: the cache
# is sized when codegen first runs, so only the builder can set it. At
# the default of 100 the cache is smaller than one dedup pass, which
# generates 141 distinct classes: each pass evicts what the next one
# needs, so every rebuild recompiles about 110-135 classes (1 s of
# Janino time at sf0.01) and runs them cold in the JVM. 4000 also holds
# the 2,601 distinct classes of bench.py's HEADLINE set (sf0.01, one
# session), with 50% headroom for other scale factors' plans; holding
# all of them took the heap after GC from 278 MB (cap 1000) to 334 MB.
CODEGEN_CACHE_ENTRIES = 4000


def get_spark(app_name: str = "hummingbird-spark") -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Session timezone is pinned to UTC so timestamp semantics match the
    DuckDB oracle (naive timestamps) exactly.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local-mode driver default is 1g; large collects (differential
        # checks at sf0.1+) need real headroom. No effect cluster-side.
        .config("spark.driver.memory", "8g")
        # AQE: runtime coalescing, skew-join splitting, dynamic broadcast.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # One shuffle partition per core locally; on a real cluster this
        # is sized to ~128MB per task and AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


def tune_for_sf(spark: SparkSession, sf_dir: str) -> None:
    """Adjust runtime-settable knobs to the input volume.

    Sizing rule (the one we would apply cluster-side at 100 TB):
    target ~128 MB per scan task and roughly 2 shuffle partitions per
    core, floored so tiny scale factors don't over-parallelize; AQE
    coalesces downward at runtime either way.
    """
    try:
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(sf_dir)
            for f in files
        )
    except OSError:
        return
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Scan split size: aim for ~3 tasks per core so CPU-heavy per-row
    # work (hashing, explode pipelines, Arrow batches) parallelizes even
    # when the whole input is a few MB; capped at the classic 128 MB so
    # the very same rule sizes a 100 TB scan to 128 MB tasks.
    task_bytes = int(min(max(total // (cores * 3), 1 * 1024 * 1024), 128 * 1024 * 1024))
    by_data = max(total // task_bytes, 1)
    partitions = int(max(min(by_data, cores * 4), cores))
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(task_bytes))
    # Deliberately NOT tuned: spark.sql.adaptive.coalescePartitions.
    # minPartitionSize. An r15 interleaved A/B (OPTIMIZATION_r15.md)
    # scaled the floor down to 16 KB so tiny CPU-bound post-shuffle
    # stages would keep core-count parallelism — with the scan fan-out
    # in place it bought nothing on the CPU-heavy rows (bloom/DSIR warm
    # identical) and cost the iterative graph family ~4 s cold
    # (pagerank: every tiny per-round shuffle split into more tasks),
    # so the 1 MB default stands.
