"""Canonical table loaders for the driver's parquet test tables.

Mirrors the reference's load layer (CSV scan + header probe + projected
read — ``Hummingbird_Master_engine_990.py:657-717``) but Spark-first:
parquet scans get column pruning and predicate pushdown from Catalyst
for free, so loaders stay declarative. At 100 TB these tables would be
year/date-partitioned parquet or Delta; the API is unchanged.
"""

from __future__ import annotations

import math
import os
import stat
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# ``timestampdiff`` is pure wall-clock arithmetic on TIMESTAMP_NTZ —
# no session-timezone involvement — and matches DuckDB's epoch_ns()
# interpretation of a naive timestamp (wall clock == UTC) exactly.
EVENTS_TS_NANOS_NTZ_EXPR = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    " * CAST(1000 AS BIGINT)"
)


def _events_ts_to_nanos(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to BIGINT epoch nanoseconds.

    The test parquet has shipped ``ts`` as TIMESTAMP(NANOS) (read as
    BIGINT via the legacy conf), as TIMESTAMP_NTZ micros, and could ship
    it as an instant TIMESTAMP; downstream event-time code is all
    integer epoch arithmetic (timezone-proof), so every physical
    encoding converges here.
    """
    t = df.schema["ts"].dataType
    if isinstance(t, LongType):
        return df
    if isinstance(t, TimestampNTZType):
        expr = EVENTS_TS_NANOS_NTZ_EXPR
    else:  # TimestampType: an absolute instant
        expr = "unix_micros(ts) * CAST(1000 AS BIGINT)"
    return df.withColumn("ts", F.expr(expr))


# --- partitioning: the engine's two width rules, both defined here.
# AQE sizes every shuffle by BYTES, and the test tables are written as
# ONE parquet row group each; neither fits a stage whose cost is per-row
# CPU (crypto hashes over grams, dense vector math, compiled scoring
# stacks, per-pair set intersects). Two rules cover it:
#
# 1. Scan fan-out by bytes, ``load(fanout=True|"full")`` (optimization
#    guide §2.5: "input skew: one huge unsplittable file ... repartition
#    immediately after the read"). Spark cannot split a parquet scan
#    below row-group granularity, so a one-row-group scan — and every
#    zero-exchange scan→explode→hash→partial-agg pipeline behind it —
#    runs as a SINGLE task regardless of core count. When the file's
#    effective split count cannot reach the core count, one round-robin
#    repartition of the (tiny) base table fans it out. At production
#    scale the gate is never taken: a 100 TB table is thousands of row
#    groups and bytes/maxPartitionBytes ≫ cores. Round-robin (not hash)
#    keeps the catalog's keyed-exchange plan contracts assertable.
#    OPT-IN: the full-suite A/B (OPTIMIZATION_r15.md) measured the
#    exchange at ~0.5-1 s per consuming query, which swamps the win
#    everywhere except scans measured CPU-bound.
#
# 2. ``cpu_bound(df, *keys)`` for post-shuffle stages: a core-width,
#    explicit-count repartition AQE cannot coalesce (rule in its
#    docstring). Every core-width pin in the engine goes through it, and
#    tests/test_plan_contracts.py asserts each site's exchange.

# Skip fan-out below this size: broadcast dims (region, nation,
# supplier) stay single-task — 32 tasks for 25 rows is pure overhead.
_FANOUT_FLOOR_BYTES = 96 * 1024
# Never round-robin more than this through the exchange: above it a
# scan has real byte-parallelism and the guide's §2.4 "accidental
# repartition" warning applies.
_FANOUT_CEIL_BYTES = 2 * 1024**3
# Cost-aware width (r16, PERF_r15 scaling block): an unconditional
# ``cores``-wide fan-out over-shoots at high core counts — six fanned
# rows ran FASTER at 8 cores than 32 (ratios 0.64-0.84) because 32
# trivial slices of a sub-MB file cost more scheduling than they buy.
# Width now scales with file bytes (~one task per 32 KB of parquet,
# floor 16, cap cores): at 32 cores the 594 KB documents table fans to
# 18 tasks (the interleaved w16-vs-w32 sweep won or tied on every
# fanned row), the 10.8 MB lineitem keeps full width, and at <= 8
# cores nothing changes. Not a local-core-count constant: the bound is
# per-task slice size, and the gate itself never fires at production
# scale (est_tasks >= cores there).
_FANOUT_TARGET_BYTES_PER_TASK = 32 * 1024
_FANOUT_MIN_WIDTH = 16
# ``fanout="full"`` keeps the r15 cores-wide behavior for call sites
# whose per-row CPU is measured extreme relative to their bytes (the
# customer-side haversine / FS-agreement scans: byte-scaled width lost
# the interleaved A/B there while winning on every documents row).
# The width is recomputed on every call from the file's cached facts
# (size, row groups: see ``_FileRecord``) and the current core count
# and ``maxPartitionBytes``, so a second ``tune_for_sf`` takes effect.


# The parquet type-mapping conf that ``load`` sets itself (for
# ``events``): the schema Spark infers for a file depends on it, so its
# value is part of the file's identity.
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@dataclass
class _FileRecord:
    """What the process keeps of one input file between plan builds.

    ``schema`` is Spark's inferred schema, filled by the first ``load``
    (inference runs one Spark job; a read with the schema given runs
    none). ``row_groups`` is the parquet footer's row-group count,
    filled by the first fan-out decision."""

    size: int
    schema: StructType | None = None
    row_groups: int | None = None


# Keyed by file identity: absolute path, size, mtime and _NANOS_AS_LONG.
# A rewritten file has a new identity, so it gets a new record.
_file_records: dict[tuple, _FileRecord] = {}


def _file_record(spark: SparkSession, path: str) -> _FileRecord | None:
    """The record of ``path`` for the current confs, or None when the
    path is not a regular file (a directory of part files is not cached)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    key = (
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
        spark.conf.get(_NANOS_AS_LONG, None),
    )
    rec = _file_records.get(key)
    if rec is None:
        rec = _file_records[key] = _FileRecord(st.st_size)
    return rec


# inline_rows literal-size cap (ADVICE r15). Built as one Column per
# node, the literal cost 2.6 s of Python-side build at 256 rows, 6.4 s at
# 1024 and 32 s at 4096 (py4j calls, super-linear). As one SQL text it
# costs 0.14, 0.28 and 1.0 s. A broadcast join against the frame then
# runs 0.28 / 0.24 / 0.46 s against 0.46 / 0.37 / 0.44 s for
# createDataFrame, whose build is 0.02-0.05 s (local[4], 4 vCPU, one
# run each, two-column (string, int) rows). So the literal wins at 256
# rows, breaks even near 1024 and loses at 4096: the cap stays at 256,
# which keeps every conversion site (1-31 rows at bench scale) on the
# literal path.
_INLINE_ROWS_MAX = 256


def inline_rows(
    spark: SparkSession, rows: list[tuple], schema: str
) -> DataFrame:
    """Tiny literal DataFrame as pure JVM expressions — a drop-in for
    ``spark.createDataFrame(rows, schema)`` on BOUNDED model/config
    state (quantile lists, <=4096-term vocabularies, singleton audit
    rows).

    ``createDataFrame`` over a Python list routes through
    ``sc.parallelize`` -> a ``Scan ExistingRDD`` whose every execution
    round-trips Python workers per partition (measured at sf0.1: the
    3-row quantile frame in sketch_quantile_error contributed a
    multi-second 32-task stage per pass; the SQL tab shows the node).
    Building the same rows as one exploded array-of-structs literal
    keeps the data in the plan: zero Python tasks, one local
    partition, and the frame broadcasts exactly like any LocalRelation.
    The literal goes to the JVM as one SQL text (strings as UTF-8 hex,
    see :func:`_sql_literal`), not one Column per value: constant
    folding gives the same plan, for a few py4j calls instead of
    several per value.

    ``schema`` is the simple "name primitivetype, name primitivetype"
    DDL string the call sites already use; values must be plain Python
    scalars (None allowed). Parameterized or nested types
    (decimal(10,2), array<string>) are NOT supported — the simple
    comma/space parser would mis-split them, so they raise instead
    (ADVICE r15); use ``spark.createDataFrame`` for those.
    """
    fields = []
    for part in schema.split(","):
        toks = part.strip().split()
        if len(toks) != 2 or "(" in part or "<" in part:
            raise ValueError(
                "inline_rows supports only 'name primitivetype' schema "
                f"pairs; got {part.strip()!r} — use createDataFrame for "
                "parameterized/nested types"
            )
        fields.append((toks[0], toks[1]))
    for i, row in enumerate(rows):
        # createDataFrame raises on arity mismatches; match that
        # instead of zip() silently dropping extra values (ADVICE r15)
        if len(row) != len(fields):
            raise ValueError(
                f"inline_rows row {i} has {len(row)} values for "
                f"{len(fields)} schema fields"
            )
    if not rows or len(rows) > _INLINE_ROWS_MAX:
        # Empty literal arrays can't carry the struct type, and large
        # literals invert the trade (see _INLINE_ROWS_MAX), so both
        # ends fall back to createDataFrame.
        return spark.createDataFrame(rows, schema)
    structs = ", ".join(
        "named_struct("
        + ", ".join(
            f"'{name}', CAST({_sql_literal(v)} AS {dtype})"
            for v, (name, dtype) in zip(row, fields)
        )
        + ")"
        for row in rows
    )
    return (
        spark.range(1)
        .selectExpr(f"explode(array({structs})) AS __r")
        .selectExpr(*[f"__r.{name}" for name, _ in fields])
    )


def _sql_literal(v) -> str:
    """SQL text of one plain Python scalar for :func:`inline_rows`,
    which casts it to the field's type. Strings travel as their UTF-8
    bytes in hex (a binary literal), so no character needs escaping;
    floats carry the ``D`` suffix (a bare ``0.1`` parses as
    a decimal) and ``repr`` round-trips them exactly."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return f"X'{v.encode('utf-8').hex()}'"
    raise ValueError(
        f"inline_rows supports None, bool, int, float and str values; got "
        f"{type(v).__name__} — use createDataFrame for other types"
    )


def _parse_bytes(raw: str) -> int:
    s = raw.strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("b", 1),
    ):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(float(s) * mult)


def _fanout_partitions(
    spark: SparkSession, path: str, full: bool = False
) -> int:
    """Partitions to round-robin a fresh scan into, or 0 for no-op.

    0 unless the file is splittable into fewer tasks than cores —
    judged by BOTH the byte-based split count (maxPartitionBytes) and
    the parquet row-group count (the hard splittability bound). Width
    is byte-scaled (see module comment); ``full`` pins it at the core
    count for measured CPU-extreme sites. A path that is not a regular
    file never fans out."""
    rec = _file_record(spark, path)
    if rec is None or not (_FANOUT_FLOOR_BYTES <= rec.size <= _FANOUT_CEIL_BYTES):
        return 0
    if rec.row_groups is None:
        try:  # row groups bound real splittability tighter than bytes do
            import pyarrow.parquet as pq

            rec.row_groups = pq.ParquetFile(path).metadata.num_row_groups
        except Exception:
            rec.row_groups = -1  # unreadable footer: bytes alone decide
    cores = spark.sparkContext.defaultParallelism
    split = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    est_tasks = max(1, -(-rec.size // max(split, 1)))
    if rec.row_groups >= 0:
        est_tasks = min(est_tasks, rec.row_groups)
    if est_tasks >= cores:
        return 0
    if full:
        return cores
    return min(
        cores, max(_FANOUT_MIN_WIDTH, rec.size // _FANOUT_TARGET_BYTES_PER_TASK)
    )


def load(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fanout: bool | str = False,
) -> DataFrame:
    """Load one canonical table as a DataFrame.

    ``events.ts`` is normalized to BIGINT epoch nanos whatever the
    parquet encoding (see ``_events_ts_to_nanos``); event time stays
    integer epoch arithmetic — timezone-proof by construction.

    With ``fanout=True``, a scan whose file cannot split into at least
    ``defaultParallelism`` tasks is fanned out with one round-robin
    repartition (see ``_fanout_partitions``); filters and column
    pruning still push through the repartition to the parquet scan.
    Opt in only where the scan stage is measured CPU-bound (see module
    comment).

    The schema of a table file is inferred once per file identity
    (path, size, mtime, type-mapping conf; see ``_FileRecord``):
    inference runs a Spark job over the footer, so later loads of the
    same file read with the cached schema and build their plan without
    one. A path that is not a regular file is inferred on every load.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        spark.conf.set(_NANOS_AS_LONG, "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    rec = _file_record(spark, path)
    if rec is not None and rec.schema is not None:
        df = spark.read.schema(rec.schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if rec is not None:
            rec.schema = df.schema
    if name == "events":
        df = _events_ts_to_nanos(df)
    if fanout:
        n = _fanout_partitions(spark, path, full=(fanout == "full"))
        if n:
            df = df.repartition(n)
    return df


def cpu_bound(df: DataFrame, *keys: str) -> DataFrame:
    """Pin a post-shuffle stage whose cost is per row at core width.

    - AQE coalesces shuffle partitions by BYTES, but these stages cost
      per ROW (or per pair), so a bytes-small frame lands on one or a
      few tasks.
    - An explicit-count repartition is never coalesced, so the stage
      keeps ``defaultParallelism`` tasks.
    - With ``keys`` the hash repartition satisfies the consumer's own
      distribution (aggregate, window, join) and replaces its exchange
      instead of adding one; without keys it is one round-robin
      exchange of the frame.

    Distribution never changes results. At cluster scale the frame is
    large enough that this is a cheap rebalance, not a fan-out.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def write_versioned(df: DataFrame, base_dir: str) -> str:
    """Versioned write-and-swap: the engine's answer to the reference's
    in-place master CSV overwrite (master_acreage_merge.py:33;
    ipeds.py:1150-1151 share one in/out path).

    Writes ``base_dir/v{N}`` (N = 1 + latest existing) and then points
    ``base_dir/_latest`` at it, so readers of the previous version are
    never disturbed and every historical master remains auditable. On
    Delta this collapses to table versions; on plain parquet this
    layout IS the history.
    """
    os.makedirs(base_dir, exist_ok=True)
    versions = [
        int(d[1:])
        for d in os.listdir(base_dir)
        if d.startswith("v") and d[1:].isdigit()
    ]
    n = max(versions, default=0) + 1
    path = os.path.join(base_dir, f"v{n}")
    df.write.mode("error").parquet(path)
    with open(os.path.join(base_dir, "_latest"), "w") as f:
        f.write(f"v{n}")
    return path


def read_latest_version(spark: SparkSession, base_dir: str) -> DataFrame:
    with open(os.path.join(base_dir, "_latest")) as f:
        v = f.read().strip()
    return spark.read.parquet(os.path.join(base_dir, v))


def write_year_partitioned(df: DataFrame, path: str, year_col: str = "year") -> None:
    """Year-partitioned layout for entity-year long tables — the at-rest
    shape that turns the reference's per-year file pruning
    (990.py:1474-1476) into automatic partition pruning at 100 TB."""
    df.write.mode("overwrite").partitionBy(year_col).parquet(path)
