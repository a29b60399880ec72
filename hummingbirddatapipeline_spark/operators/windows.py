"""Window / time-series operators (SURVEY.md §2.5 W1–W7).

All trend logic in the reference partitions by entity and orders by
year — textbook Spark window functions. These helpers are the building
blocks for the 990/IPEDS trend domains and reusable for any entity-year
long table. No UDFs; a single shuffle on the entity key serves every
window in the stage.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def entity_year_window(entity_col: str, year_col: str) -> Window:
    return Window.partitionBy(entity_col).orderBy(year_col)


def with_prior_fields(
    df: DataFrame, entity_col: str, year_col: str, fields: Sequence[str]
) -> DataFrame:
    """W1 prep — add ``prior_<field>`` (previous available year's value)
    and ``years_gap`` columns.

    Parity: "use most recent prior year" (990.py:1000-1004) — lag over
    year ordering is exactly the most recent prior filing, even with
    gaps; ``years_gap`` feeds gap-annualized growth.
    """
    w = entity_year_window(entity_col, year_col)
    cols: dict[str, Column] = {f"prior_{f}": F.lag(f).over(w) for f in fields}
    cols["years_gap"] = (F.col(year_col) - F.lag(year_col).over(w)).cast("int")
    return df.withColumns(cols)


def latest_per_entity(
    df: DataFrame,
    entity_col: str,
    year_col: str,
    prefer_year: int | None = None,
    usable_col: str | None = None,
) -> DataFrame:
    """W4/W5 — as-of selection: one row per entity, preferring the
    target year, then usability, then recency.

    Parity: score most recent year preferring target (990.py:1226-1236,
    1302-1307); usable-year fallback (ipeds_v5.py:1443-1458).
    """
    order = []
    if prefer_year is not None:
        order.append(F.when(F.col(year_col) == prefer_year, 1).otherwise(0).desc())
    if usable_col is not None:
        order.append(F.col(usable_col).cast("int").desc())
    order.append(F.col(year_col).desc())
    w = Window.partitionBy(entity_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def rolling_window_stats(
    df,
    key_col: str,
    ts_col: str,
    window_ms: int,
    value_col: str | None = None,
):
    """Per-event trailing-window features: for every row, the count
    (and, with ``value_col``, the 6dp-rounded sum) of the entity's
    events in ``(ts - window_ms, ts]`` — the classic feature-store
    shape ("events in the last 7 days as of each event").

    One shuffle on ``key_col`` serves a native RANGE-frame window over
    the integer timestamp — no self-join, no explode; state per
    partition is the frame buffer. Ties at the same timestamp are all
    inside each other's frame (RANGE semantics), which both engines
    define identically, so the output is exactly reproducible in ANSI
    SQL (DuckDB ``RANGE BETWEEN n PRECEDING AND CURRENT ROW``).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).cast("long"))
        .rangeBetween(-(window_ms - 1), 0)
    )
    out = df.withColumn("n_in_window", F.count("*").over(w).cast("long"))
    if value_col is not None:
        out = out.withColumn(
            "sum_in_window", F.round(F.sum(value_col).over(w), 6)
        )
    return out


def mad_anomaly_hours(
    events: DataFrame,
    k: float = 3.0,
    ts_ms_col: str = "ts_ms",
    key_col: str = "user_id",
) -> DataFrame:
    """Robust per-entity anomaly detection over hourly activity —
    median absolute deviation instead of the z-score's mean/stddev
    (events_anomaly_zscore's fragile cousin: one huge hour inflates a
    stddev and hides itself; the median/MAD pair does not break down
    until half the hours are corrupted). Flags hours where
    |count - median| > k * MAD; entities whose MAD is 0 (constant
    activity) flag nothing by convention — any deviation there is
    better caught by the exact-count reports.

    Exactness: hourly counts are integers; median/MAD interpolate at
    0.5 over integers, so every statistic is an exact half-integer
    both engines produce bit-identically (verified: Spark
    percentile == DuckDB median on even and odd counts); the flag
    compare is then row-local IEEE.

    Returns flagged rows (key, hour_ms, n_events, med, mad,
    deviation). Scale shape: one (key, hour) hash aggregate, two
    key-level median aggregates, and key-keyed joins that reuse the
    same partitioning — entities independent, no global state.
    """
    hourly = events.select(
        F.col(key_col),
        (F.floor(F.col(ts_ms_col) / 3_600_000) * 3_600_000)
        .cast("long")
        .alias("hour_ms"),
    ).groupBy(key_col, "hour_ms").agg(F.count("*").alias("n_events"))
    med = hourly.groupBy(key_col).agg(
        F.expr("percentile(n_events, 0.5)").alias("med")
    )
    with_med = hourly.join(med, key_col)
    mad = with_med.groupBy(key_col).agg(
        F.expr("percentile(abs(n_events - med), 0.5)").alias("mad")
    )
    dev = F.abs(F.col("n_events").cast("double") - F.col("med"))
    return (
        with_med.join(mad, key_col)
        .filter((F.col("mad") > 0) & (dev > k * F.col("mad")))
        .select(
            key_col,
            "hour_ms",
            "n_events",
            "med",
            "mad",
            F.round(dev, 6).alias("deviation"),
        )
    )
