"""Property checks for the islands-and-gaps freshness report over
events, the ViT patch-grid manifest over synthetic image metadata, and
the TPC-H-Q14-shaped monthly promo-revenue share. Each row's DuckDB
differential runs in tests/test_oracles.py (the gap oracle re-derives
the per-user epoch-ms lag; the patch oracle rebuilds the synthetic
metadata and every ceil-division; the promo oracle recomputes exact
cent sums per the q1 money convention)."""

from __future__ import annotations

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import built_plan


def _load(spark, table):
    from hummingbirddatapipeline_spark.tables import load

    return load(spark, SF, table)


def test_gap_report_matches_duckdb(catalog_rows):
    got = catalog_rows("events_gap_report")
    assert len(got) > 0
    for _u, start, end, gap in got:
        assert gap == end - start >= 3_600_000


def test_gap_report_fixture(spark):
    """Engineered stream: user 1 has a 2h silence between 10:00 and
    12:00 (reported) and a 30-min one (not, at the 1h threshold);
    simultaneous events produce a 0 gap and never surface."""
    from hummingbirddatapipeline_spark.operators.temporal import (
        gap_report,
    )

    rows = spark.createDataFrame(
        [
            (1, "2024-01-01 09:30:00"),
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 12:00:00"),
            (1, "2024-01-01 12:00:00"),
            (2, "2024-01-01 00:00:00"),
        ],
        "user_id long, ts_s string",
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    got = gap_report(rows, min_gap_sec=3600).collect()
    assert len(got) == 1
    r = got[0]
    assert r["user_id"] == 1 and r["gap_ms"] == 7_200_000


def test_patch_plan_matches_duckdb(catalog_rows):
    got = catalog_rows("multimodal_patch_plan")
    assert len(got) > 0
    for _id, w, h, npx, npy, n, pad_x, pad_y in got:
        assert npx == -(-w // 16) and npy == -(-h // 16)
        assert n == npx * npy
        assert 0 <= pad_x < 16 and 0 <= pad_y < 16
        assert npx * 16 == w + pad_x and npy * 16 == h + pad_y


def test_patch_plan_fixture(spark):
    """Exact grid arithmetic: 224x224 at 16 -> 14x14 = 196 patches,
    zero padding; 17x16 -> 2x1 with 15px right-pad."""
    from pyspark.sql import functions as F

    from hummingbirddatapipeline_spark.multimodal.core import patch_plan

    media = spark.createDataFrame(
        [(1, 224, 224, "image"), (2, 17, 16, "image"), (3, 50, 50, "audio")],
        "media_id long, w int, h int, kind string",
    ).select(
        "media_id",
        F.struct(
            F.col("kind").alias("kind"),
            F.col("w").alias("width"),
            F.col("h").alias("height"),
        ).alias("media_meta"),
    )
    rows = {r["media_id"]: r for r in patch_plan(media, 16).collect()}
    assert 3 not in rows  # non-image filtered
    assert rows[1]["n_patches"] == 196
    assert rows[1]["pad_x"] == 0 and rows[1]["pad_y"] == 0
    assert rows[2]["n_patch_x"] == 2 and rows[2]["n_patch_y"] == 1
    assert rows[2]["pad_x"] == 15 and rows[2]["pad_y"] == 0


def test_q14_promo_matches_duckdb(catalog_rows):
    got = catalog_rows("q14_promo_effect")
    assert len(got) > 0
    for month, promo, total, pct in got:
        assert 1 <= month <= 12
        assert 0 <= promo <= total
        assert pct == round(100.0 * promo / total, 6)


def test_r25_plan_contracts(spark):
    """gap_report: ONE key-hash exchange for the lag window, zero
    joins. patch_plan: a zero-exchange map pass. q14: the part side
    is a BroadcastHashJoin and the ship-date predicate reaches the
    parquet scan."""
    from hummingbirddatapipeline_spark.catalog.relational import (
        q14_promo_effect,
    )
    from hummingbirddatapipeline_spark.multimodal.core import (
        patch_plan,
        synth_media_from_documents,
    )
    from hummingbirddatapipeline_spark.operators.temporal import (
        gap_report,
    )

    plan = built_plan(gap_report(_load(spark, "events")))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan

    plan = built_plan(
        patch_plan(synth_media_from_documents(_load(spark, "documents")))
    )
    assert "Exchange" not in plan
    assert "Join" not in plan

    plan = built_plan(q14_promo_effect(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or (
        "l_shipdate" in plan.split("PushedFilters")[1][:200]
        if "PushedFilters" in plan
        else False
    )
