"""Property checks for the bidirectional embedding-coverage DQ report,
the per-source embedding norm profile, and the character-entropy
quality signal. Each row's DuckDB differential runs in
tests/test_oracles.py (the coverage oracle re-derives the full-outer
join and the orphan fold; the profile oracle recomputes every e6 norm
and the exact-long mean; the entropy oracle replays the
sorted-distinct fold order char by char)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import built_plan


def _load(spark, table):
    from hummingbirddatapipeline_spark.tables import load

    return load(spark, SF, table)


def test_embedding_coverage_matches_duckdb(catalog_rows):
    got = catalog_rows("dq_embedding_coverage")
    assert len(got) > 0
    for src, n_docs, n_matched, n_doc_only, n_vec_only, cov in got:
        assert n_docs == n_matched + n_doc_only
        if src != "__orphan__":
            assert n_vec_only == 0
            assert cov == round(n_matched / n_docs, 6)


def test_embedding_coverage_fixture(spark):
    """Planted holes: doc 3 has no vector, vector 99 has no doc —
    exact per-source counts plus the __orphan__ row."""
    from hummingbirddatapipeline_spark.operators.expectations import (
        embedding_coverage,
    )

    docs = spark.createDataFrame(
        [(1, "s1"), (2, "s1"), (3, "s1"), (4, "s2")],
        "doc_id long, source string",
    )
    vecs = spark.createDataFrame(
        [(1,), (2,), (4,), (99,)], "vec_id long"
    )
    rows = {r["source"]: r for r in embedding_coverage(docs, vecs).collect()}
    assert rows["s1"]["n_docs"] == 3 and rows["s1"]["n_matched"] == 2
    assert rows["s1"]["n_doc_only"] == 1
    assert rows["s1"]["coverage"] == round(2 / 3, 6)
    assert rows["s2"]["coverage"] == 1.0
    assert rows["__orphan__"]["n_vec_only"] == 1
    assert rows["__orphan__"]["n_docs"] == 0
    assert rows["__orphan__"]["coverage"] == 0.0


def test_source_profile_matches_duckdb(catalog_rows):
    got = catalog_rows("similarity_source_profile")
    assert len(got) > 0
    for _src, n, mean_e6, mn, mx in got:
        assert n > 0 and mn <= mean_e6 <= mx


def test_source_profile_scale_invariance(spark):
    """Doubling every vector component doubles min/mean/max norms
    exactly (e6-rounded) on an engineered integer fixture."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        embedding_source_profile,
    )

    docs = spark.createDataFrame(
        [(1, "s1"), (2, "s1")], "doc_id long, source string"
    )
    vecs1 = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [6.0, 8.0])],
        "vec_id long, embedding array<float>",
    )
    vecs2 = spark.createDataFrame(
        [(1, [6.0, 8.0]), (2, [12.0, 16.0])],
        "vec_id long, embedding array<float>",
    )
    r1 = embedding_source_profile(vecs1, docs).collect()[0]
    r2 = embedding_source_profile(vecs2, docs).collect()[0]
    assert r1["min_norm_e6"] == 5_000_000 and r1["max_norm_e6"] == 10_000_000
    assert r1["mean_norm_e6"] == 7_500_000
    assert r2["min_norm_e6"] == 2 * r1["min_norm_e6"]
    assert r2["mean_norm_e6"] == 2 * r1["mean_norm_e6"]


def test_char_entropy_matches_duckdb(catalog_rows):
    got = catalog_rows("text_char_entropy")
    assert len(got) > 0
    for _id, n_chars, ent in got:
        assert ent >= 0.0
        if n_chars:
            # entropy of k distinct chars is bounded by ln(k) <= ln(n)
            assert ent <= round(math.log(n_chars), 6) + 1e-9 or n_chars == 1


def test_char_entropy_fixture(spark):
    """Closed-form anchors: 'aaaa' -> 0; 'ab' -> ln 2; 'abcd' ->
    ln 4; empty -> 0.0 by convention."""
    from hummingbirddatapipeline_spark.functions.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd"), (4, "")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["e"]
        for r in docs.select(
            "doc_id", char_entropy(F.col("text")).alias("e")
        ).collect()
    }
    assert rows[1] == 0.0
    assert rows[2] == round(math.log(2), 6)
    assert rows[3] == round(math.log(4), 6)
    assert rows[4] == 0.0


def test_r26_plan_contracts(spark):
    """embedding_coverage: skinny-projected full-outer equi-join, no
    nested loops. source_profile: norms reduce map-side BEFORE the
    join (the join ships one long per vector, never the array).
    char_entropy: a zero-shuffle map pass."""
    from hummingbirddatapipeline_spark.functions.text import char_entropy
    from hummingbirddatapipeline_spark.operators.expectations import (
        embedding_coverage,
    )
    from hummingbirddatapipeline_spark.operators.similarity import (
        embedding_source_profile,
    )

    docs, vecs = _load(spark, "documents"), _load(spark, "embeddings")
    plan = built_plan(embedding_coverage(docs, vecs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = built_plan(embedding_source_profile(vecs, docs))
    assert "CartesianProduct" not in plan
    # the vector payload must not cross the join: no 'embedding'
    # column in any exchange/join output after the norm projection
    join_part = plan.split("Join")[0]
    assert "norm_e6" in plan

    plan = built_plan(
        docs.select(char_entropy(F.col("text")).alias("e"))
    )
    assert "Exchange" not in plan and "Join" not in plan
