"""Property checks for the Bloom-filter FPR report (membership member
of the observe-don't-trust sketch family), per-source embedding
centroid drift (exact e6-long sums, dim-ordered cosine), and the
per-source length-percentile profile. Each row's DuckDB differential
runs in tests/test_oracles.py."""

from __future__ import annotations

import math


from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import built_plan


def _load(spark, table):
    from hummingbirddatapipeline_spark.tables import load

    return load(spark, SF, table)


def test_bloom_fpr_matches_duckdb(catalog_rows):
    got = catalog_rows("sketch_bloom_fpr")
    assert len(got) == 1
    m, n_members, n_probes, n_fp, fpr, fpr_theory = got[0]
    assert m == 16 * 63
    assert 0 <= n_fp <= n_probes
    assert 0.0 <= fpr <= 1.0 and 0.0 <= fpr_theory <= 1.0


def test_bloom_fpr_saturated_filter(spark):
    """A filter overloaded far beyond its capacity saturates: theory
    approaches 1 and every probe false-positives; an EMPTY member set
    has fpr and theory exactly 0 (no bit ever set)."""
    from hummingbirddatapipeline_spark.operators.contamination import (
        bloom_fpr_report,
    )

    # members: 2000 distinct words into one 63-bit word (m = 63)
    member_text = " ".join(f"m{i}" for i in range(2000))
    rows = [(0, member_text), (500, "p1 p2 p3 p4 p5")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = bloom_fpr_report(docs, split_id=250, n_words=1, n_hashes=3).collect()[0]
    assert r["fpr"] == 1.0
    assert r["fpr_theory"] > 0.999

    docs2 = spark.createDataFrame(
        [(500, "p1 p2 p3")], "doc_id long, text string"
    )
    r2 = bloom_fpr_report(docs2, split_id=250, n_words=4).collect()[0]
    assert r2["n_members"] == 0 and r2["n_fp"] == 0
    assert r2["fpr"] == 0.0 and r2["fpr_theory"] == 0.0


def test_centroid_drift_matches_duckdb(catalog_rows):
    got = catalog_rows("similarity_centroid_drift")
    assert len(got) > 0
    for _src, n_vecs, cos in got:
        assert n_vecs > 0
        assert -1.0 - 1e-9 <= cos <= 1.0 + 1e-9


def test_centroid_drift_fixture(spark):
    """Two sources on orthogonal axes: each centroid's cosine to the
    global (diagonal) centroid is exactly cos 45 deg = 0.707107."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        centroid_drift_by_source,
    )

    docs = spark.createDataFrame(
        [(1, "A"), (2, "B")], "doc_id long, source string"
    )
    vecs = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [0.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r["source"]: r["cos_to_global"]
        for r in centroid_drift_by_source(vecs, docs).collect()
    }
    assert rows["A"] == rows["B"] == round(1 / math.sqrt(2), 6)


def test_length_profile_matches_duckdb(catalog_rows):
    got = catalog_rows("text_length_profile")
    assert len(got) > 0
    for _src, n, p25, p50, p75, p95, mean_e2 in got:
        assert n > 0
        assert p25 <= p50 <= p75 <= p95
        assert mean_e2 > 0


def test_length_profile_fixture(spark):
    """Closed-form percentiles on counts [1, 2, 3, 4]: p25 = 1.75,
    p50 = 2.5, p75 = 3.25, p95 = 3.85 (the (n-1)*p interpolation);
    mean_e2 = 250."""
    from hummingbirddatapipeline_spark.operators.tokenization import (
        length_profile_by_source,
    )

    docs = spark.createDataFrame(
        [
            (1, "a", "s"),
            (2, "a b", "s"),
            (3, "a b c", "s"),
            (4, "a b c d", "s"),
        ],
        "doc_id long, text string, source string",
    )
    r = length_profile_by_source(docs).collect()[0]
    # p95 carries the IEEE representation of (n-1)*0.95: the fraction
    # 0.85 is inexact, so compare against the same-arithmetic value
    p95 = 3 + (3 * 0.95 - 2) * 1.0
    assert (r["p25"], r["p50"], r["p75"], r["p95"]) == (
        1.75,
        2.5,
        3.25,
        p95,
    )
    assert r["mean_tok_e2"] == 250


def test_r31_plan_contracts(spark):
    """bloom FPR: the filter is one broadcast row (<= 2 BNLJ: the
    filter attach + the 1-row member-count attach); probing is a
    vocab-sized scan. centroid drift: vector payloads reduce to
    quantized longs before any exchange. length profile: one stratum
    aggregate, zero joins."""
    from hummingbirddatapipeline_spark.operators.contamination import (
        bloom_fpr_report,
    )
    from hummingbirddatapipeline_spark.operators.similarity import (
        centroid_drift_by_source,
    )
    from hummingbirddatapipeline_spark.operators.tokenization import (
        length_profile_by_source,
    )

    docs = _load(spark, "documents")
    plan = built_plan(bloom_fpr_report(docs))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2

    plan = built_plan(
        centroid_drift_by_source(_load(spark, "embeddings"), docs)
    )
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1

    plan = built_plan(length_profile_by_source(docs))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
