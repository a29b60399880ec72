"""Property checks for the cross-source duplication matrix
(data-provenance observability over the near-dup graph), per-document
TF-IDF keyword extraction (corpus profiling), and the PQ
reconstruction-distortion report (the index-quality acceptance step
that closes the ANN train -> encode -> search -> measure arc). Each
row's DuckDB differential runs in tests/test_oracles.py (the matrix
oracle re-derives the exact Jaccard pair graph from raw text and
recounts cells; the keywords oracle rebuilds tf/df/smoothed idf and
the top-k cut; the distortion oracle unrolls all m Lloyd trajectories
and re-picks each vector's argmin (code, distance))."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import built_plan, documents


def _emb(spark):
    from hummingbirddatapipeline_spark.tables import load

    return load(spark, SF, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )


def test_cross_source_matrix_matches_duckdb(spark, catalog_rows):
    from hummingbirddatapipeline_spark.catalog.dedup_q import (
        shared_jaccard_pairs,
    )

    got = catalog_rows("dedup_cross_source_matrix")
    assert len(got) > 0

    # conservation: cell pair counts sum to the full pair-set size,
    # cells are canonically ordered, and doc counts are sane
    assert sum(r[2] for r in got) == shared_jaccard_pairs(spark, SF).count()
    for sa, sb, n_pairs, n_docs in got:
        assert sa <= sb
        assert n_pairs >= 1
        assert 2 <= n_docs <= 2 * n_pairs


def test_cross_source_matrix_attribution_is_exact(spark):
    """Engineered 3-source fixture: every pair lands in its exact
    cell, A-B and B-A attribution collapse to one ordered cell, and a
    doc in two pairs is counted once per cell."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        cross_source_dup_matrix,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 1), (5, 6)], "id_a long, id_b long"
    )
    meta = spark.createDataFrame(
        [
            (1, "srcB"),
            (2, "srcA"),
            (3, "srcB"),
            (4, "srcA"),
            (5, "srcC"),
            (6, "srcC"),
        ],
        "doc_id long, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): (r["n_pairs"], r["n_docs"])
        for r in cross_source_dup_matrix(pairs, meta).collect()
    }
    # (1,2) B-A and (4,1) A-B both land in (srcA, srcB); doc 1 counted
    # once per cell -> docs {1, 2, 4}
    assert out[("srcA", "srcB")] == (2, 3)
    assert out[("srcB", "srcB")] == (1, 2)  # within-source pair (1,3)
    assert out[("srcC", "srcC")] == (1, 2)
    assert len(out) == 3


def test_tfidf_keywords_matches_duckdb(catalog_rows):
    got = catalog_rows("text_tfidf_keywords")
    assert len(got) > 0

    per_doc = {}
    for doc_id, term, tf, df, score, rank in got:
        assert tf >= 1 and df >= 1 and score > 0
        per_doc.setdefault(doc_id, []).append((rank, score, term))
    for doc_id, rows in per_doc.items():
        rows.sort()
        assert [r for r, _, _ in rows] == list(range(1, len(rows) + 1))
        scores = [s for _, s, _ in rows]
        assert scores == sorted(scores, reverse=True)


def test_tfidf_keywords_surfaces_the_distinctive_term(spark):
    """Constructive: a term unique to one doc (df = 1) with high tf
    must outrank corpus-common stopword-ish terms for that doc."""
    from hummingbirddatapipeline_spark.operators.retrieval import (
        tfidf_keywords,
    )

    docs = spark.createDataFrame(
        [
            (1, "the and of zebra zebra zebra the and"),
            (2, "the and of common words here the and"),
            (3, "the and of more common words the and"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["rank"]): r["term"]
        for r in tfidf_keywords(docs, k=1).collect()
    }
    assert rows[(1, 1)] == "zebra"


def test_pq_distortion_matches_duckdb(catalog_rows):
    got = catalog_rows("similarity_pq_distortion")
    assert len(got) > 0

    max_code = sum(7 * 8**s for s in range(4))
    for _vid, code_sum, distortion in got:
        assert 0 <= code_sum <= max_code
        assert distortion >= 0.0


def test_pq_distortion_training_tightens_and_twins_agree(spark):
    """Lloyd's monotonicity observed END TO END: total distortion
    under refined codebooks (n_iter=2) must not exceed the seed
    codebooks' (n_iter=0); and planted exact-duplicate vectors get
    identical (code_sum, distortion) — encoding is deterministic."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        pq_distortion,
    )

    emb = _emb(spark)
    d0 = pq_distortion(emb, dim=64, m=4, k_codes=8, n_iter=0)
    d2 = pq_distortion(emb, dim=64, m=4, k_codes=8, n_iter=2)
    s0 = d0.agg(F.sum("distortion")).first()[0]
    s2 = d2.agg(F.sum("distortion")).first()[0]
    assert s2 <= s0 + 1e-6

    twin = emb.filter(F.col("vec_id") == 3).select(
        F.lit(900_000).cast("long").alias("vec_id"), "embedding"
    )
    rows = {
        r["vec_id"]: (r["code_sum"], r["distortion"])
        for r in pq_distortion(
            emb.unionByName(twin), dim=64, m=4, k_codes=8, n_iter=2
        ).collect()
    }
    assert rows[3] == rows[900_000]


def test_r21_plan_contracts(spark):
    """pq_distortion's report pass is map-side only (codebooks are
    plan literals — ZERO exchanges after training); the matrix and
    keyword plans never go nested-loop beyond the documented 1-row
    scalar broadcast."""
    from hummingbirddatapipeline_spark.catalog.dedup_q import (
        shared_jaccard_pairs,
    )
    from hummingbirddatapipeline_spark.operators.dedup import (
        cross_source_dup_matrix,
    )
    from hummingbirddatapipeline_spark.operators.retrieval import (
        tfidf_keywords,
    )
    from hummingbirddatapipeline_spark.operators.similarity import (
        pq_distortion,
    )

    docs = documents(spark)
    plan = built_plan(
        pq_distortion(_emb(spark), dim=64, m=4, k_codes=8, n_iter=1)
    )
    assert "Exchange" not in plan
    assert "Join" not in plan

    plan = built_plan(
        cross_source_dup_matrix(
            shared_jaccard_pairs(spark, SF), docs.select("doc_id", "source")
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = built_plan(tfidf_keywords(docs, k=3))
    assert "CartesianProduct" not in plan
    # exactly the one documented scalar broadcast (the N-docs row)
    assert plan.count("BroadcastNestedLoopJoin") == 1
