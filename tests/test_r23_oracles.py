"""Property checks for per-doc n-gram novelty (corpus-unique gram
fraction), per-source Borda rank-fusion of three quality signals, and
the LSH banding recall report over the portable-MinHash signature
family. Each row's DuckDB differential runs in tests/test_oracles.py
(the novelty oracle rebuilds gram sets, document frequencies, and the
unique-gram conditional sums; the Borda oracle re-derives all three
signals and every window rank; the recall oracle replays signature
banding with raw component-slice buckets and the exact pair set)."""

from __future__ import annotations

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import built_plan, documents


def test_ngram_novelty_matches_duckdb(catalog_rows, duck):
    got = catalog_rows("text_ngram_novelty")
    n_docs = duck.sql("SELECT COUNT(*) FROM documents").fetchone()[0]
    assert len(got) == n_docs  # one row per doc, always
    for _id, n_grams, n_novel, frac in got:
        assert 0 <= n_novel <= n_grams
        if n_grams:
            assert frac == round(n_novel / n_grams, 6)
        else:
            assert frac == 0.0


def test_ngram_novelty_fixture(spark):
    """Engineered corpus: doc 1 and 2 share every bigram (novelty 0);
    doc 3 is all-unique (novelty 1.0); doc 4 has one token (zero
    bigrams, kept with novelty 0.0)."""
    from hummingbirddatapipeline_spark.operators.retrieval import (
        ngram_novelty,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the cat sat"),
            (3, "purple monkey dishwasher"),
            (4, "single"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in ngram_novelty(docs, n=2).collect()}
    assert rows[1]["n_grams"] == 2 and rows[1]["n_novel"] == 0
    assert rows[1]["novelty_frac"] == 0.0
    assert rows[3]["n_grams"] == 2 and rows[3]["n_novel"] == 2
    assert rows[3]["novelty_frac"] == 1.0
    assert rows[4]["n_grams"] == 0 and rows[4]["novelty_frac"] == 0.0


def test_quality_borda_matches_duckdb(catalog_rows):
    got = catalog_rows("curation_quality_borda")
    assert len(got) > 0

    # per-source rank sanity: each rank column is a permutation of
    # 1..n_s within its source, and borda = sum of the three ranks
    by_src = {}
    for _id, src, rq, rl, rr, borda, br in got:
        assert borda == rq + rl + rr
        by_src.setdefault(src, []).append((rq, rl, rr, br))
    for src, rows in by_src.items():
        n = len(rows)
        for i in range(4):
            assert sorted(r[i] for r in rows) == list(range(1, n + 1))


def test_quality_borda_fixture_and_stability(spark):
    """A long prose doc must out-rank a short low-quality one on every
    signal (borda_rank 1); repartitioning changes nothing."""
    from hummingbirddatapipeline_spark.operators.retrieval import (
        quality_borda,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "far away to the hills where it rests for a while in the shade"
    )
    docs = spark.createDataFrame(
        [
            (1, prose, "s1"),
            (2, "zz !!", "s1"),
            (3, "aa bb aa bb aa bb", "s1"),
            (4, prose, "s2"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r["doc_id"]: r for r in quality_borda(docs).collect()}
    assert rows[1]["r_quality"] == 1 and rows[1]["borda_rank"] == 1
    assert rows[4]["borda_rank"] == 1  # sole doc in its source
    assert rows[4]["borda"] == 3
    base = sorted(tuple(r) for r in quality_borda(docs).collect())
    rep = sorted(
        tuple(r) for r in quality_borda(docs.repartition(5)).collect()
    )
    assert base == rep


def test_lsh_recall_matches_duckdb(catalog_rows, duck):
    got = catalog_rows("dedup_lsh_recall")
    assert len(got) > 0
    bands = {r[0]: r for r in got}
    for band_lo, n_pairs, n_caught, recall in got:
        assert 0 <= n_caught <= n_pairs
        assert recall == round(n_caught / n_pairs, 6)
    # identical-doc pairs (J = 1.0, in the 0.9 band) have identical
    # signatures, hence share every band bucket: always caught
    if 0.9 in bands:
        n_exact_dups = duck.sql(
            """
            SELECT COUNT(*) FROM (
              SELECT lower(trim(text)) t, COUNT(*) c FROM documents
              WHERE doc_id < 200 GROUP BY 1 HAVING COUNT(*) >= 2)
            """
        ).fetchone()[0]
        if n_exact_dups:
            assert bands[0.9][2] >= 1  # at least the exact twins


def test_lsh_recall_constructive_s_curve(spark):
    """Engineered fixture: exact twins land in the 0.9 band with
    recall exactly 1.0 (identical signatures share all buckets); a
    moderate-overlap pair is counted in its exact-J band whether or
    not banding catches it."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        lsh_recall_report,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "alpha beta gamma delta epsilon omega"),
            (4, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["band_lo"]: r
        for r in lsh_recall_report(
            docs, num_hashes=16, bands=4, threshold=0.3
        ).collect()
    }
    assert rows[0.9]["n_pairs"] == 1  # the exact twin pair
    assert rows[0.9]["n_caught"] == 1 and rows[0.9]["recall"] == 1.0
    # docs 1/2 vs 3: J = 5/7 = 0.714286 -> the 0.7 band, 2 pairs
    assert rows[0.7]["n_pairs"] == 2


def test_r23_plan_contracts(spark):
    """quality_borda: ONE stratum-keyed exchange shared by all four
    rank windows, no joins. ngram_novelty / lsh_recall_report: no
    cartesian products or broadcast nested loops anywhere."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        lsh_recall_report,
    )
    from hummingbirddatapipeline_spark.operators.retrieval import (
        ngram_novelty,
        quality_borda,
    )

    docs = documents(spark)
    plan = built_plan(quality_borda(docs))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan

    plan = built_plan(ngram_novelty(docs, 2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = built_plan(
        lsh_recall_report(docs.select("doc_id", "text"), 16, 4, 0.3)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
