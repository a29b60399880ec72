"""Property checks for the portable count-min error report (the
frequency-sketch member of the observe-don't-trust family),
exponential-priority weighted sampling (Efraimidis-Spirakis with
content-addressed randomness), and per-source signature words by
lift. Each row's DuckDB differential runs in tests/test_oracles.py."""

from __future__ import annotations

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import built_plan


def _load(spark, table):
    from hummingbirddatapipeline_spark.tables import load

    return load(spark, SF, table)


def test_countmin_error_matches_duckdb(catalog_rows):
    got = catalog_rows("sketch_countmin_error")
    assert len(got) == 20
    # the CM theorem on real data: never an underestimate
    for _w, exact, est, over, _rk in got:
        assert est >= exact
        assert over == est - exact >= 0


def test_countmin_no_collision_is_exact(spark):
    """With width far above the vocabulary, no bucket collides and
    every estimate equals the exact count (overestimate 0)."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        countmin_error_report,
    )

    docs = spark.createDataFrame(
        [(1, "aa aa aa bb bb cc")], "doc_id long, text string"
    )
    got = countmin_error_report(docs, depth=4, width=4096, top=3).collect()
    assert len(got) == 3
    for r in got:
        assert r["overestimate"] == 0
    by_word = {r["word"]: r["exact_count"] for r in got}
    assert by_word == {"aa": 3, "bb": 2, "cc": 1}


def test_countmin_width1_sums_everything(spark):
    """Degenerate width 1: every row's single counter holds the total
    token count, so every estimate is exactly that total."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        countmin_error_report,
    )

    docs = spark.createDataFrame(
        [(1, "aa aa bb cc")], "doc_id long, text string"
    )
    got = countmin_error_report(docs, depth=3, width=1, top=3).collect()
    for r in got:
        assert r["cm_estimate"] == 4


def test_priority_sample_matches_duckdb(catalog_rows):
    got = catalog_rows("sample_priority_weighted")
    assert len(got) == 50


def test_priority_sample_weight_bias_and_stability(spark):
    """Determinism: rerun and repartition change nothing. Bias: with
    one item carrying (overwhelmingly) all the weight, it is always
    selected at k = 1 — its exponential clock rings first by orders
    of magnitude."""
    from hummingbirddatapipeline_spark.operators.sampling import (
        priority_weighted_sample,
    )

    docs = _load(spark, "documents")
    a = sorted(tuple(r) for r in priority_weighted_sample(docs, 25).collect())
    b = sorted(
        tuple(r)
        for r in priority_weighted_sample(docs.repartition(9), 25).collect()
    )
    assert a == b

    rows = [(i, 1) for i in range(100)] + [(999, 10_000_000)]
    heavy = priority_weighted_sample(
        spark.createDataFrame(rows, "doc_id long, n_chars long"), k=1
    ).collect()
    assert heavy[0]["doc_id"] == 999

    # zero-weight rows carry no mass and are excluded
    rows2 = [(1, 0), (2, 5)]
    out = priority_weighted_sample(
        spark.createDataFrame(rows2, "doc_id long, n_chars long"), k=5
    ).collect()
    assert [r["doc_id"] for r in out] == [2]


def test_signature_ngrams_matches_duckdb(catalog_rows):
    got = catalog_rows("text_signature_ngrams")
    assert len(got) > 0
    for _src, _w, c_sw, c_w, lift, rank in got:
        assert c_sw >= 5 and c_sw <= c_w
        assert 1 <= rank <= 5
        assert lift > 0


def test_signature_ngrams_fixture(spark):
    """A word exclusive to source A with equal source sizes has lift
    exactly n_sources (here 2.0); a uniformly-spread word has lift
    1.0 and ranks below it."""
    from hummingbirddatapipeline_spark.operators.retrieval import (
        source_signature_ngrams,
    )

    docs = spark.createDataFrame(
        [
            (1, "zz zz common common", "A"),
            (2, "other other common common", "B"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["source"], r["word"]): r
        for r in source_signature_ngrams(docs, k=5, min_count=2).collect()
    }
    assert rows[("A", "zz")]["lift"] == 2.0
    assert rows[("A", "common")]["lift"] == 1.0
    assert rows[("A", "zz")]["rank"] < rows[("A", "common")]["rank"]


def test_r29_plan_contracts(spark):
    """countmin: everything after the first aggregate is vocab-sized,
    no nested loops. priority sample: map-side keys + one rank window,
    no joins. signature: the KL plan shape — <= 1 BNLJ (the 1-row N)."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        countmin_error_report,
    )
    from hummingbirddatapipeline_spark.operators.retrieval import (
        source_signature_ngrams,
    )
    from hummingbirddatapipeline_spark.operators.sampling import (
        priority_weighted_sample,
    )

    docs = _load(spark, "documents")
    plan = built_plan(countmin_error_report(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = built_plan(priority_weighted_sample(docs))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan

    plan = built_plan(source_signature_ngrams(docs))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
