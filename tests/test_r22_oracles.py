"""Property checks for the tokenizer-budget vocabulary-coverage curve,
the length-grouped batching plan with per-batch padding efficiency,
and the portable-MinHash Jaccard estimator with per-pair observed
error. Each row's DuckDB differential runs in tests/test_oracles.py
(the coverage oracle rebuilds the ranked vocabulary and every
conditional sum; the batching oracle replays the md5 shuffle order and
the integer batch cuts; the estimator oracle re-derives candidate
pairs, every doc's K-component md5 signature, and the
estimate/exact/error arithmetic)."""

from __future__ import annotations

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import built_plan, documents

_VS = (64, 256, 1024, 4096)


def test_vocab_coverage_matches_duckdb(catalog_rows):
    got = catalog_rows("text_vocab_coverage")
    assert len(got) == len(_VS)

    rows = {r[0]: r for r in got}
    total = rows[_VS[0]][3]
    # coverage is monotone in V, total is constant, and full-vocab
    # coverage is exactly 1.0 once V >= n_types
    prev = 0.0
    for v in _VS:
        assert rows[v][3] == total
        assert rows[v][1] == rows[_VS[0]][1]  # n_types constant
        assert rows[v][4] >= prev
        prev = rows[v][4]
        if v >= rows[v][1]:
            assert rows[v][4] == 1.0 and rows[v][2] == total


def test_vocab_coverage_zipf_fixture(spark):
    """Engineered Zipf-ish corpus: 'a' occurs 8x, 'b' 4x, 'c' 2x,
    'd' 1x -> top-1 coverage 8/15, top-2 12/15, top-4 exactly 1.0."""
    from hummingbirddatapipeline_spark.operators.tokenization import (
        vocab_coverage,
    )

    docs = spark.createDataFrame(
        [(1, "a a a a a a a a b b b b c c d")], "doc_id long, text string"
    )
    rows = {
        r["vocab_size"]: r
        for r in vocab_coverage(docs, (1, 2, 4)).collect()
    }
    assert rows[1]["covered_occurrences"] == 8
    assert rows[2]["covered_occurrences"] == 12
    assert rows[4]["coverage"] == 1.0
    assert rows[1]["n_types"] == 4
    assert rows[1]["coverage"] == round(8 / 15, 6)


def test_length_groups_matches_duckdb(spark, catalog_rows):
    got = catalog_rows("text_pack_length_groups")
    assert len(got) > 0

    # every doc accounted once; batches respect batch_size; within a
    # bin only the LAST batch may run short; padding_frac in [0, 1)
    n_docs_total = documents(spark).count()
    assert sum(r[2] for r in got) == n_docs_total
    by_bin = {}
    for bin_id, batch_seq, n_docs, mx, sm, pad in got:
        assert 1 <= n_docs <= 8
        assert sm <= mx * n_docs
        assert 0.0 <= pad < 1.0
        by_bin.setdefault(bin_id, []).append((batch_seq, n_docs))
    for bin_id, batches in by_bin.items():
        batches.sort()
        assert [s for s, _ in batches] == list(range(len(batches)))
        for _, n in batches[:-1]:
            assert n == 8  # full batches before the tail


def test_length_groups_batches_are_content_addressed(spark):
    """Repartitioning the input must not change a single batch
    assignment — membership is md5-ordered, never RNG/partition
    dependent."""
    from hummingbirddatapipeline_spark.operators.tokenization import (
        pack_length_groups,
    )

    docs = documents(spark)
    base = [
        tuple(r)
        for r in pack_length_groups(docs, 64, 8, "lg0").collect()
    ]
    rep = [
        tuple(r)
        for r in pack_length_groups(docs.repartition(7), 64, 8, "lg0").collect()
    ]
    assert sorted(base, key=repr) == sorted(rep, key=repr)


def test_minhash_estimate_matches_duckdb(catalog_rows):
    got = catalog_rows("dedup_minhash_estimate")
    assert len(got) > 0

    # estimator sanity on real data: estimates are K-rationals in
    # [0, 1]; identical shingle SETS estimate exactly 1.0; and the
    # mean observed error sits inside the Broder stderr envelope
    # (sqrt(J(1-J)/K) <= 0.125 at K=16; mean over pairs is well below)
    errs = []
    for _a, _b, est, exact, err in got:
        assert 0.0 <= est <= 1.0
        assert err == round(abs(est - exact), 6)
        if exact == 1.0:
            assert est == 1.0
        errs.append(err)
    assert sum(errs) / len(errs) < 0.15


def test_minhash_estimate_identical_and_disjoint_docs(spark):
    """Constructive anchors: byte-identical docs estimate exactly 1.0
    (same shingle set -> same signature); near-disjoint docs with one
    shared token estimate near 0 — never above the union bound by
    more than the K-quantization."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        minhash_estimate_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "alpha zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in minhash_estimate_pairs(
            docs, pairs, num_hashes=16, seed="mh0"
        ).collect()
    }
    assert rows[(1, 2)]["est_jaccard"] == 1.0
    assert rows[(1, 2)]["exact_jaccard"] == 1.0
    assert rows[(1, 2)]["abs_err"] == 0.0
    assert rows[(1, 3)]["exact_jaccard"] == round(1 / 14, 6)
    assert rows[(1, 3)]["est_jaccard"] <= 0.5  # K=16 quantization bound


def test_r22_plan_contracts(spark):
    """vocab_coverage: corpus work is one explode + one hash
    aggregate; the rank window runs on the vocab table only.
    pack_length_groups: ONE bin-keyed exchange shared by the
    row_number window and the batch aggregate — no second shuffle, no
    join. minhash_estimate: pair attach is equi-joins, nothing
    nested-loop."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        minhash_estimate_pairs,
    )
    from hummingbirddatapipeline_spark.operators.tokenization import (
        pack_length_groups,
        vocab_coverage,
    )

    docs = documents(spark)
    plan = built_plan(pack_length_groups(docs, 64, 8))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan

    plan = built_plan(vocab_coverage(docs, _VS))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    plan = built_plan(
        minhash_estimate_pairs(docs.select("doc_id", "text"), pairs)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
