"""Property checks for the Lee et al. substring-dedup CUT (keep one
canonical occurrence corpus-wide), semi-supervised label propagation
over the exact-Jaccard near-dup graph, and crawler-trap detection by
URL path templating. Each row's DuckDB differential runs in
tests/test_oracles.py (the cut oracle re-derives windows, canonical
picks, and the island merge; the propagation oracle rebuilds the pair
graph from raw text and unrolls every synchronous round; the trap
oracle replays the shared dirty-URL fixture + canonicalization rule
set)."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import documents


def test_cut_spans_matches_duckdb(spark, catalog_rows):
    got = catalog_rows("text_cut_dup_spans")
    assert len(got) == documents(spark).count()
    # accounting invariants: kept + cut == total per doc; the corpus
    # loses real tokens; a fully-duplicated non-canonical doc may drop
    # to zero kept but never below
    assert sum(r[4] for r in got) > 0
    for _id, n_tok, wc, sc, tc, kept in got:
        assert tc + kept == n_tok
        assert kept >= 0
        assert (wc == 0) == (sc == 0) == (tc == 0)


def test_cut_spans_keeps_canonical(spark):
    """Constructive Lee et al. contract: a 40-token block pasted into
    8 documents after unique 30-token heads keeps EXACTLY its first
    (min doc_id) occurrence — doc 0 cuts nothing, docs 1..7 each cut
    exactly the [30, 70) span."""
    from hummingbirddatapipeline_spark.operators.dedup import cut_dup_spans

    block = " ".join(f"boiler{i}" for i in range(40))
    rows = [
        (i, " ".join(f"u{i}w{j}" for j in range(30)) + " " + block)
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: tuple(r) for r in cut_dup_spans(df, k=20).collect()}
    assert len(out) == 8
    assert out[0] == (0, 70, 0, 0, 0, 70)  # canonical host untouched
    for d in range(1, 8):
        assert out[d] == (d, 70, 21, 1, 40, 30)


def test_label_propagation_matches_duckdb(spark, catalog_rows):
    from hummingbirddatapipeline_spark.functions.text import quality_score

    got = catalog_rows("dedup_label_propagation")
    assert len(got) > 0
    # seeds are clamped and labels genuinely compete (seed set
    # re-derived here exactly as the registered row builds it)
    docs = documents(spark)
    seeds = docs.filter(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":lp0"))),
            1,
            4,
        )
        < "1999"
    ).select(
        F.col("doc_id").alias("node"),
        F.when(F.round(quality_score(F.col("text")), 2) >= 0.9, "good")
        .otherwise("bad")
        .alias("label"),
    )
    seed_rows = {r["node"]: r["label"] for r in seeds.collect()}
    got_map = {r[0]: r[1] for r in got}
    for node, label in seed_rows.items():
        assert got_map[node] == label
    labels = {r[1] for r in got}
    assert labels == {"good", "bad"}
    assert len(got) > len(seed_rows)  # propagation reached non-seeds


def test_label_propagation_radius_and_ties(spark):
    """Constructive contracts on a path graph: n_iter bounds the
    propagation radius from the seed set, and where two fronts meet
    with equal votes the lexically smaller label wins."""
    from hummingbirddatapipeline_spark.operators.graph import (
        label_propagation,
    )

    # path 0-1-2-3-4-5, seed at node 0 only
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(0, "good")], "node long, label string")
    out = {
        r["node"]: r["label"]
        for r in label_propagation(edges, seeds, n_iter=2).collect()
    }
    assert set(out) == {0, 1, 2}  # radius 2
    assert all(v == "good" for v in out.values())
    # competing fronts: good at 0, bad at 4 on path 0-1-2-3-4; node 2
    # hears one 'bad' (from 3) and one 'good' (from 1) at round 2 —
    # tie -> 'bad' (lexically smaller)
    edges2 = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "id_a long, id_b long"
    )
    seeds2 = spark.createDataFrame(
        [(0, "good"), (4, "bad")], "node long, label string"
    )
    out2 = {
        r["node"]: r["label"]
        for r in label_propagation(edges2, seeds2, n_iter=2).collect()
    }
    assert out2 == {0: "good", 1: "good", 2: "bad", 3: "bad", 4: "bad"}
    # one more SYNCHRONOUS round and the tie verdict cascades: node 1
    # now hears good(0) vs bad(2), ties to 'bad' — labels flip as
    # fronts collide even though the labeled set only grows
    out3 = {
        r["node"]: r["label"]
        for r in label_propagation(edges2, seeds2, n_iter=3).collect()
    }
    assert out3 == {0: "good", 1: "bad", 2: "bad", 3: "bad", 4: "bad"}


def test_url_template_traps_matches_duckdb(catalog_rows):
    got = catalog_rows("web_template_traps")
    assert len(got) > 0
    # the verdicts must be mixed on the fixture, and counts sane
    traps = [r for r in got if r[4]]
    assert 0 < len(traps) < len(got)
    for _h, _t, n, frac, _trap in got:
        assert n >= 1 and 0.0 < frac <= 1.0
