"""Property checks for the corpus-OBSERVABILITY rows: the duplicate-
cluster size histogram (with singleton accounting), the worst-
boilerplate window leaderboard (engine-neutral representative
tiebreaks), and the per-language BPE tokenizer-fertility report. Each
row's DuckDB differential runs in tests/test_oracles.py (the histogram
oracle re-derives the Jaccard graph and closes it recursively; the
leaderboard oracle rebuilds windows/counts/representatives from raw
text; the fertility oracle nests the full frozen-merge replay)."""

from __future__ import annotations

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import documents


def test_cluster_histogram_matches_duckdb(spark, catalog_rows):
    got = catalog_rows("dedup_cluster_histogram")
    assert len(got) > 1
    # every document is accounted exactly once across the histogram
    assert sum(r[2] for r in got) == documents(spark).count()
    for size, n_clusters, n_docs in got:
        assert size >= 1 and n_clusters >= 1
        assert n_docs == size * n_clusters


def test_boilerplate_leaderboard_matches_duckdb(catalog_rows):
    got = catalog_rows("text_boilerplate_leaderboard")
    assert len(got) == 20
    # ranks are 1..top in non-increasing occurrence order, every row
    # is genuinely duplicated, and the representative text has k tokens
    got.sort(key=lambda r: r[0])
    assert [r[0] for r in got] == list(range(1, 21))
    occs = [r[1] for r in got]
    assert occs == sorted(occs, reverse=True)
    for _rank, occ, n_docs, _d, _s, wtext in got:
        assert occ >= 2 and 1 <= n_docs <= occ
        assert len(wtext.split(" ")) == 20


def test_leaderboard_plants_surface_first(spark):
    """Constructive contract: a block pasted into 9 documents
    dominates the leaderboard — every one of its windows outranks the
    rest of the corpus, and the representative is the min-doc host."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        boilerplate_leaderboard,
    )

    block = " ".join(f"nav{i}" for i in range(25))
    rows = [
        (i, " ".join(f"u{i}w{j}" for j in range(30)) + " " + block)
        for i in range(9)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (tuple(r) for r in boilerplate_leaderboard(df, k=20, top=6).collect()),
        key=lambda r: r[0],
    )
    assert len(out) == 6  # the 6 windows of the 25-token block
    for _rank, occ, n_docs, rep_doc, _s, _t in out:
        assert occ == 9 and n_docs == 9 and rep_doc == 0


def test_bpe_fertility_matches_duckdb(spark, catalog_rows):
    got = catalog_rows("text_bpe_fertility")
    assert len(got) > 1
    # conservation + sanity: doc counts cover the corpus; BPE never
    # splits below one token per word, and merges keep fertility
    # meaningfully below raw character count
    assert sum(r[1] for r in got) == documents(spark).count()
    for _lang, _nd, n_bpe, n_words, n_chars, fert, cpt in got:
        assert n_bpe >= n_words
        assert fert >= 1.0
        assert 1.0 <= cpt  # a token is at least a character
        assert n_bpe <= n_chars + n_words  # end-of-word bound
