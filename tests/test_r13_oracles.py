"""Property checks for the Bloom-filter decontamination screen, CCNet
chunk-level boilerplate removal, and in-engine logistic-regression
quality-classifier training. Each row's DuckDB differential runs in
tests/test_oracles.py (the Bloom oracle re-folds the 52-bit-md5
positions into 63-bit words with bit_or and replays the shift/AND
probe; the boilerplate oracle re-derives the CDC chunk stream and the
frequency rule; the logreg oracle unrolls every gradient-descent
iteration as chained CTEs over the rational-sigmoid link)."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import documents


# ---------------------------------------------------------------- bloom


def test_bloom_screen_matches_duckdb(catalog_rows):
    got = catalog_rows("curation_bloom_screen")
    assert len(got) > 0
    # at the registration sizing (2 KB filter vs ~1k bench grams) the
    # screen FIRES but does not saturate: some pass, most are cut
    n_scr = sum(1 for r in got if r[3])
    assert 0 < n_scr < len(got) // 2


def test_bloom_screen_never_misses_exact_hits(spark):
    """The screen contract: bloom_gram_screen flags a SUPERSET of
    ngram_contamination's exact collisions — at ANY filter size, every
    set position of a benchmark gram is set by construction, so a
    false negative is impossible; shrinking the filter only ever ADDS
    false positives."""
    from hummingbirddatapipeline_spark.operators.contamination import (
        bloom_gram_screen,
        ngram_contamination,
    )

    docs = documents(spark).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") < 20)
    train = docs.filter(F.col("doc_id") >= 20)
    exact = {
        r["doc_id"]
        for r in ngram_contamination(train, bench, n=5).collect()
        if r["contaminated"]
    }
    assert exact  # fixture must exercise the contract
    big = {
        r["doc_id"]: r["screened"]
        for r in bloom_gram_screen(
            train, bench, n=5, n_words=16, n_hashes=3
        ).collect()
    }
    # a deliberately tiny filter (2 words = 126 bits) saturates into
    # false positives but still cannot miss
    tiny = {
        r["doc_id"]: r["screened"]
        for r in bloom_gram_screen(
            train, bench, n=5, n_words=2, n_hashes=3
        ).collect()
    }
    for d in exact:
        assert big[d] and tiny[d]
    assert sum(tiny.values()) >= sum(big.values()) >= len(exact)


# ----------------------------------------------------- chunk boilerplate


def test_chunk_boilerplate_matches_duckdb(catalog_rows):
    got = catalog_rows("text_chunk_boilerplate")
    assert len(got) > 0
    # conservation: kept <= total tokens, dropped <= chunks; and the
    # rule fires on the fixture (near-dup docs share CDC chunks)
    for _id, n_c, n_d, n_t, n_k in got:
        assert 0 <= n_d <= n_c and 0 <= n_k <= n_t
    assert any(r[2] > 0 for r in got)


def test_chunk_boilerplate_drops_planted_shared_block(spark):
    """Constructive CCNet property: paste one shared block into many
    otherwise-distinct documents and the block's interior chunks are
    dropped from EVERY host, while each host's unique content is
    kept."""
    from hummingbirddatapipeline_spark.functions.text import cdc_chunks
    from hummingbirddatapipeline_spark.operators.dedup import (
        strip_boilerplate_chunks,
    )

    block = " ".join(f"boiler{i}" for i in range(40))
    rows = [
        (i, " ".join(f"u{i}w{j}" for j in range(30)) + " " + block)
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate_chunks(df, max_docs=2).collect()
    }
    # the shared block spans >= 2 full chunks in at least one host, so
    # every host must drop >= 1 chunk yet keep >= 1 (its unique head)
    chunk_rows = df.select(
        "doc_id", F.explode(cdc_chunks(F.col("text"))).alias("c")
    ).collect()
    assert len(chunk_rows) > len(rows)
    for i in range(8):
        r = out[i]
        assert r["n_chunks_dropped"] >= 1
        assert r["n_chunks_dropped"] < r["n_chunks"]
        assert 0 < r["n_tokens_kept"] < r["n_tokens"]


# ----------------------------------------------------------- logreg GD


def test_logreg_quality_matches_duckdb(catalog_rows):
    got = catalog_rows("curation_logreg_train")
    assert len(got) > 0
    # the trained model actually separates: scores are not all equal,
    # and training agreement beats the untrained all-positive start
    # (w=0 scores everything 0.5 -> pred TRUE -> accuracy = pos rate)
    scores = {r[1] for r in got}
    assert len(scores) > 10
    acc = sum(1 for r in got if r[4]) / len(got)
    pos_rate = sum(1 for r in got if r[3]) / len(got)
    assert acc > pos_rate


def test_logreg_learns_separable_fixture(spark):
    """On a linearly separable synthetic set, a few GD steps reach
    high training accuracy — the trainer trains, not just runs."""
    from hummingbirddatapipeline_spark.pipelines.curation import (
        logreg_quality_train,
    )

    rows = [(i, i >= 50, float(i), float(i % 7)) for i in range(100)]
    df = spark.createDataFrame(
        rows, "doc_id long, teacher_label boolean, fa double, fb double"
    )
    out = logreg_quality_train(
        df, ["fa", "fb"], lr=2.0, n_iter=8
    ).collect()
    acc = sum(1 for r in out if r["correct"]) / len(out)
    assert acc >= 0.9
