"""Property checks for maximal duplicated-span extraction (the
actionable completion of the Lee et al. substring-dedup family), CCNet
per-language perplexity bucketing, and Matryoshka truncation recall.
Each row's DuckDB differential runs in tests/test_oracles.py (the span
oracle re-derives stride-1 windows, corpus occurrence counts, and the
LAG/running-sum island merge; the bucket oracle rebuilds the
interpolated bigram LM from scratch and re-ranks with PERCENT_RANK;
the matryoshka oracle re-ranks full AND truncated exact cosine top-k
from the raw embeddings and recounts the overlap)."""

from __future__ import annotations

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import documents


def test_dup_spans_matches_duckdb(catalog_rows):
    got = catalog_rows("text_dup_spans")
    assert len(got) > 0
    # per-doc structural invariants: span_seq is 1..m in start order,
    # spans are separated by gaps > k (else they would have merged),
    # and every span covers at least one full window
    per_doc = {}
    for doc_id, seq, start, ln, nw in got:
        per_doc.setdefault(doc_id, []).append((seq, start, ln, nw))
    for doc_id, spans in per_doc.items():
        spans.sort(key=lambda s: s[1])
        assert [s[0] for s in spans] == list(range(1, len(spans) + 1))
        for (s1, st1, l1, _), (s2, st2, _, _) in zip(spans, spans[1:]):
            assert st2 - (st1 + l1 - 20) > 20  # break rule: gap > k
        for _, _, ln, nw in spans:
            assert ln >= 20 and nw >= 1


def test_dup_spans_recovers_planted_block(spark):
    """Constructive contract: a 40-token block pasted into 8 documents
    after a unique 30-token head is recovered as EXACTLY the
    [30, 70) span in every host — correct offsets, correct length,
    merged into one maximal span."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        dup_span_extract,
    )

    block = " ".join(f"boiler{i}" for i in range(40))
    rows = [
        (i, " ".join(f"u{i}w{j}" for j in range(30)) + " " + block)
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [tuple(r) for r in dup_span_extract(df, k=20).collect()]
    assert len(out) == 8
    for doc_id, seq, start, ln, nw in out:
        assert seq == 1
        assert start == 30
        assert ln == 40
        assert nw == 21  # starts 30..50 inclusive


def test_perplexity_buckets_matches_duckdb(spark, catalog_rows):
    got = catalog_rows("text_perplexity_buckets")
    assert len(got) > 0
    # every doc is bucketed, and within each language the thirds are
    # balanced to within one doc (percent_rank arithmetic)
    from collections import Counter

    assert len(got) == documents(spark).count()
    per_lang = {}
    for _id, lang, _nb, nll, bucket in got:
        if bucket != "none":
            per_lang.setdefault(lang, Counter())[bucket] += 1
    assert per_lang
    for lang, c in per_lang.items():
        assert set(c) <= {"head", "middle", "tail"}
        if sum(c.values()) >= 3:
            assert max(c.values()) - min(c.values()) <= 2


def test_matryoshka_recall_matches_duckdb(catalog_rows):
    got = catalog_rows("similarity_matryoshka_recall")
    assert len(got) == 10  # 5 queries x 2 dims
    # fidelity must not decrease with a longer prefix on average, and
    # the truncated screen is lossy-but-useful on random embeddings
    mean = {
        d: sum(r[3] for r in got if r[1] == d) / 5 for d in (16, 64)
    }
    assert 0.0 < mean[16] <= mean[64] <= 1.0
    for _q, _d, n, rec in got:
        assert 0 <= n <= 10 and abs(rec - n / 10) < 1e-9
