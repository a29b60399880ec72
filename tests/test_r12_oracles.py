"""Property checks for content-defined chunking (chunk-level dedup for
partially-overlapping documents), UniMax language-budget
waterfilling, binary-code Hamming ANN, and product-quantization ADC
ANN. Each row's DuckDB differential runs in tests/test_oracles.py (the
CDC oracle replays the gear-sum boundary arithmetic with DuckDB list
slices; the UniMax oracle rebuilds the ascending-cap window test; the
Hamming oracle packs sign bits with explicit shifts against Spark's
Horner fold; the PQ oracle unrolls all m per-subspace Lloyd
trajectories as chained CTEs); these tests assert the structural
properties the value hash alone would not surface."""

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


def _queries(emb, n=5):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def test_cdc_chunks_matches_duckdb(spark, catalog_rows):
    from hummingbirddatapipeline_spark.functions.text import ws_token_count

    docs = documents(spark)
    got = catalog_rows("text_cdc_chunks")
    assert len(got) > 0

    # chunks TILE each document exactly: contiguous seqs from 0 and
    # token counts summing to the doc's token count
    per_doc = {}
    for doc_id, seq, _h, n_tok in got:
        per_doc.setdefault(doc_id, []).append((seq, n_tok))
    tok_counts = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", ws_token_count(F.col("text")).alias("n")
        ).collect()
    }
    for doc_id, chunks in per_doc.items():
        seqs = sorted(s for s, _ in chunks)
        assert seqs == list(range(len(seqs)))
        assert sum(n for _, n in chunks) == tok_counts[doc_id]
    # the divisor actually splits documents (not one chunk per doc)
    assert len(got) > len(per_doc) * 2


def test_cdc_chunks_shared_suffix_rechunks_identically(spark):
    """The CDC property: prepend tokens to a document and every chunk
    after the first interior cut is reproduced hash-for-hash (windows
    fully inside unedited content make identical cut decisions)."""
    from hummingbirddatapipeline_spark.functions.text import cdc_chunks

    base_text = documents(spark).filter(F.col("doc_id") == 3).head()["text"]
    shifted = "inserted prefix tokens " + base_text
    df = spark.createDataFrame(
        [(1, base_text), (2, shifted)], "doc_id long, text string"
    )
    rows = df.select(
        "doc_id", F.explode(cdc_chunks(F.col("text"))).alias("c")
    ).select("doc_id", "c.*").collect()
    base = sorted(
        (r["chunk_seq"], r["chunk_hash"]) for r in rows if r["doc_id"] == 1
    )
    shift_hashes = {r["chunk_hash"] for r in rows if r["doc_id"] == 2}
    assert len(base) >= 3  # fixture doc is long enough to have interior cuts
    for seq, h in base:
        if seq >= 1:
            assert h in shift_hashes


def test_unimax_matches_duckdb(catalog_rows):
    got = catalog_rows("sample_unimax_budget")
    assert len(got) > 1

    # mixed regime on the fixture: some capped, some not; the budget is
    # never over-spent and capped languages sit exactly at their cap
    by_lang = {r[0]: r for r in got}
    assert any(r[3] for r in got) and any(not r[3] for r in got)
    assert sum(r[4] for r in got) <= 100_000
    for r in got:
        if r[3]:
            assert r[4] == r[2]
        else:
            assert r[4] <= r[2]
    # waterfilling is monotone: every language with a cap below any
    # capped language's cap is itself capped
    max_capped = max(r[2] for r in got if r[3])
    for r in got:
        if r[2] < max_capped:
            assert r[3]
    assert set(by_lang) == {"en", "de", "es", "fr", "zh"}


def test_unimax_budget_regimes(spark):
    from hummingbirddatapipeline_spark.operators.sampling import (
        unimax_allocation,
    )

    docs = documents(spark)
    tiny = unimax_allocation(docs, token_budget=100, n_epochs=4.0).collect()
    assert all(not r["is_capped"] for r in tiny)
    assert len({r["alloc_tokens"] for r in tiny}) == 1  # equal split
    huge = unimax_allocation(
        docs, token_budget=10_000_000, n_epochs=4.0
    ).collect()
    assert all(r["is_capped"] for r in huge)
    for r in huge:
        assert r["epochs_used"] <= 4.0
        assert r["alloc_tokens"] == r["cap_tokens"]


def test_hamming_topk_matches_duckdb(catalog_rows):
    got = catalog_rows("similarity_hamming_topk")
    assert len(got) == 50

    per_q = {}
    for qid, vid, ham, rank in got:
        assert vid != qid
        assert 0 <= ham <= 64
        per_q.setdefault(qid, []).append((rank, ham))
    for qid, rows in per_q.items():
        rows.sort()
        assert [r for r, _ in rows] == list(range(1, 11))
        hams = [h for _, h in rows]
        assert hams == sorted(hams)  # rank follows distance


def test_hamming_identical_vector_is_rank_one(spark):
    """A planted exact copy of a query vector has Hamming 0 and must
    rank first — binarization is deterministic, so equal input vectors
    get equal codes regardless of partitioning."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        hamming_topk,
    )

    emb = _emb(spark)
    twin = emb.filter(F.col("vec_id") == 0).select(
        F.lit(900_000).cast("long").alias("vec_id"), "embedding"
    )
    out = hamming_topk(
        emb.unionByName(twin), _queries(emb, 1), dim=64, k=3
    ).collect()
    top = [r for r in out if r["rank"] == 1][0]
    assert top["vec_id"] == 900_000
    assert top["hamming"] == 0


def test_pq_topk_matches_duckdb(catalog_rows):
    got = catalog_rows("similarity_pq_topk")
    assert len(got) == 50

    per_q = {}
    for qid, vid, d, rank in got:
        assert vid != qid
        assert d >= 0.0
        per_q.setdefault(qid, []).append((rank, d))
    for qid, rows in per_q.items():
        rows.sort()
        assert [r for r, _ in rows] == list(range(1, 11))
        ds = [d for _, d in rows]
        assert ds == sorted(ds)


def test_cdc_chunks_zero_exchange_plan(spark):
    """Chunking is local to each document by design — the physical
    plan must be scan -> project -> generate with NO exchange."""
    from hummingbirddatapipeline_spark.functions.text import cdc_chunks

    docs = documents(spark)
    plan = built_plan(
        docs.select(
            "doc_id", F.explode(cdc_chunks(F.col("text"))).alias("c")
        ).select("doc_id", "c.*")
    )
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_unimax_never_rescans_corpus(spark):
    """The waterfilling's self-references (totals, capped stats) run
    over the checkpointed K-row language aggregate — the corpus scan
    must not appear in the final plan at all."""
    from hummingbirddatapipeline_spark.operators.sampling import (
        unimax_allocation,
    )

    plan = built_plan(unimax_allocation(documents(spark), token_budget=100_000))
    assert "FileScan" not in plan
    assert "CartesianProduct" not in plan


def test_hamming_topk_broadcasts_queries(spark):
    """The packed-code scan must join broadcast queries (never a
    partitioned cartesian) and rank with one query-key exchange."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        hamming_topk,
    )

    emb = _emb(spark)
    plan = built_plan(hamming_topk(emb, _queries(emb), dim=64, k=10))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast cross, tiny side
    assert plan.count("Exchange hashpartitioning") == 1  # the top-k window


def test_pq_search_is_broadcast_plus_one_window_exchange(spark):
    """After training, PQ search must be map-side encode + broadcast
    ADC tables + one query-key exchange for the ranking window."""
    from hummingbirddatapipeline_spark.operators.similarity import pq_topk

    emb = _emb(spark)
    plan = built_plan(
        pq_topk(emb, _queries(emb), dim=64, m=4, k_codes=8, n_iter=2, k=10)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
