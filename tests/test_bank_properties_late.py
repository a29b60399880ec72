"""Randomized / cross-operator property battery for the late bank
tiers (r22-r25 ops) — the generalization layer on top of each tier's
constructive pins and DuckDB differentials, per the
test_bank_properties.py convention (seeded numpy, deterministic
properties only, no statistical flakiness):

- vocab_coverage vs a numpy BRUTE-FORCE third implementation on a
  random Zipf-ish corpus (the differential proves Spark == DuckDB;
  this proves both == the definition).
- pack_concat_manifest conservation on random lengths + planted
  empty docs: every token placed exactly once per shard stream,
  empties dropped, boundary arithmetic closed-form.
- minhash_estimate_pairs word-ORDER invariance: the estimator is a
  set statistic, so shuffled-token twins estimate exactly 1.0.
- lsh_recall_report planted-duplicate theorem on a random corpus:
  exact twins share every band bucket, so the 0.9 band catches all
  planted pairs whatever the rest of the corpus does.
- quality_borda stratum independence: union-of-sources ranks ==
  each source ranked alone (the property that makes per-stratum
  fusion scale-correct AND statistically honest).
- gap_report(0) vs the sessionization catalog row on real events:
  n_sessions = 1 + #(gaps > GAP_MS) per user — the inverse-of-
  sessionization claim checked operator-against-operator.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from __spark_entry__ import SMOKE_SF_DIR as SF

RNG = np.random.default_rng(0x1A7E)
_WORDS = [f"w{i}" for i in range(50)]


def _zipf_texts(n_docs: int, max_len: int = 40) -> list[str]:
    out = []
    for _ in range(n_docs):
        n = int(RNG.integers(1, max_len))
        # Zipf-ish: low word ids much more frequent
        ids = np.minimum(RNG.zipf(1.5, size=n) - 1, len(_WORDS) - 1)
        out.append(" ".join(_WORDS[i] for i in ids))
    return out


def test_vocab_coverage_matches_numpy_bruteforce(spark):
    from hummingbirddatapipeline_spark.operators.tokenization import (
        vocab_coverage,
    )

    texts = _zipf_texts(60)
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sizes = (1, 3, 10, 100)
    got = {r["vocab_size"]: r for r in vocab_coverage(docs, sizes).collect()}

    counts = Counter(w for t in texts for w in t.split())
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    for v in sizes:
        covered = sum(c for _, c in ranked[:v])
        assert got[v]["n_types"] == len(counts)
        assert got[v]["total_occurrences"] == total
        assert got[v]["covered_occurrences"] == covered
        assert got[v]["coverage"] == round(covered / total, 6)


def test_concat_manifest_conservation_random(spark):
    from hummingbirddatapipeline_spark.operators.tokenization import (
        pack_concat_manifest,
    )

    texts = _zipf_texts(80)
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(1000, ""), (1001, "   ")]  # planted empties: dropped
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = pack_concat_manifest(docs, seq_len=32, num_shards=4).collect()

    ids = {r["doc_id"] for r in got}
    assert 1000 not in ids and 1001 not in ids
    assert ids == set(range(80))
    by_shard = {}
    for r in got:
        by_shard.setdefault(r["shard"], []).append(r)
        assert r["n_tokens"] == len(texts[r["doc_id"]].split())
    total_placed = 0
    for shard, docs_in in by_shard.items():
        docs_in.sort(key=lambda r: r["offset"])
        pos = 0
        for r in docs_in:
            assert r["offset"] == pos
            pos += r["n_tokens"]
        total_placed += pos
    assert total_placed == sum(len(t.split()) for t in texts)


def test_minhash_estimate_word_order_invariance(spark):
    from hummingbirddatapipeline_spark.operators.dedup import (
        minhash_estimate_pairs,
    )

    texts = [t for t in _zipf_texts(20) if t.split()]
    rows, pairs = [], []
    for i, t in enumerate(texts):
        toks = t.split()
        perm = list(RNG.permutation(toks))
        rows.append((i, t))
        rows.append((1000 + i, " ".join(perm)))
        pairs.append((i, 1000 + i))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    prs = spark.createDataFrame(pairs, "id_a long, id_b long")
    for r in minhash_estimate_pairs(docs, prs, num_hashes=8).collect():
        assert r["est_jaccard"] == 1.0
        assert r["exact_jaccard"] == 1.0
        assert r["abs_err"] == 0.0


def test_lsh_recall_planted_duplicates(spark):
    from hummingbirddatapipeline_spark.operators.dedup import (
        lsh_recall_report,
    )

    # each doc uses a disjoint vocabulary slab so cross-doc Jaccard is
    # 0; every doc gets one exact twin -> the ONLY exact pairs are the
    # planted twins, all in the 0.9 band, all necessarily caught
    rows = []
    for i in range(15):
        toks = [f"d{i}_{j}" for j in range(12)]
        text = " ".join(toks)
        rows.append((i, text))
        rows.append((100 + i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = lsh_recall_report(docs, num_hashes=16, bands=4, threshold=0.3)
    bands = {r["band_lo"]: r for r in got.collect()}
    assert set(bands) == {0.9}
    assert bands[0.9]["n_pairs"] == 15
    assert bands[0.9]["n_caught"] == 15
    assert bands[0.9]["recall"] == 1.0


def test_quality_borda_stratum_independence(spark):
    from hummingbirddatapipeline_spark.operators.retrieval import (
        quality_borda,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, SF, "documents").select(
        "doc_id", "text", "source"
    ).filter(F.col("source").isin("src0", "src1"))
    fused = {
        r["doc_id"]: tuple(r)
        for r in quality_borda(docs).collect()
    }
    for src in ("src0", "src1"):
        solo = quality_borda(docs.filter(F.col("source") == src)).collect()
        assert len(solo) > 0
        for r in solo:
            assert fused[r["doc_id"]] == tuple(r)


def test_gap_report_is_sessionization_inverse(spark):
    from hummingbirddatapipeline_spark.catalog.events_q import _GAP_MS
    import hummingbirddatapipeline_spark.catalog.events_q  # noqa: F401
    from hummingbirddatapipeline_spark.catalog import QUERIES
    from hummingbirddatapipeline_spark.operators.temporal import (
        gap_report,
    )
    from hummingbirddatapipeline_spark.tables import load

    sessions = {
        r["user_id"]: r["n_sessions"]
        for r in QUERIES["events_sessionization"](spark, SF).collect()
    }
    gaps = gap_report(load(spark, SF, "events"), min_gap_sec=0).collect()
    cuts = Counter(
        r["user_id"] for r in gaps if r["gap_ms"] > _GAP_MS
    )
    for user, n_sessions in sessions.items():
        assert n_sessions == 1 + cuts.get(user, 0)


def test_hll_duplication_invariance(spark):
    """HLL is a DISTINCT sketch: duplicating every document (and
    repartitioning) cannot move a single register, so the report is
    bit-identical — the property that makes the sketch mergeable
    across shards at 100 TB."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        hll_error_report,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, SF, "documents").select("doc_id", "text")
    base = tuple(hll_error_report(docs, b=6).collect()[0])
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    ).repartition(11)
    dup = tuple(hll_error_report(doubled, b=6).collect()[0])
    assert base == dup


def test_countmin_exact_doubling(spark):
    """Count-min counters are linear: duplicating the corpus doubles
    every counter, hence every estimate AND every exact count — the
    overestimate doubles exactly too. A deterministic theorem of the
    fixed hash family, checked end-to-end."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        countmin_error_report,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, SF, "documents").select("doc_id", "text")
    base = {
        r["word"]: r for r in countmin_error_report(docs, top=10).collect()
    }
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    dup = {
        r["word"]: r
        for r in countmin_error_report(doubled, top=10).collect()
    }
    assert set(base) == set(dup)
    for w, r in base.items():
        assert dup[w]["exact_count"] == 2 * r["exact_count"]
        assert dup[w]["cm_estimate"] == 2 * r["cm_estimate"]
        assert dup[w]["overestimate"] == 2 * r["overestimate"]
