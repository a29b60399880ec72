"""Randomized invariant tests for the round-7 operators: incremental
dedup decisions vs a brute-force Python Jaccard recompute (sparse
prefix path AND dense bitmask path on the same corpus), the exact
pair engines' bitmask regimes and the MinHash verify vs the same brute
force, and determinism of the hash-derived contrastive draw. One
seeded batch through Spark per test (no per-example JVM round
trips)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from conftest import built_plan


def _random_corpus(rng, vocab, n_docs=60, planted_dups=8):
    docs = []
    for i in range(n_docs):
        n = rng.randint(5, 18)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted near-dups of store docs (even ids): copy an even doc's
    # text and perturb one token
    for j in range(planted_dups):
        src = docs[2 * j][1].split()
        if len(src) > 1:
            src[rng.randrange(len(src))] = rng.choice(vocab)
        docs.append((1001 + 2 * j, " ".join(src)))  # odd id -> batch
    return docs


def _brute_decisions(docs, threshold):
    sets = {i: frozenset(t.split()) for i, t in docs}
    store = {i for i, _ in docs if i % 2 == 0}
    batch = {i for i, _ in docs if i % 2 == 1}
    out = {}
    for b in batch:
        best = None
        for s in sorted(store):
            a, c = sets[b], sets[s]
            if not a and not c:
                continue
            j = len(a & c) / len(a | c) if (a | c) else 0.0
            if j >= threshold:
                best = s
                break  # min store id
        out[b] = best
    return out


def _spark_decisions(spark, docs, threshold, **kw):
    from hummingbirddatapipeline_spark.operators.dedup import (
        build_jaccard_store,
        incremental_jaccard_dedup,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    store = build_jaccard_store(
        df.filter(F.col("doc_id") % 2 == 0), "text", "doc_id", shingle_size=1
    )
    res = incremental_jaccard_dedup(
        df.filter(F.col("doc_id") % 2 == 1),
        store,
        "text",
        "doc_id",
        threshold=threshold,
        shingle_size=1,
        **kw,
    )
    return {r["doc_id"]: r["match_store_id"] for r in res.collect()}


def test_incremental_sparse_path_matches_brute(spark):
    """A >64-token vocabulary forces the prefix-filter posting path;
    its accept/match decisions must equal brute-force set Jaccard."""
    rng = random.Random(74)
    vocab = [f"w{i:03d}" for i in range(120)]
    docs = _random_corpus(rng, vocab)
    got = _spark_decisions(spark, docs, 0.6)
    exp = _brute_decisions(docs, 0.6)
    assert got == exp
    assert any(v is not None for v in exp.values())  # planted dups hit


def test_incremental_dense_path_matches_brute_and_sparse(spark):
    """A <=64-token vocabulary engages the bitmask regime; decisions
    must equal brute force AND the force-disabled sparse path. Batch
    docs also carry tokens the store never saw: they set no mask bit
    but must still count in |A∪B| (a store doc plus as many new tokens
    is J = 0.5, not 1.0)."""
    rng = random.Random(75)
    vocab = [f"v{i:02d}" for i in range(40)]
    docs = _random_corpus(rng, vocab)
    s0, s2 = sorted(set(docs[0][1].split())), sorted(set(docs[2][1].split()))
    docs += [
        (2001, " ".join(s0 + [f"new{i}" for i in range(len(s0))])),
        (2003, " ".join(s2 + ["new0"])),
        (2005, "new1 new2 new3"),
    ]
    store_vocab = {w for i, t in docs if i % 2 == 0 for w in t.split()}
    assert any(w not in store_vocab for i, t in docs if i % 2 for w in t.split())
    dense = _spark_decisions(spark, docs, 0.6)
    sparse = _spark_decisions(spark, docs, 0.6, dense_vocab_limit=0)
    exp = _brute_decisions(docs, 0.6)
    assert dense == exp
    assert sparse == exp
    assert any(v is not None for v in exp.values())


def test_contrastive_negatives_deterministic_and_in_range(spark):
    from hummingbirddatapipeline_spark.operators.sampling import (
        contrastive_negatives,
    )

    ids = spark.createDataFrame(
        [(i * 3,) for i in range(50)], "doc_id long"
    )
    a = sorted(
        map(tuple, contrastive_negatives(ids, "doc_id", 3, "s1").collect())
    )
    b = sorted(
        map(
            tuple,
            contrastive_negatives(
                ids.repartition(7), "doc_id", 3, "s1"
            ).collect(),
        )
    )
    assert a == b  # repartition-stable
    valid = {i * 3 for i in range(50)}
    assert all(neg in valid and neg != d for d, _, neg in a)
    # a different seed changes the draw
    c = sorted(
        map(tuple, contrastive_negatives(ids, "doc_id", 3, "s2").collect())
    )
    assert a != c


def test_jaccard_pairs_dense_mask_equals_prefix_path(spark, sf_dir):
    """The all-pairs exact-Jaccard regime switch must be invisible in
    results: bitmask and prefix-filter paths emit identical pairs and
    rounded jaccards on the real corpus (the pair set every dedup
    cluster query closes over)."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        jaccard_pairs_prefix,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    dense = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_prefix(
            docs, "text", "doc_id", 0.85, 1
        ).collect()
    }
    sparse = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_prefix(
            docs, "text", "doc_id", 0.85, 1, dense_vocab_limit=0
        ).collect()
    }
    # three-way: dense all-pairs == prefix+mask-verify == prefix+string
    # (dense_vocab_limit=0 now lands on the multi-word mask verify when
    # the vocab fits; mask_vocab_limit=0 forces the string-array verify)
    strings = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_prefix(
            docs, "text", "doc_id", 0.85, 1,
            dense_vocab_limit=0, mask_vocab_limit=0,
        ).collect()
    }
    assert len(dense) > 0
    assert dense == sparse == strings


def _brute_pairs(sets, pairs, threshold):
    """{(a, b): round(J, 6)} over ``pairs`` with J >= threshold; a pair
    of two empty sets has no Jaccard and is dropped."""
    out = {}
    for a, b in pairs:
        union = sets[a] | sets[b]
        if union:
            j = len(sets[a] & sets[b]) / len(union)
            if j >= threshold:
                out[(a, b)] = round(j, 6)
    return out


@pytest.mark.parametrize("n_terms", [64, 65, 128])
def test_jaccard_pairs_prefix_bitmask_regimes_match_brute(spark, n_terms):
    """64 terms run the dense all-pairs regime with bit 63 (the sign
    bit) in use; 65 and 128 terms run the two-word mask verify of the
    prefix candidates. Planted near-dups hold the first and last term
    of each word, so a term mapped to the wrong bit changes their
    count; every pair must equal brute-force set Jaccard."""
    from hummingbirddatapipeline_spark.operators.dedup import jaccard_pairs_prefix

    rng = random.Random(n_terms)
    vocab = [f"t{i:03d}" for i in range(n_terms)]
    docs = [(k, " ".join(vocab[i : i + 8])) for k, i in enumerate(range(0, n_terms, 8))]
    for _ in range(40):
        docs.append((len(docs), " ".join(rng.sample(vocab, rng.randint(3, 14)))))
    edges = sorted({vocab[0], vocab[63], vocab[min(64, n_terms - 1)], vocab[-1]})
    for k in range(6):
        toks = rng.sample([w for w in vocab if w not in edges], 10) + edges
        twin = list(toks)
        twin[k] = rng.choice([w for w in vocab if w not in toks])
        docs += [(len(docs), " ".join(toks)), (len(docs) + 1, " ".join(twin))]
    sets = {i: frozenset(t.split()) for i, t in docs}
    exp = _brute_pairs(sets, [(a, b) for a in sets for b in sets if a < b], 0.7)

    out = jaccard_pairs_prefix(
        spark.createDataFrame(docs, "doc_id long, text string"),
        "text", "doc_id", threshold=0.7, shingle_size=1,
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got == exp
    assert len(exp) >= 6
    dense = "BroadcastNestedLoopJoin" in built_plan(out)
    assert dense == (n_terms <= 64)


def test_jaccard_verify_matches_brute_and_drops_empty_pair(spark):
    """The MinHash verify goes through the shared ratio: a candidate
    pair of two empty documents (0 / 0) is dropped, not raised, and
    every other pair equals brute-force set Jaccard."""
    from hummingbirddatapipeline_spark.operators.dedup import jaccard_verify

    docs = [
        (1, ""), (2, ""), (3, "a b c d"), (4, "a b c d e"),
        (5, "a b x y"), (6, "p q r s t u v w x y"), (7, "p q r s t u v w x z"),
    ]
    pairs = [(1, 2), (1, 3), (3, 4), (3, 5), (4, 5), (6, 7)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cands = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_verify(
            df, cands, "text", "doc_id", threshold=0.8, shingle_size=1
        ).collect()
    }
    sets = {i: frozenset(t.split()) for i, t in docs}
    assert got == _brute_pairs(sets, pairs, 0.8) == {(3, 4): 0.8, (6, 7): 0.818182}


def test_jaccard_pairs_prefix_all_empty_corpus_has_no_pairs(spark):
    """A corpus without a single token has an empty vocabulary and no
    pairs, on every regime (the mask verify has no word to build)."""
    from hummingbirddatapipeline_spark.operators.dedup import jaccard_pairs_prefix

    df = spark.createDataFrame([(1, ""), (2, "  ")], "doc_id long, text string")
    for kw in ({}, {"dense_vocab_limit": 0}, {"mask_vocab_limit": 0}):
        assert jaccard_pairs_prefix(df, "text", "doc_id", 0.8, 1, **kw).collect() == []
