"""Edge-input tests for the shared set-similarity kernels
(operators/setsim.py and the private dedup kernels) on single tiny
frames — no catalog build, no scan of the test data."""

from __future__ import annotations

from math import comb

import pytest
from pyspark.sql import functions as F


def test_sorted_pairs_emits_all_ordered_pairs(spark):
    from hummingbirddatapipeline_spark.operators.setsim import sorted_pairs

    arrays = {0: [], 1: [7], 2: [3, 9], 5: [1, 2, 4, 8, 16]}
    df = spark.createDataFrame(
        [(n, a) for n, a in arrays.items()], "n int, ids array<long>"
    )
    got = {
        r["n"]: [(p["id_a"], p["id_b"]) for p in r["pairs"]]
        for r in df.select("n", sorted_pairs("ids").alias("pairs")).collect()
    }
    for n, ids in arrays.items():
        pairs = got[n]
        assert len(pairs) == comb(n, 2), (n, pairs)
        assert all(a < b for a, b in pairs), (n, pairs)
        assert set(pairs) == {
            (ids[i], ids[j]) for i in range(n) for j in range(i + 1, n)
        }


def test_band_explode_one_row_per_band(spark):
    from hummingbirddatapipeline_spark.operators.setsim import band_explode

    df = spark.createDataFrame([(1, 10, 20), (2, 11, 21)], "id long, k0 long, k1 long")
    out = band_explode(df, "id", ["k0", "k1"], id_alias="doc")
    assert out.columns == ["doc", "band", "bucket"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0, 10), (1, 1, 20), (2, 0, 11), (2, 1, 21),
    ]


@pytest.mark.parametrize("threshold", [0.5, 0.85, 1.0])
def test_prefix_bound_keeps_singleton_token(spark, threshold):
    """n = 1: the prefix is n - floor(t*n) + 1 >= 1 token for every
    t <= 1, so a one-token set keeps its token (and can still pair)."""
    from hummingbirddatapipeline_spark.operators.dedup import _prefix_tokens

    tok = spark.createDataFrame(
        [(1, "a", 5, 1)], "doc_id long, w string, df_w long, n int"
    )
    kept = _prefix_tokens(tok, "doc_id", "n", threshold).collect()
    assert [(r["doc_id"], r["w"]) for r in kept] == [(1, "a")]


def test_prefix_bound_keeps_rarest_tokens(spark):
    """n = 4, t = 0.5: prefix 4 - 2 + 1 = 3 tokens, rarest (df_w, w)
    first; the joined-sizes form agrees with the carried-size form."""
    from hummingbirddatapipeline_spark.operators.dedup import _prefix_tokens

    rows = [(1, "a", 9), (1, "b", 1), (1, "c", 3), (1, "d", 3)]
    tok = spark.createDataFrame(rows, "doc_id long, w string, df_w long")
    sizes = spark.createDataFrame([(1, 4)], "doc_id long, n int")
    joined = _prefix_tokens(tok, "doc_id", "n", 0.5, sizes=sizes)
    carried = _prefix_tokens(tok.withColumn("n", F.lit(4)), "doc_id", "n", 0.5)
    for out in (joined, carried):
        assert sorted(r["w"] for r in out.collect()) == ["b", "c", "d"]


def test_jaccard_pairs_threshold_and_rounding(spark):
    from hummingbirddatapipeline_spark.operators.dedup import _jaccard_pairs

    # (id_a, id_b, |A|, |B|, |A∩B|): J = 2/3, 1/4, 1, 0
    frame = spark.createDataFrame(
        [(1, 2, 2, 3, 2), (1, 3, 2, 3, 1), (2, 4, 3, 3, 3), (3, 4, 1, 1, 0)],
        "id_a long, id_b long, na int, nb int, inter int",
    )
    out = _jaccard_pairs(frame, F.col("na"), F.col("nb"), 0.5)
    assert out.columns == ["id_a", "id_b", "jaccard"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 2, 0.666667), (2, 4, 1.0),
    ]


def test_term_index_sorted_positions(spark):
    from hummingbirddatapipeline_spark.operators.dedup import _term_index

    terms = spark.createDataFrame([("b",), ("c",), ("a",)], "w string")
    vocab, idx = _term_index(terms, "w")
    assert vocab == ["a", "b", "c"]
    assert sorted(tuple(r) for r in idx.collect()) == [("a", 0), ("b", 1), ("c", 2)]


def test_lsh_audit_reports_exactly_the_capped_buckets(spark):
    """Three identical docs fill one bucket per band: with max_bucket=2
    the candidate path drops every bucket and emits no pair, and the
    audit reports all of them (size 3, min-id representative)."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        lsh_dropped_buckets,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, "same words in every doc") for i in (4, 5, 6)], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=8, shingle_size=1)
    assert minhash_lsh_candidates(sigs, "doc_id", 4, 8, max_bucket=2).count() == 0
    audit = lsh_dropped_buckets(sigs, "doc_id", 4, 8, max_bucket=2).collect()
    assert sorted((r["band"], r["sz"], r["rep"]) for r in audit) == [
        (b, 3, 4) for b in range(4)
    ]
    assert len(minhash_lsh_candidates(sigs, "doc_id", 4, 8, max_bucket=3).collect()) == 3
