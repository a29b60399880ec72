"""Property checks for the round-10-registered operators — in-engine
k-means quantizer training (Lloyd's, fixed iterations, pagerank-style
per-iteration quantize), PCA top component by power iteration,
cluster-aware benchmark decontamination, deterministic shard-layout
manifest, winnowing fingerprints (the MOSS scheme), and the
dedup_pagerank exact_longs flip. Each row's DuckDB differential runs in
tests/test_oracles.py; these tests assert the structural properties the
value hash alone would not surface (training genuinely moves the
quantizer, escalation widens contamination, fingerprints are
order-insensitive, the winnowing guarantee holds constructively)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

_KM_ITERS = 3   # matches catalog/similarity_q._KMEANS_REFINE_ITERS
_PCA_ITERS = 3  # matches catalog/similarity_q._PCA_TOP1_ITERS


def _emb(spark):
    from hummingbirddatapipeline_spark.tables import load

    return load(spark, SF, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )


def test_kmeans_refine_matches_duckdb(catalog_rows):
    """Three Lloyd iterations from the frozen IVF seeds: DuckDB
    re-derives every intermediate centroid and the final assignment
    from the same constants; both engines must agree on every
    (vec_id, cluster_id, dist) row."""
    from hummingbirddatapipeline_spark.artifacts import IVF_CENTROIDS_64D

    rows = catalog_rows("similarity_kmeans_refine")
    assert len(rows) > 0

    # training keeps every cell populated on this fixture
    used = {r[1] for r in rows}
    assert used == set(range(len(IVF_CENTROIDS_64D)))


def test_kmeans_refine_tightens_assignment(spark):
    """Lloyd's is monotone in total within-cluster distance: the
    refined centroids must not assign worse (summed rounded sqdist)
    than the frozen seeds on the same data — i.e. training genuinely
    moved the quantizer off its seeds."""
    from hummingbirddatapipeline_spark.artifacts import IVF_CENTROIDS_64D
    from hummingbirddatapipeline_spark.operators.similarity import (
        kmeans_refine,
    )

    emb = _emb(spark)
    before, cents0 = kmeans_refine(emb, IVF_CENTROIDS_64D, n_iter=0)
    after, cents = kmeans_refine(emb, IVF_CENTROIDS_64D, n_iter=_KM_ITERS)
    s_before = before.agg(F.sum("dist")).first()[0]
    s_after = after.agg(F.sum("dist")).first()[0]
    assert s_after < s_before
    assert cents != [list(map(float, c)) for c in IVF_CENTROIDS_64D]


def test_kmeans_refine_guards(spark):
    from hummingbirddatapipeline_spark.operators.similarity import (
        kmeans_refine,
    )

    emb = _emb(spark)
    with pytest.raises(ValueError, match="empty"):
        kmeans_refine(emb, [], n_iter=1)
    with pytest.raises(ValueError, match="ragged"):
        kmeans_refine(emb, [[0.0, 1.0], [0.0]], n_iter=1)


def test_kmeans_refine_empty_cluster_keeps_centroid(spark):
    """The deterministic empty-cluster convention, exercised: a seed
    centroid far from every point attracts no members and must pass
    through ALL iterations unchanged, while the populated cluster
    moves to the data mean."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        kmeans_refine,
    )

    pts = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    seeds = [[0.0, 0.0], [1000.0, 1000.0]]
    assigned, cents = kmeans_refine(pts, seeds, n_iter=2)
    assert cents[1] == [1000.0, 1000.0]          # empty: unchanged
    assert cents[0] == [2.0, 0.0]                # populated: the mean
    rows = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    assert rows == {1: 0, 2: 0}


def test_decontaminate_clusters_matches_duckdb(catalog_rows):
    """Benchmark = docs 0-19 (the text_contamination_check fixture);
    training docs report per-doc 5-gram collisions AND the
    cluster-level escalation over the shared exact-Jaccard near-dup
    graph. The registered oracle rebuilds the gram join and the
    recursive cluster closure independently."""
    rows = catalog_rows("curation_decontaminate_clusters")
    assert len(rows) > 0

    # the fixture has real structure on every side of the contract:
    n_doc = sum(1 for r in rows if r[4])
    n_cluster = sum(1 for r in rows if r[5])
    assert 0 < n_doc <= n_cluster          # escalation only widens
    assert any(r[6] for r in rows)          # something survives
    # every directly-hit doc is cluster-contaminated (superset rule)
    assert all(r[5] for r in rows if r[4])


def test_decontaminate_cluster_escalation(spark):
    """A synthetic twin makes the escalation observable end-to-end: a
    train doc that is a near-dup of a DIRECTLY contaminated train doc
    (but shares no 5-gram with the benchmark itself) must still be
    dropped via its cluster."""
    from hummingbirddatapipeline_spark.operators.contamination import (
        decontaminate_clusters,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),      # benchmark
            (100, "alpha beta gamma delta epsilon eta"),     # direct hit
            (101, "theta iota kappa lam mu nu xi"),          # clean
        ],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") == 1)
    # near-dup edge links the clean doc to the contaminated one
    pairs = spark.createDataFrame(
        [(100, 101)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate_clusters(docs, bench, pairs, n=5).collect()
    }
    assert out[100]["doc_contaminated"] is True
    assert out[101]["doc_contaminated"] is False
    assert out[101]["cluster_contaminated"] is True
    assert out[101]["kept"] is False


def test_shard_manifest_matches_duckdb(catalog_rows):
    """Shard layout manifest: DuckDB recomputes every doc's md5 shard
    assignment, token count, and the order-insensitive BIT_XOR
    fingerprint; both engines must agree shard for shard."""
    rows = catalog_rows("layout_shard_manifest")
    assert len(rows) > 1


def test_shard_manifest_partitioning_invariant(spark):
    """The fingerprint is genuinely order-insensitive: re-deriving the
    manifest from a differently-partitioned input is identical."""
    from hummingbirddatapipeline_spark.functions.text import ws_token_count
    from hummingbirddatapipeline_spark.operators.scale import shard_manifest
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, SF, "documents").select(
        "doc_id",
        ws_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    base = [
        tuple(r)
        for r in shard_manifest(
            docs, "doc_id", token_col="n_tokens", n_shards=16, seed="r10"
        ).collect()
    ]
    re_rows = [
        tuple(r)
        for r in shard_manifest(
            docs.repartition(7), "doc_id", token_col="n_tokens",
            n_shards=16, seed="r10",
        ).collect()
    ]
    assert sorted(re_rows, key=repr) == sorted(base, key=repr)


def test_pca_power_top1_matches_duckdb(spark, catalog_rows):
    """Covariance + unrolled power iterations + projection: DuckDB
    re-derives the whole trajectory from the raw embeddings and both
    engines must agree on every (vec_id, pc1_score) row AND on the
    component being unit-norm."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        pca_power_top1,
    )

    rows = catalog_rows("similarity_pca_top1")
    assert len(rows) > 0

    # component is unit-norm (quantization dust aside) and the
    # projection is genuinely discriminative on this fixture
    _, comp = pca_power_top1(_emb(spark), dim=64, n_iter=_PCA_ITERS)
    assert abs(sum(x * x for x in comp) - 1.0) < 1e-6
    scores = [r[1] for r in rows]
    assert max(scores) > 0 > min(scores)


def test_pca_power_top1_guards(spark):
    from hummingbirddatapipeline_spark.operators.similarity import (
        pca_power_top1,
    )

    emb = _emb(spark)
    with pytest.raises(ValueError, match="n_iter"):
        pca_power_top1(emb, dim=64, n_iter=0)
    with pytest.raises(ValueError, match="empty"):
        pca_power_top1(emb.filter(F.lit(False)), dim=64, n_iter=1)


def test_pagerank_exact_longs_matches_duckdb_and_partitioning(spark, catalog_rows):
    """The registered dedup_pagerank row runs exact_longs=True since
    r10: summing scaled longs is associative, so the trajectory is
    bit-identical to DuckDB's scaled-long unroll AND invariant under
    input repartitioning — the property the double-sum regime could
    only approximate (its accepted tie-window was documented on the
    pre-r10 row)."""
    from hummingbirddatapipeline_spark.catalog.dedup_q import (
        _PAGERANK_DP,
        _PAGERANK_ITERS,
        shared_jaccard_pairs,
    )
    from hummingbirddatapipeline_spark.operators.graph import pagerank

    got = catalog_rows("dedup_pagerank")
    assert len(got) > 0

    pairs = shared_jaccard_pairs(spark, SF)
    rep = [
        tuple(r)
        for r in pagerank(
            pairs.repartition(13),
            n_iter=_PAGERANK_ITERS,
            round_dp=_PAGERANK_DP,
            exact_longs=True,
        ).collect()
    ]
    assert sorted(rep) == sorted(got)


def test_winnow_fingerprints_matches_duckdb(spark, catalog_rows):
    """Winnowing (Schleimer et al. 2003): DuckDB replays the k-gram
    hashing, the packed hash*2048+(2047-pos) keys, and the
    rightmost-min window selection with the same integer arithmetic;
    the exploded (doc_id, fp) stream must match exactly, and the
    fingerprint density must sit in the published ~1/w band."""
    from hummingbirddatapipeline_spark.catalog.text_q import _WINNOW_K
    from hummingbirddatapipeline_spark.tables import load

    rows = catalog_rows("text_winnow_fingerprints")
    assert len(rows) > 0

    # density: winnowing keeps ~1/w of the k-gram hashes (sanity band)
    docs = load(spark, SF, "documents")
    total_grams = sum(
        max(r["n"] - (_WINNOW_K - 1), 0)
        for r in docs.select(
            F.size(
                F.filter(
                    F.split(F.trim("text"), r"\s+"), lambda x: x != ""
                )
            ).alias("n")
        ).collect()
    )
    assert 0.1 < len(rows) / total_grams < 0.8


def test_winnow_shared_substring_guarantee(spark):
    """The published guarantee, constructively: two docs sharing a
    token substring of length >= w + k - 1 (= 8 here) MUST share a
    fingerprint; two disjoint-vocabulary docs share none."""
    from hummingbirddatapipeline_spark.functions.text import (
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, "x1 y1 z1 " + shared + " p1 q1"),
            (2, "u2 v2 " + shared + " w2 r2 s2"),
            (3, "m3 n3 o3 pp3 qq3 rr3 ss3 tt3 uu3 vv3 ww3"),
        ],
        "doc_id long, text string",
    )
    rows = docs.select(
        "doc_id",
        winnow_fingerprints(F.col("text"), k=4, w=5).alias("fps"),
    ).collect()
    hashes = {r["doc_id"]: {fp // 2048 for fp in r["fps"]} for r in rows}
    assert hashes[1] & hashes[2]          # shared substring -> shared fp
    assert not (hashes[1] & hashes[3])    # disjoint vocab -> disjoint fps
    assert not (hashes[2] & hashes[3])
