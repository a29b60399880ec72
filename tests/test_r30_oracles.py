"""Property checks for per-cluster cohesion over the near-dup graph,
the portable HyperLogLog error report (cardinality member of the
observe-don't-trust sketch family), and cross-source reciprocal best
matches. Each row's DuckDB differential runs in tests/test_oracles.py."""

from __future__ import annotations

import math


from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import built_plan


def _load(spark, table):
    from hummingbirddatapipeline_spark.tables import load

    return load(spark, SF, table)


def test_cluster_cohesion_matches_duckdb(catalog_rows):
    got = catalog_rows("dedup_cluster_cohesion")
    assert len(got) > 0
    for cid, n, n_pairs, mean_e6, density in got:
        assert n >= 2
        assert 1 <= n_pairs <= n * (n - 1) // 2
        assert 850_000 <= mean_e6 <= 1_000_000  # pairs are J >= 0.85
        assert density == round(n_pairs / (n * (n - 1) / 2), 6)


def test_cluster_cohesion_fixture(spark):
    """A 3-clique of identical docs (density 1.0, mean 1e6) vs a
    2-chain... chains need transitive closure with a sub-threshold
    middle pair, so pin the clique and an isolated pair instead."""
    from hummingbirddatapipeline_spark.operators.graph import (
        cluster_cohesion,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2, 1.0),
            (1, 3, 1.0),
            (2, 3, 1.0),
            (10, 11, 0.9),
        ],
        "id_a long, id_b long, jaccard double",
    )
    rows = {r["cluster_id"]: r for r in cluster_cohesion(pairs).collect()}
    assert rows[1]["n_members"] == 3 and rows[1]["n_pairs"] == 3
    assert rows[1]["density"] == 1.0
    assert rows[1]["mean_jaccard_e6"] == 1_000_000
    assert rows[10]["n_members"] == 2 and rows[10]["n_pairs"] == 1
    assert rows[10]["mean_jaccard_e6"] == 900_000


def test_hll_error_matches_duckdb(catalog_rows):
    got = catalog_rows("sketch_hll_error")
    assert len(got) == 1
    m, n_exact, est, rel_err = got[0]
    assert m == 64 and n_exact > 0 and est > 0
    # the observed error should sit within a loose multiple of the
    # theoretical stderr 1.04/sqrt(m) = 0.13 (deterministic given the
    # fixed hash; 4x covers any real corpus draw)
    assert rel_err <= 4 * 1.04 / math.sqrt(64)


def test_hll_small_range_exact_regime(spark):
    """With 3 distinct words and m = 64, the small-range (linear
    counting) branch is active: estimate = m * ln(m / zeros), which
    for 3 occupied registers is 64 * ln(64/61) = 3.07... -> 3."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        hll_error_report,
    )

    docs = spark.createDataFrame(
        [(1, "aa bb cc aa bb")], "doc_id long, text string"
    )
    r = hll_error_report(docs, b=6).collect()[0]
    assert r["n_exact"] == 3
    # buckets could collide (3 words, 64 buckets) — the estimate is
    # m * ln(m / (m - occupied)); occupied in {1, 2, 3}
    assert r["hll_estimate"] in (
        round(64 * math.log(64 / 63)),
        round(64 * math.log(64 / 62)),
        round(64 * math.log(64 / 61)),
    )


def test_best_match_matches_duckdb(catalog_rows):
    got = catalog_rows("dedup_cross_source_best_match")
    assert len(got) > 0
    seen_a, seen_b = set(), set()
    for id_a, id_b, sa, sb, j in got:
        assert id_a < id_b and sa != sb and j >= 0.3
        # mutual-best means each doc appears in at most one pair
        assert id_a not in seen_a and id_b not in seen_b
        seen_a.update((id_a, id_b))
        seen_b.update((id_a, id_b))


def test_best_match_hub_suppression(spark):
    """A boilerplate hub similar to two partners pairs ONLY with its
    mutual best; the lesser partner is left out (no flooding)."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        cross_source_best_match,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h", "s1"),   # hub
            (2, "a b c d e f g x", "s2"),   # 7/9 with hub
            (3, "a b c d y z w q", "s2"),   # 4/12 with hub
        ],
        "doc_id long, text string, source string",
    )
    got = cross_source_best_match(docs, threshold=0.3).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["jaccard"] == round(7 / 9, 6)


def test_r30_plan_contracts(spark):
    """cohesion: CC closure + cluster-keyed aggregates, no nested
    loops. HLL: the only BNLJ is the 1-row exact-count attach. best
    match: equi-joins only after the pair build."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        cross_source_best_match,
        hll_error_report,
        jaccard_pairs_prefix,
    )
    from hummingbirddatapipeline_spark.operators.graph import (
        cluster_cohesion,
    )

    docs = _load(spark, "documents")
    pairs = jaccard_pairs_prefix(docs, "text", "doc_id", 0.85, 1)
    plan = built_plan(cluster_cohesion(pairs))
    assert "CartesianProduct" not in plan
    # the pair ENGINE's documented bounded attaches (the dense/mask
    # path broadcasts its <= 1024-word vocab row) are allowed; the
    # cohesion layer itself must add none
    cohesion_only = built_plan(
        cluster_cohesion(
            pairs.localCheckpoint(eager=False)
        )
    )
    assert "BroadcastNestedLoopJoin" not in cohesion_only

    plan = built_plan(hll_error_report(docs))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1

    plan = built_plan(cross_source_best_match(docs.select("doc_id", "text", "source")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
