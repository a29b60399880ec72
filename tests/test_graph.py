"""Connected-components operator: min-id labeling on adversarial
topologies (long path — the pointer-jumping case), multi-component
graphs, dirty edge lists, and the representative-keeping dedup form."""

from __future__ import annotations

from pyspark.sql import functions as F

from hummingbirddatapipeline_spark.operators.graph import (
    connected_components,
    dedup_representatives,
)


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["node"]: r["cluster_id"]
        for r in connected_components(df, **kw).collect()
    }


def test_cc_two_components_and_bridge(spark):
    # clique {1,2,3}, clique {10,11,12}, bridged 3-10; separate pair {20,21}
    edges = [
        (1, 2), (2, 3), (1, 3),
        (10, 11), (11, 12), (10, 12),
        (3, 10),
        (20, 21),
    ]
    got = _cc(spark, edges)
    assert got == {
        1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 12: 1,
        20: 20, 21: 20,
    }


def test_cc_long_path_converges_logarithmically(spark):
    # a 64-node path is the diameter worst case: plain neighbor
    # propagation needs 63 rounds; pointer jumping must finish well
    # inside max_iter=10 (2^10 >> 64)
    edges = [(i, i + 1) for i in range(64)]
    got = _cc(spark, edges, max_iter=10)
    assert set(got.values()) == {0}
    assert len(got) == 65


def test_cc_tolerates_dirty_edges(spark):
    # duplicates, reversed duplicates, self-loops
    edges = [(1, 2), (2, 1), (1, 2), (3, 3), (3, 4)]
    got = _cc(spark, edges)
    assert got == {1: 1, 2: 1, 3: 3, 4: 3}


def test_dedup_representatives_keeps_min_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 7, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(2, 3), (3, 1)], "id_a long, id_b long")
    kept = {
        r["doc_id"]
        for r in dedup_representatives(docs, pairs).select("doc_id").collect()
    }
    # {1,2,3} collapse to representative 1; 7 and 9 are singletons
    assert kept == {1, 7, 9}


def test_curation_cluster_dedup_drops_transitive_chains(spark):
    """Topology where the greedy id_b rule under-drops: doc 3's only
    edge is (3, 5) so it is never an id_b, yet it is transitively a
    near-dup of doc 1 via 5. Cluster dedup keeps only the min-id rep."""
    from hummingbirddatapipeline_spark.operators.graph import (
        dedup_representatives,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 3, 5, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 5), (3, 5)], "id_a long, id_b long")

    greedy_drops = {5}  # only id_b values
    greedy_kept = {1, 3, 9}
    cluster_kept = {
        r["doc_id"]
        for r in dedup_representatives(docs, pairs).select("doc_id").collect()
    }
    assert cluster_kept == {1, 9}
    assert cluster_kept < greedy_kept  # strictly more thorough


def test_split_leakfree_no_cross_split_pairs(spark):
    """The invariant the operator exists for: no near-dup pair may
    straddle the train/val boundary, at any seed."""
    from hummingbirddatapipeline_spark.operators.sampling import split_leakfree

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(40)], "doc_id long, text string"
    )
    # chains and cliques across id space
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 10)]
        + [(20, 25), (25, 22), (30, 31)],
        "id_a long, id_b long",
    )
    for seed in ("s1", "s2", "s3"):
        out = split_leakfree(docs, pairs, val_fraction=0.5, seed=seed)
        side = {r["doc_id"]: r["split"] for r in out.collect()}
        for a, b in [(r["id_a"], r["id_b"]) for r in pairs.collect()]:
            assert side[a] == side[b], (seed, a, b)
        assert len(side) == 40  # every doc assigned exactly once


def test_cc_matches_union_find_on_random_graphs(spark):
    """Property: on arbitrary random graphs the distributed CC labeling
    must equal a reference union-find's min-id components — including
    graphs with long chains (the pointer-jumping stress case), dense
    blobs, self-loops, and duplicate edges."""
    import random as _random

    from hummingbirddatapipeline_spark.operators.graph import (
        connected_components,
    )

    rng = _random.Random(1234)
    for trial in range(4):
        n = rng.randint(10, 60)
        m = rng.randint(5, 2 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ] + [(i, i + 1) for i in range(0, min(15, n - 1))]  # a long chain

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e if e[0] != e[1]}
        expect = {
            v: min(u for u in touched if find(u) == find(v)) for v in touched
        }

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(pairs).collect()
        }
        assert got == expect, f"trial {trial}: {got} != {expect}"


def test_triangle_counts_hand_graph(spark):
    from hummingbirddatapipeline_spark.operators.graph import triangle_counts

    # triangle 1-2-3, pendant 3-4, disjoint edge 5-6, second triangle
    # sharing edge 2-3: 2-3-7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6), (2, 7), (3, 7)],
        "id_a long, id_b long",
    )
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(pairs).collect()}
    assert out == {1: 1, 2: 2, 3: 2, 4: 0, 5: 0, 6: 0, 7: 1}


def test_triangle_counts_max_degree_caps_hubs(spark):
    from hummingbirddatapipeline_spark.operators.graph import triangle_counts

    # node 1 is a hub of degree 5 in a clique with 2,3; capping at 3
    # removes wedges anchored at 1 but keeps the 2-3-4 triangle intact
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (1, 6), (2, 3), (2, 4), (3, 4)],
        "id_a long, id_b long",
    )
    full = {r["node"]: r["n_triangles"] for r in triangle_counts(pairs).collect()}
    # triangles: (1,2,3), (1,2,4), (1,3,4), (2,3,4)
    assert full == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0}
    capped = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(pairs, max_degree=3).collect()
    }
    # the hub's edges leave wedge generation entirely; the bounded
    # remainder (2-3-4) stays exact
    assert capped == {2: 1, 3: 1, 4: 1}


def test_pagerank_star_graph_ranks_center_highest(spark):
    from hummingbirddatapipeline_spark.operators.graph import pagerank

    # star: 0 connected to 1..6, plus an isolated pair (10, 11)
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 7)] + [(10, 11)], ["id_a", "id_b"]
    )
    scores = {r["node"]: r["pagerank"] for r in pagerank(pairs).collect()}
    assert set(scores) == {0, 1, 2, 3, 4, 5, 6, 10, 11}
    center = scores[0]
    assert all(center > scores[i] for i in range(1, 7))
    # leaves are symmetric -> identical scores
    assert len({scores[i] for i in range(1, 7)}) == 1
    # the isolated pair's nodes mirror each other
    assert scores[10] == scores[11]
    # mass conserved (no dangling nodes on the symmetrized graph)
    assert abs(sum(scores.values()) - 1.0) < 1e-9


def test_precomputed_labels_params_equal_inline_closure(spark, sf_dir):
    """r15 optimization: the shared CC fixture and the operators'
    ``labels`` parameters must be result-identical to the inline
    closure they replace (same pair graph, same min-id labeling)."""
    from hummingbirddatapipeline_spark.catalog.dedup_q import (
        shared_jaccard_cc,
        shared_jaccard_pairs,
    )
    from hummingbirddatapipeline_spark.operators.graph import (
        cluster_size_histogram,
        connected_components,
    )
    from hummingbirddatapipeline_spark.operators.sampling import (
        split_leakfree,
    )
    from hummingbirddatapipeline_spark.tables import load

    pairs = shared_jaccard_pairs(spark, sf_dir)
    cc_fix = shared_jaccard_cc(spark, sf_dir)
    cc_inline = connected_components(pairs)
    a = sorted((r["node"], r["cluster_id"]) for r in cc_fix.collect())
    b = sorted((r["node"], r["cluster_id"]) for r in cc_inline.collect())
    assert a == b

    docs = load(spark, sf_dir, "documents").select("doc_id")
    h1 = sorted(
        tuple(r) for r in cluster_size_histogram(pairs, universe=docs).collect()
    )
    h2 = sorted(
        tuple(r)
        for r in cluster_size_histogram(
            pairs, universe=docs, labels=cc_fix
        ).collect()
    )
    assert h1 == h2

    s1 = sorted(
        tuple(r)
        for r in split_leakfree(
            docs, pairs, val_fraction=0.10, seed="split0"
        ).collect()
    )
    s2 = sorted(
        tuple(r)
        for r in split_leakfree(
            docs, pairs, val_fraction=0.10, seed="split0", labels=cc_fix
        ).collect()
    )
    assert s1 == s2


def _lp_reference(edges, seeds, n_iter):
    """Pure-Python label propagation: synchronous rounds over the
    deduped undirected graph, seeds clamped, each non-seed node with a
    labeled neighbor taking the most frequent neighbor label, ties to
    the smallest label."""
    from collections import Counter, defaultdict

    nbrs = defaultdict(set)
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    state = dict(seeds)
    for _ in range(n_iter):
        nxt = dict(seeds)
        for node, ns in nbrs.items():
            votes = Counter(state[v] for v in ns if v in state)
            if node not in seeds and votes:
                nxt[node] = min(votes, key=lambda lab: (-votes[lab], lab))
        state = nxt
    return state


def test_label_propagation_three_label_ties_match_reference(spark):
    """Three labels on a hand-made tie star (node 0 hears one vote each
    for c, a and b) plus a seeded random graph: every round count
    equals the pure-Python reference of the synchronous clamped rounds,
    ties resolved to the lexically smallest label."""
    import random

    from hummingbirddatapipeline_spark.operators.graph import label_propagation

    rng = random.Random(11)
    star = [(0, 1), (0, 2), (0, 3), (4, 0)]
    rand = [(rng.randrange(100, 140), rng.randrange(100, 140)) for _ in range(90)]
    edges = star + rand + rand[:10]  # duplicates and self loops included
    seeds = {1: "c", 2: "a", 3: "b"}
    seeds.update({n: rng.choice("abc") for n in rng.sample(range(100, 140), 9)})
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    sdf = spark.createDataFrame(sorted(seeds.items()), "node long, label string")
    for n_iter in (1, 2, 3):
        got = {
            r["node"]: (r["label"], r["is_seed"])
            for r in label_propagation(edf, sdf, n_iter=n_iter).collect()
        }
        want = _lp_reference(edges, seeds, n_iter)
        assert got == {k: (v, k in seeds) for k, v in want.items()}, n_iter
        assert got[0] == ("a", False)


def test_label_propagation_rejects_null_seed_label(spark):
    """A NULL seed label fails the build instead of silently losing
    every vote it should have cast."""
    import pytest

    from hummingbirddatapipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    seeds = spark.createDataFrame(
        [(0, "good"), (2, None)], "node long, label string"
    )
    with pytest.raises(Exception, match="NULL seed label"):
        label_propagation(edges, seeds, n_iter=2)
