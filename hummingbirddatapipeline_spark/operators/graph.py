"""Distributed connected components over a pair/edge list.

The missing last step of every near-dup pipeline: pair generation
(MinHash-LSH, SimHash, exact Jaccard — operators/dedup.py) emits
(id_a, id_b) edges; deduplication needs the transitive closure of
those edges as CLUSTERS, so each duplicate group keeps exactly one
representative. ``boilerplate_clusters`` (dedup.py) covers the
degenerate mega-bucket case with a star assignment; this operator is
the general graph form.

Algorithm: min-label propagation with pointer jumping — each round
every node takes the minimum label among itself and its neighbors
(one edge-join shuffle), then labels are short-circuited through one
pointer-jump (label := label(label), a self-join shuffle), the
Shiloach–Vishkin doubling step that collapses label chains. Plain
neighbor propagation alone needs O(diameter) rounds (a 1M-node path
is 1M shuffles); with the jump the round count is O(log n) on any
topology, so at 100 TB the job is ~30 bounded-size shuffle rounds in
the worst case and 2-4 on real near-dup graphs (cliques glued by
short chains). Per-round state is one (node, label) table — never
adjacency lists in memory, no mega-hub collect, skew-safe because
both shuffles key on node/label ids.

DataFrame-only: each round is two joins + an aggregation; lineage is
truncated with localCheckpoint so the plan does not grow across
rounds (the iterative-algorithm escape hatch, like pyspark.ml's own
iterations). The convergence check is one count() action per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _undirected(
    pairs: DataFrame, id_a: str, id_b: str
) -> tuple[DataFrame, DataFrame]:
    """The undirected-graph block of :func:`connected_components` and
    :func:`pagerank`: ``(edges, nodes)``. ``edges`` is the checkpointed
    ``(u, v)`` list, symmetrized, without self edges, deduplicated.
    ``nodes`` is the distinct ``node`` roster of the RAW endpoints, not
    yet checkpointed, so each caller shapes it before its own cut."""
    # Checkpoint the pair projection BEFORE symmetrizing: the union has
    # two branches, and without truncation each branch re-executes the
    # (often expensive) upstream pair-generation plan — measured 2x the
    # whole job's cost when fed LSH/Jaccard candidate pipelines.
    base = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).localCheckpoint()
    edges = (
        base.union(base.select(F.col("v"), F.col("u")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # The roster comes from the RAW endpoint set (before the self-edge
    # filter): a node appearing only in self edges still owes a
    # (node, node) label and a teleport score — a roster from the
    # filtered edge list silently dropped it, and downstream cluster
    # joins then treated it as absent rather than a singleton.
    nodes = (
        base.select(F.col("u").alias("node"))
        .union(base.select(F.col("v").alias("node")))
        .distinct()
    )
    return edges, nodes


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Component assignment for every node appearing in ``pairs``.

    Returns (node, cluster_id) where ``cluster_id`` is the MINIMUM
    node id of the component — a deterministic, engine-independent
    labeling (the DuckDB oracle recomputes it via a recursive CTE).

    ``pairs`` is an undirected edge list; duplicate and self edges are
    tolerated. Raises if ``max_iter`` rounds don't converge (at
    O(log n) rounds, 25 covers graphs far beyond 2^25 nodes).

    Lineage is always truncated with localCheckpoint: without it each
    round's self-joins grow the plan multiplicatively AND the
    convergence join compares a frame against its own ancestor
    (Spark's ambiguous-self-join trap) — an un-checkpointed variant is
    neither practical nor safe, so it is not offered.
    """
    edges, nodes = _undirected(pairs, id_a, id_b)
    labels = nodes.select("node", F.col("node").alias("lbl")).localCheckpoint()

    # Convergence via the label-sum invariant: every update is
    # least(lbl, ...) twice, so per-node labels are monotone
    # NON-INCREASING — a round changed some label iff the exact total
    # strictly decreased. Comparing sums replaces the old
    # join-the-previous-round + count job with one skinny aggregate
    # per round (same number of actions, no join). DECIMAL(38,0) keeps
    # the sum exact at any realistic scale (1e9 nodes x 9.2e18 max id
    # ~ 1e28 << 1e38).
    def _lbl_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("t")
        ).collect()[0]["t"]

    prev_tot = _lbl_sum(labels)
    for _ in range(max_iter):
        # 1. neighbor minimum: the label each node hears from its edges
        nbr_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        stepped = (
            labels.join(nbr_min, labels.node == nbr_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
        )
        # 2. pointer jump: lbl := lbl(lbl) — collapses label chains so
        # convergence is logarithmic, not diameter-bound
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl")
        )
        jumped = (
            stepped.join(parent, stepped.lbl == parent.p_node, "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("p_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
        )
        jumped = jumped.localCheckpoint()
        tot = _lbl_sum(jumped)
        labels = jumped
        if tot == prev_tot:
            return labels.select("node", F.col("lbl").alias("cluster_id"))
        prev_tot = tot
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The deduplicated corpus: drop every clustered doc except its
    cluster's minimum-id representative; singletons (no near-dup edge)
    pass through untouched. One anti-join after the CC assignment."""
    cc = connected_components(pairs, id_a, id_b)
    losers = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def triangle_counts(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_degree: int | None = None,
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list — the
    clustering-coefficient numerator, used to tell tight near-dup
    cliques (template families) from loose chains in the dedup graph.

    Returns (node, n_triangles) for every node on an edge; nodes in no
    triangle report 0.

    Scale shape: the classic ordered-wedge join — edges are canonical
    (u < v), wedges (u < v < w) come from joining edges on the shared
    low endpoint, and each wedge probes the edge list once. Every
    triangle u < v < w is found exactly once as wedge (u, v) + (u, w)
    closed by edge (v, w), then credited to all three nodes. Two
    equi-joins on skinny id pairs — never an all-pairs product; at
    scale the standard degree-ordering refinement bounds wedge fanout
    by arboricity and slots into the same plan.

    ``max_degree`` is the mega-clique guard (same role as LSH's
    ``max_bucket``): a d-clique holds d(d-1)(d-2)/6 triangles, so
    enumeration over a boilerplate mega-cluster is quadratic fanout
    for an answer that only says "this is a clique". Edges whose LOW
    endpoint exceeds the cap are excluded from wedge generation
    (triangles through such hubs are undercounted BY DESIGN — the hub
    treatment at scale is the clique/cluster label, not triangle
    enumeration; counts for the bounded remainder stay exact).
    """
    # Lineage cut (r15, guide §2.4/§5): the canonical edge list feeds
    # FIVE downstream references (degree counts x2, both wedge sides,
    # the closing probe, the node roster x2) and Catalyst inlines each
    # reference — without truncation every one re-runs the
    # least/greatest + distinct exchange over the (often expensive)
    # upstream pair plan. One skinny (u, v) frame; measured ~1 s off
    # the catalog row's warm cost at sf0.1.
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if max_degree is not None:
        deg = (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("__d"))
        )
        hubs = deg.filter(F.col("__d") > max_degree).select(
            F.col("node").alias("u")
        )
        # same cut for the capped list: four consumers follow
        e = e.join(hubs, "u", "left_anti").localCheckpoint(eager=False)
    # wedges around the low endpoint: (u, v, w) with v < w
    w1 = e.select(F.col("u"), F.col("v"))
    w2 = e.select(F.col("u"), F.col("v").alias("w"))
    wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
    closing = e.select(
        F.col("u").alias("v"), F.col("v").alias("w"), F.lit(1).alias("__hit")
    )
    tri = wedges.join(closing, ["v", "w"], "inner").select("u", "v", "w")
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    return nodes.join(per_node, "node", "left").select(
        "node",
        F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"),
    )


def dedup_representatives_by_score(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Quality-aware dedup representatives: each near-dup cluster keeps
    its HIGHEST-``score_col`` member (ties -> lowest id) instead of the
    lowest id — the curation policy that keeps the best-quality copy
    of every duplicated document (min-id keep throws away quality
    signal; FineWeb-style pipelines keep by quality).

    Singletons pass through. Same plan shape as
    :func:`dedup_representatives`: the (cached) CC assignment, two
    per-cluster hash aggregates (max score, then min id among the
    max-scored — works for ANY orderable id type, string doc ids
    included, unlike a ``-id`` struct-negation trick), and an
    anti-join-shaped keep filter. Deterministic and SQL-reproducible
    as long as ``score_col`` is exact (integers or already-rounded).
    Clustered members whose score is NULL lose to any non-NULL score;
    a cluster whose members are ALL NULL-scored is kept intact (no
    keeper can be chosen, so nothing is dropped).
    """
    cc = connected_components(pairs, id_a, id_b)
    scored = cc.join(
        docs.select(F.col(id_col).alias("node"), F.col(score_col).alias("__s")),
        "node",
    )
    max_s = scored.groupBy("cluster_id").agg(F.max("__s").alias("__smax"))
    best = (
        scored.join(max_s, "cluster_id")
        .filter(F.col("__s").eqNullSafe(F.col("__smax")) & F.col("__s").isNotNull())
        .groupBy("cluster_id")
        .agg(F.min("node").alias("__keep"))
    )
    losers = scored.join(best, "cluster_id").filter(
        F.col("node") != F.col("__keep")
    ).select(F.col("node").alias(id_col))
    return docs.join(losers, id_col, "left_anti")


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    damping: float = 0.85,
    n_iter: int = 10,
    round_dp: int = 12,
    exact_longs: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair list (edges
    symmetrized, so every node on a real edge has out-degree >= 1) —
    the centrality signal that separates hub documents inside a
    near-dup neighborhood from peripheral ones, and the repo's
    reference iterative-propagation shape alongside connected
    components.

    Exactly ``n_iter`` synchronous power iterations (no convergence
    check — fixed work, deterministic output), each score ROUNDED to
    ``round_dp`` decimals before the next step: per-node contributions
    are summed by a hash aggregate whose float order differs between
    engines and across runs, and without the per-iteration quantize
    those ulps would compound through the recurrence — with it, the
    whole trajectory is bit-reproducible in ANSI SQL (the oracle
    unrolls the same iterations as chained CTEs).

    Scale shape: the edge list and node roster come from
    ``_undirected``, the block ``connected_components`` also builds on;
    per iteration ONE edge-join shuffle + one hash aggregate over
    skinny (node, score) state, lineage cut with localCheckpoint;
    total cost is n_iter bounded rounds regardless of graph diameter.

    Returns (node, pagerank). Nodes appearing ONLY in self edges are
    dangling after symmetrization (out-degree 0, in-degree 0): they
    settle at the bare teleport score (1-d)/n from iteration 1 on, and
    the mass they never redistribute LEAKS — with such nodes present
    the total score sums to < 1 (by roughly d * n_dangling/n), the
    standard dangling-mass behavior when no redistribution term is
    applied. On a graph with no self-loop-only nodes, scores sum to ~1
    (quantization dust aside).
    """
    edges, nodes = _undirected(pairs, id_a, id_b)
    nodes = nodes.localCheckpoint()
    n = nodes.count()
    deg = edges.groupBy("u").agg(F.count("*").alias("__d"))
    # self-loop-only nodes have no symmetrized edges: out-degree 0 on
    # a graph where they also receive nothing — they hold the uniform
    # teleport score and emit nothing, handled by the left join below.
    # F.round (HALF_UP), not Python round (HALF_EVEN): the oracle's
    # SQL ROUND must produce the identical starting vector
    scores = nodes.select(
        "node", F.round(F.lit(1.0 / n), round_dp).alias("score")
    ).localCheckpoint()
    teleport = (1.0 - damping) / n
    # exact_longs closes the residual FP tie-window documented on the
    # dedup_pagerank catalog row: each (round_dp+3)dp-rounded
    # contribution is an integer-valued double after scaling by
    # 10^(round_dp+3) (magnitude <= 1e15 < 2^53, exactly
    # representable), so summing the scaled LONGS is associative and
    # the per-iteration result is bit-identical under ANY partitioning
    # or engine — no ULP can land near a rounding boundary. Overflow
    # is impossible at any graph size: the contributions entering one
    # node sum to at most the total outgoing mass (<= 1), so the
    # scaled sum stays <= ~1e15 plus rounding dust, far under 2^63.
    scale = float(10 ** (round_dp + 3))
    # edges ⋈ deg is LOOP-INVARIANT: hoist it out of the iteration and
    # truncate, so each of the n_iter rounds pays one broadcast join
    # (the evolving scores) + the transpose aggregate instead of
    # re-deriving the degree attach every time (guide §1.2: remove
    # passes before tuning anything else). A hash-by-v persist() of it
    # (to share the per-round transpose exchange) lost an interleaved
    # A/B on cold and rebuilt time at sf0.1, so the checkpoint stays.
    edeg = edges.join(deg, "u").localCheckpoint()
    for _ in range(n_iter):
        contrib_col = F.round(F.col("score") / F.col("__d"), round_dp + 3)
        if exact_longs:
            summed = (
                F.sum(F.round(contrib_col * scale).cast("long")) / scale
            )
        else:
            summed = F.sum(contrib_col)
        contrib = (
            edeg.join(
                scores.select(F.col("node").alias("u"), "score"), "u"
            )
            .groupBy(F.col("v").alias("node"))
            .agg(summed.alias("__in"))
        )
        scores = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce("__in", F.lit(0.0)),
                    round_dp,
                ).alias("score"),
            )
            # per-round truncation; a batched every-3rd-round cadence
            # was MEASURED cold at sf0.1 and is not faster (20.6 s vs
            # 19.6 s — fusing 3 lazy rounds into one job just shifts
            # cost into optimizing the 3-deep join plan), so keep the
            # simple shape that matches CC's
            .localCheckpoint()
        )
    return scores.select("node", F.col("score").alias("pagerank"))


def incremental_connected_components(
    labels: DataFrame,
    new_edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Maintain a CC labeling under EDGE ARRIVALS without re-closing
    the full graph — the missing incremental half of the dedup
    clustering story (batch-vs-index dedup probes the store without
    rescanning it; this updates the store's CLUSTER LABELS without
    re-running closure over every historical pair).

    ``labels`` is an existing (node, cluster_id) assignment under this
    module's min-member-id labeling contract (``connected_components``
    output: every cluster_id is itself a member node). ``new_edges``
    may touch labeled nodes, corpus singletons absent from ``labels``,
    or brand-new nodes.

    Algorithm: only components TOUCHED by a new edge can change. The
    touched nodes' clusters are resolved with one join; every member
    of an affected cluster is pulled into a subgraph as a STAR edge
    (node, cluster_id) — connectivity-preserving because the label is
    a member — new edges are unioned in, and the pointer-jumping
    closure runs over that bounded subgraph only. Untouched clusters
    pass through by anti-join. Min-id labels of merged components stay
    GLOBALLY correct because every old member rides the star edges.

    Scale shape: cost is proportional to the affected components plus
    the new edges — never the historical graph; the star construction
    is one join + one anti-join on skinny (node, label) state, and the
    closure inherits connected_components' O(log n)-round bound on the
    subgraph. Returns the updated full (node, cluster_id) table.
    """
    e = new_edges.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).localCheckpoint()
    touched = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    affected = (
        touched.join(labels, "node")
        .select("cluster_id")
        .distinct()
        .localCheckpoint()
    )
    members = labels.join(affected, "cluster_id")
    star = members.select(F.col("node").alias("u"), F.col("cluster_id").alias("v"))
    updated = connected_components(
        star.unionByName(e), "u", "v", max_iter=max_iter
    )
    untouched = labels.join(affected, "cluster_id", "left_anti")
    return untouched.select("node", "cluster_id").unionByName(
        updated.select("node", "cluster_id")
    )


def label_propagation(
    pairs: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002 /
    Raghavan 2007, made deterministic) over an undirected pair list —
    the curation move that stretches a small trusted label set (spam
    verdicts, license flags, human quality ratings) across the
    near-dup / same-host / link graph: a page sharing most of its
    shingles with known spam is spam.

    Exactly ``n_iter`` SYNCHRONOUS rounds. Each round every non-seed
    node with at least one labeled neighbor takes the most frequent
    label among its neighbors' current labels — ties broken to the
    lexically smallest label, so the update is integer counts + a
    deterministic argmax, bit-reproducible in ANSI SQL. Seeds are
    CLAMPED (trusted labels never flip — the semi-supervised
    convention). The labeled set grows monotonically (a labeled
    neighbor never unlabels), so n_iter bounds the propagation RADIUS
    from the seed set; labels may still flip as fronts collide.

    Scale shape: edges symmetrized by one explode of both directions,
    edges into seeds dropped and the rest deduped once
    (localCheckpoint); per round ONE edge join and
    ONE per-node vote aggregate (``mode`` with its deterministic
    smallest-value tie rule) over skinny state, no window — the
    pagerank iteration pattern, cost n_iter bounded rounds regardless
    of diameter. Seeds re-clamp with a broadcast-size union, and
    lineage is cut per round. A NULL seed label raises at the seed
    checkpoint.

    Returns (node, label, is_seed) for every node labeled after
    ``n_iter`` rounds (unreached nodes are absent — at 100 TB the
    unlabeled complement is the corpus, not a column).

    PAIR SOURCE (pinned r11, per the r10 VERDICT): the registered
    catalog row (`dedup_label_propagation`, r16 recipe) builds its
    edges with `jaccard_pairs_prefix` — EXACT pairs, so the DuckDB
    oracle can re-derive the identical graph and the whole
    propagation is hashed. That is the oracle-gate regime. At 100 TB
    the production feed is the banded-LSH capped path
    (`near_dup_pairs_minhash` with `max_bucket` + the
    `boilerplate_clusters` routing): the propagation rounds are
    pair-source-agnostic (any (id_a, id_b) list), and the capped path
    bounds candidate volume where exact pair enumeration is
    output-bound (the 10x-distinct receipts in PLANS.md measure both
    regimes). Same decision applies to `cluster_size_histogram`
    (r20): exact pairs under the oracle, capped LSH in production.
    """
    # mode() skips NULLs, so a NULL seed label would silently lose
    # every vote; fail inside the checkpoint the seeds already pay for
    label = F.col(label_col)
    seed = seeds.select(
        F.col(node_col).alias("node"),
        F.when(
            label.isNull(),
            F.raise_error(F.lit("label_propagation: NULL seed label")),
        )
        .otherwise(label)
        .alias("label"),
    ).localCheckpoint()
    # seeds are clamped, so only edges into non-seed nodes carry a vote;
    # dropping the rest once keeps the anti-join out of every round
    edges = (
        pairs.selectExpr(
            f"explode(array(named_struct('u', `{id_a}`, 'v', `{id_b}`), "
            f"named_struct('u', `{id_b}`, 'v', `{id_a}`))) AS e"
        )
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
        .join(seed.select(F.col("node").alias("u")), "u", "left_anti")
        .distinct()
        .localCheckpoint()
    )
    state = seed
    for _ in range(n_iter):
        # shuffle_hash: left to AQE, the join broadcasts whichever side's
        # shuffle finishes first, so a rebuild can plan (and compile)
        # differently; the hint fixes the strategy, and the labeled
        # state is not broadcast-size at scale anyway.
        # mode(deterministic): most votes, ties to the smallest label
        voters = state.withColumnRenamed("node", "v").hint("shuffle_hash")
        prop = (
            edges.join(voters, "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.mode("label", deterministic=True).alias("label"))
        )
        state = seed.unionByName(prop).localCheckpoint()
    return state.join(
        F.broadcast(seed.select("node", F.lit(True).alias("is_seed"))),
        "node",
        "left",
    ).select(
        "node", "label", F.coalesce("is_seed", F.lit(False)).alias("is_seed")
    )


def cluster_size_histogram(
    pairs: DataFrame,
    universe: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    universe_id: str = "doc_id",
    labels: DataFrame | None = None,
) -> DataFrame:
    """Duplicate-cluster OBSERVABILITY: the size histogram of the
    near-dup graph's connected components — the one chart every dedup
    run gets judged by (how much is unique, how long is the tail, is
    there a boilerplate mega-cluster). Pass ``universe`` (the full
    corpus keys) to also account singletons — docs untouched by any
    pair — as the size-1 row. ``labels`` optionally supplies a
    precomputed (node, cluster_id) closure of ``pairs`` (r15: the
    shared catalog CC fixture); must equal
    ``connected_components(pairs)``.

    Returns (cluster_size, n_clusters, n_docs) with n_docs =
    cluster_size * n_clusters (emitted for direct reading; exact
    integers).

    Scale shape: the closure is :func:`connected_components`
    (O(log n) pointer-jumping rounds); the histogram is two hash
    aggregates over skinny (node, cluster) then (size) keys; the
    singleton count is one anti-join of key columns. Output is at
    most |distinct sizes| rows — the observability query costs what
    the dedup itself already paid.
    """
    cc = (
        labels
        if labels is not None
        else connected_components(pairs, id_a, id_b)
    )
    sizes = cc.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    )
    if universe is not None:
        clustered = cc.select(F.col("node").alias(universe_id))
        n_single = (
            universe.select(universe_id)
            .join(clustered, universe_id, "left_anti")
            .count()
        )
        if n_single:
            from hummingbirddatapipeline_spark.tables import inline_rows

            single = inline_rows(
                hist.sparkSession,
                [(1, n_single)],
                "cluster_size long, n_clusters long",
            )
            hist = hist.unionByName(single)
    return hist.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("long")
        .alias("n_docs"),
    )


def cluster_cohesion(pairs: DataFrame) -> DataFrame:
    """Per-cluster COHESION report over a verified near-dup pair set —
    the quality view of the dedup graph that the size histogram
    (cluster_size_histogram, banked r20) cannot see: two clusters of
    size 10 are different beasts if one is a clique of 0.99-Jaccard
    twins and the other a sparse chain of barely-0.85 links (the chain
    is the one transitive closure over-merges; density + mean
    similarity is how a pipeline owner finds those before cutting
    whole clusters). Input is (id_a, id_b, jaccard) as produced by
    the exact pair engines; components close via
    :func:`connected_components` (min-id labels, deterministic).

    Returns one row per cluster: (cluster_id, n_members, n_pairs,
    mean_jaccard_e6, density) — n/pairs exact BIGINTs;
    mean_jaccard_e6 is an exact-long mean (each 6dp jaccard scales to
    an e6 integer losslessly, sums exactly, one final ROUND division
    — partitioning-invariant); density = n_pairs / C(n_members, 2)
    with one 6dp division.

    Scale shape: CC is the pointer-jumping O(log n) closure; the pair
    attach is one equi-join on id_a (both ends of a verified pair are
    in the same component by construction — asserted cheap via the
    id_a side only); two cluster-keyed aggregates share the exchange.
    """
    # lineage cut: the (usually expensive) pair build feeds BOTH the
    # CC closure and the j_e6 attach below (banking-time scan audit)
    pairs = pairs.localCheckpoint(eager=False)
    cc = connected_components(pairs)
    members = cc.groupBy("cluster_id").agg(
        F.count("*").alias("n_members")
    )
    j_e6 = F.round(F.col("jaccard") * 1_000_000).cast("long")
    attached = pairs.select(
        F.col("id_a").alias("node"), j_e6.alias("__j_e6")
    ).join(cc, "node")
    per_cluster = attached.groupBy("cluster_id").agg(
        F.count("*").alias("n_pairs"),
        F.round(
            F.sum("__j_e6").cast("double") / F.count("*")
        )
        .cast("long")
        .alias("mean_jaccard_e6"),
    )
    return members.join(per_cluster, "cluster_id").select(
        "cluster_id",
        "n_members",
        "n_pairs",
        "mean_jaccard_e6",
        F.round(
            F.col("n_pairs").cast("double")
            / (
                F.col("n_members").cast("double")
                * (F.col("n_members") - 1).cast("double")
                / 2.0
            ),
            6,
        ).alias("density"),
    )
