"""Dedup catalog queries (north-star extension): MinHash-LSH runs as a
RECALL CONTRACT against the exact Jaccard pair set (which DuckDB
recomputes independently); SimHash stays rows-only (bit-vote hashing
isn't reasonably SQL-expressible); exact-fingerprint and n-gram Jaccard
dedup have full DuckDB oracles in text_q.py. Recall/precision
properties are additionally covered in tests/.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hummingbirddatapipeline_spark.catalog import _cached, bench_query, query
from hummingbirddatapipeline_spark.operators.dedup import (
    jaccard_pairs_prefix,
    near_dup_pairs_minhash,
    simhash64,
    simhash_dedup,
)
from hummingbirddatapipeline_spark.operators.graph import connected_components
from hummingbirddatapipeline_spark.tables import load
from hummingbirddatapipeline_spark.catalog.text_q import _DUCK_TOKS


# The exact-Jaccard near-dup pair set (>= 0.85, unigram shingles) is
# the shared input of six catalog queries (CC clusters,
# representatives, leak-free split, ngram-overlap audit, gated
# funnel, triangles) — compute it once per (session, sf_dir) and hand
# out the checkpointed result (~6.5 s cold at sf0.1 since the bitmask
# regime landed; was ~30 s). Held in the catalog's plan cache, so
# catalog.invalidate() drops it with the plans.
@functools.partial(_cached, "shared_jaccard_pairs")
def shared_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (id_a, id_b) exact Jaccard >= 0.85 pair set over
    ``documents`` — the canonical near-dup graph the cluster/split
    queries close over. localCheckpoint materializes it eagerly on
    first use; subsequent queries reuse the blocks."""
    docs = load(spark, sf_dir, "documents", fanout=True)
    # repartition(1): the r15 fan-out leaves the build 32-way parallel
    # (the dense-mask probe is the win), but the CHECKPOINTED edge list
    # must stay compact — the iterative consumers (CC, pagerank, LPA)
    # pay per-round scheduling for every block of this frame, and 27 MB
    # is one healthy block. repartition (a shuffle), not coalesce, so
    # the probe stage itself keeps its parallelism.
    return (
        jaccard_pairs_prefix(docs, "text", "doc_id", threshold=0.85, shingle_size=1)
        .select("id_a", "id_b")
        .repartition(1)
        .localCheckpoint()
    )


# The min-id CC labeling of that same graph is itself the shared
# input of seven catalog queries (clusters, representatives,
# incremental-CC seed, leak-free split, split audit, cluster-aware
# decontamination, size histogram) — each used to re-run the ~8 s
# pointer-jumping closure per cold query (r15 measurement). Same
# lifecycle as the pair set; the build rides the same bench
# shared-setup accounting (bench.py measures it as its own row).
@functools.partial(_cached, "shared_jaccard_cc")
def shared_jaccard_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (node, cluster_id) min-id connected-components
    labeling of :func:`shared_jaccard_pairs` — identical to
    ``connected_components(shared_jaccard_pairs(...))`` by
    construction; computed once per (session, sf_dir)."""
    return connected_components(shared_jaccard_pairs(spark, sf_dir)).localCheckpoint()


@query(
    "dedup_minhash_near_dups",
    oracle=f"""
    WITH tok AS (
      -- contract-corpus cap (see row docstring): no-op at
      -- sf0.001/0.01 (the driver gate scales)
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS w
      FROM documents WHERE doc_id < 500
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT COUNT(*) AS n_exact_pairs, TRUE AS recall_ok_99
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.id_a
    JOIN sizes sb ON sb.doc_id = p.id_b
    WHERE inter / (sa.n + sb.n - inter) >= 0.85
    """,
)
def dedup_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs as a RECALL CONTRACT: Spark runs the
    banded MinHash pipeline AND the exact all-pairs Jaccard baseline;
    the hashed output is (exact pair count — recomputed independently
    by DuckDB — and a recall >= 0.99 flag). Banding parameters that
    drop true pairs go driver-red; the pair CONTENT of the exact
    baseline is separately fully oracled as text_jaccard_near_dups.

    Contract scope: holds while true-dup clusters fit ``max_bucket``.
    The sf0.1 synthetic corpus contains one ~2,700-doc mutual-near-dup
    mega-cluster (53% of docs); the boilerplate cap drops its buckets
    BY DESIGN — enumerating a mega-cluster pairwise (3.5M pairs that
    all say "same cluster") is the wrong operation at scale, where such
    clusters get a representative/cluster-id treatment instead. At the
    driver's correctness SF (0.01) cluster sizes are realistic and
    measured recall is 0.9998.

    CONTRACT-ROW FIXTURE CAP (r14 full-catalog sf1 sweep): the recall
    contract runs the exact all-pairs baseline INSIDE the row, and on
    the tiny-vocab contract corpus the true pair set is a constant
    fraction of all pairs — Theta(n^2) by construction (measured
    276.4 s at sf1 pre-cap). Moreover the cap must sit INSIDE the
    contract's own scope: a first cap at 5000 docs turned the row
    red under the sf1 cross-engine check, because at that corpus size
    the mega-cluster exceeds max_bucket, its buckets drop BY DESIGN,
    and measured recall falls below the 0.99 gate while the oracle's
    flag is the constant TRUE — i.e. the row was latently red at any
    sf_dir >= 0.1 long before the cap. The fixture is therefore
    pinned at doc_id < 500 — the realistic-cluster regime the
    contract's precondition ("true-dup clusters fit max_bucket")
    actually holds in, and an exact no-op at the driver gate scales
    (sf0.001/0.01 doc_ids end at 499). Oracle capped identically;
    cap symmetry PROVEN by the sf1 cross-engine differential (the
    only scale family where the cap bites). The banded pipeline's
    own scaling is receipted separately on DISTINCT-mode replicas
    (constant dup density)."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 500  # contract-corpus cap, see docstring
    )
    # 1-word shingles + low threshold: testdata docs are word soup from a
    # tiny vocabulary, so token-level overlap is the meaningful signal.
    # Both pair sets are skinny (id_a, id_b) referenced twice below
    # (hits semi-join + the counts); without the checkpoints each
    # reference re-runs the full LSH / exact pair lineage — this row
    # held 7 corpus text scans (tools/scan_audit.py)
    cand = (
        near_dup_pairs_minhash(
            docs,
            "text",
            "doc_id",
            threshold=0.85,
            num_hashes=32,
            bands=8,
            shingle_size=1,
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    exact = (
        jaccard_pairs_prefix(
            docs, "text", "doc_id", threshold=0.85, shingle_size=1
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    hits = exact.join(cand, ["id_a", "id_b"], "left_semi")
    ex_n = exact.agg(F.count("*").alias("n_exact_pairs"))
    hit_n = hits.agg(F.count("*").alias("n_hit"))
    return ex_n.crossJoin(hit_n).select(
        "n_exact_pairs",
        (
            F.col("n_hit").cast("double")
            >= 0.99 * F.col("n_exact_pairs").cast("double")
        ).alias("recall_ok_99"),
    )


@bench_query("dedup_minhash_pairs")  # bench-only: the raw operator output
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH pipeline alone (signatures -> banding ->
    hashed-shingle Jaccard verify) — the BENCH form of the operator.
    Correctness is covered by ``dedup_minhash_near_dups`` (recall
    contract vs the exact pair set) at the driver's correctness SF;
    this entry exists so the benchmark measures the scale path's own
    cost, not the quadratic exact baseline it is contracted against.
    Registered in BENCH_ONLY, not queries(): every driver-facing entry
    carries an oracle, and this form's output is seed-dependent.
    No final sort: a global orderBy's range-partition sampling pass
    would re-execute the whole pipeline (~2x cost) for decoration."""
    docs = load(spark, sf_dir, "documents", fanout=True)
    return near_dup_pairs_minhash(
        docs, "text", "doc_id", threshold=0.85, num_hashes=32, bands=8, shingle_size=1
    )


@bench_query("dedup_simhash_groups")  # bench-only: 64-bit vote hashing
def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH form of SimHash dedup (the raw per-doc 64-bit vote hash is
    engine-specific, so no cross-engine oracle is possible); the
    correctness gate is ``dedup_simhash_consistency`` above."""
    docs = load(spark, sf_dir, "documents", fanout=True)
    return (
        simhash_dedup(docs, "text", "doc_id", shingle_size=1)
        .select("doc_id", "simhash", "dup_count")
    )


# Twin offset for the simhash contract fixture; far above any doc_id
# CONTRACT (r11 ADVICE): the exploded twin/far frames below route rows
# by id range (doc_id < far_off), so every original doc_id must sit
# BELOW this offset or a twin would collide with the far range and
# corrupt both partitions. Asserted for every supported SF in
# tests/test_catalog_smoke.py::test_twin_offsets_clear_all_doc_ids
# (same latent assumption as multimodal_q's phash offsets).
_SIMHASH_TWIN_OFFSET = 20_000_000


@query(
    "dedup_simhash_consistency",
    oracle=rf"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_SIMHASH_TWIN_OFFSET}, replace(text, ' ', '  ')
      FROM documents
    ),
    fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
      FROM all_docs
    )
    SELECT MIN(doc_id) AS rep_doc_id,
           COUNT(*) AS n_members,
           TRUE AS same_simhash,
           TRUE AS far_simhash_differs
    FROM fp GROUP BY f HAVING COUNT(*) >= 2
    ORDER BY rep_doc_id
    """,
)
def dedup_simhash_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash CONSISTENCY CONTRACT: every exact-duplicate group (by
    the normalized fingerprint both engines compute independently) must
    collapse to a single simhash value. The raw corpus has NO exact
    duplicates below sf0.1, which made the original form a 0-row
    (vacuously green) driver row — so every doc now gets a
    deterministic whitespace twin (spaces doubled: same token
    sequence, hence provably the same simhash, and the same normalized
    fingerprint) and the contract hashes a full one-group-per-document
    roster at every SF; organic exact-dup groups merge in on top.
    Hashes the group roster (rep id, size — real cross-engine data)
    plus the consistency flag, so a regression in shingling or the
    bit-vote accumulator goes driver-red.

    The contract is TWO-SIDED: a degenerate simhash (e.g. a constant)
    would still satisfy the positive side, so each group also asserts
    ``far_simhash_differs`` — the rep doc's BYTE-REVERSED text (a
    completely different token multiset; no palindromic docs exist at
    any SF) must hash to a DIFFERENT simhash than the group's. The raw
    per-doc simhash stays rows-only above (the 64-bit vote hash itself
    is engine-specific)."""
    from hummingbirddatapipeline_spark.functions.text import fingerprint

    # ONE corpus scan: the whitespace twin and the byte-reversed far
    # probe are explode branches of the original row, not separate
    # re-reads (union branches / a separate far frame each re-scan the
    # parquet — 3 scans for one logical pass; the hashing work is
    # identical either way)
    far_off = 2 * _SIMHASH_TWIN_OFFSET
    exploded = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_id").alias("doc_id"),
                        F.col("text").alias("text"),
                    ),
                    F.struct(
                        (F.col("doc_id") + _SIMHASH_TWIN_OFFSET).alias(
                            "doc_id"
                        ),
                        F.replace(
                            F.col("text"), F.lit(" "), F.lit("  ")
                        ).alias("text"),
                    ),
                    F.struct(
                        (F.col("doc_id") + far_off).alias("doc_id"),
                        F.reverse(F.col("text")).alias("text"),
                    ),
                )
            ).alias("r")
        )
        .select(
            F.col("r.doc_id").alias("doc_id"),
            F.when(
                F.col("r.doc_id") < far_off, fingerprint(F.col("r.text"))
            ).alias("f"),
            simhash64(F.col("r.text"), shingle_size=1).alias("sh"),
        )
        # skinny (id, f, sh); h and far below are two references, and
        # without this each would re-run the scan + simhash pass
        .localCheckpoint(eager=False)
    )
    h = exploded.filter(F.col("doc_id") < far_off)
    far = exploded.filter(F.col("doc_id") >= far_off).select(
        (F.col("doc_id") - far_off).alias("rep_doc_id"),
        F.col("sh").alias("sh_far"),
    )
    groups = (
        h.groupBy("f")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("n_members"),
            (F.countDistinct("sh") == 1).alias("same_simhash"),
            F.min("sh").alias("__sh"),
        )
        .filter(F.col("n_members") >= 2)
    )
    # every group contains an original (twins share their origin's
    # fingerprint), so rep_doc_id always resolves in the far table
    return groups.join(far, "rep_doc_id").select(
        "rep_doc_id",
        "n_members",
        "same_simhash",
        (F.col("sh_far") != F.col("__sh")).alias("far_simhash_differs"),
    )


# Shared DuckDB fragment: exact Jaccard (>= 0.85, unigram shingles)
# near-dup pair graph closed into min-id components via a recursive-CTE
# transitive closure. Prefix with WITH RECURSIVE; exposes CTE ``cc``
# (node, cluster_id). Reused by sample_split_leakfree.
DUCK_JACCARD_CC_CTES = f"""tok AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS w FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    near AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) p
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      WHERE inter / (sa.n + sb.n - inter) >= 0.85
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM near
      UNION SELECT id_b, id_a FROM near
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (
      SELECT u AS node, LEAST(u, MIN(v)) AS cluster_id
      FROM reach GROUP BY u
    )"""


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {DUCK_JACCARD_CC_CTES}
    SELECT node, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cc
    ORDER BY node
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS under the full oracle gate: the exact Jaccard
    pair set (same definition as text_jaccard_near_dups) is closed into
    connected components — (node, min-id cluster_id, cluster size) —
    by the pointer-jumping label propagation in operators/graph.py,
    while DuckDB independently computes the transitive closure with a
    recursive CTE. Min-id labeling makes the assignment deterministic
    and engine-free, so the driver hashes real cluster structure.

    This is the step that turns pair generation into deduplication:
    keep cluster_id == node (the representative), drop the rest
    (``dedup_representatives``)."""
    cc = shared_jaccard_cc(spark, sf_dir)
    from pyspark.sql.window import Window

    return cc.select(
        "node",
        "cluster_id",
        F.count("*").over(Window.partitionBy("cluster_id")).alias("cluster_size"),
    )


@query(
    "text_dedup_representatives",
    oracle=f"""
    WITH RECURSIVE {DUCK_JACCARD_CC_CTES}
    SELECT d.doc_id, COALESCE(cs.n, 1) AS cluster_size
    FROM documents d
    LEFT JOIN cc c ON c.node = d.doc_id
    LEFT JOIN (
      SELECT cluster_id, COUNT(*) AS n FROM cc GROUP BY cluster_id
    ) cs ON cs.cluster_id = c.cluster_id
    WHERE c.node IS NULL OR c.cluster_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def text_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE deduplicated corpus — the artifact every near-dup pipeline
    exists to produce: singletons pass through, and each near-dup
    cluster (exact Jaccard >= 0.85 graph closed by connected
    components) keeps exactly its minimum-id representative, tagged
    with the cluster size it represents. DuckDB recomputes the closure
    recursively and applies the same keep rule, so the driver hashes
    the kept set itself, not just the cluster assignment. One
    anti-join-shaped filter after the (cached) CC labeling."""
    cc = shared_jaccard_cc(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("n"))
    docs = load(spark, sf_dir, "documents").select("doc_id")
    labeled = docs.join(cc, docs.doc_id == cc.node, "left").join(
        sizes, "cluster_id", "left"
    )
    return labeled.filter(
        F.col("node").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    ).select("doc_id", F.coalesce("n", F.lit(1)).alias("cluster_size"))


@query(
    "dedup_tfidf_cosine_pairs",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS t FROM documents
    ),
    tf AS (
      SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM occ GROUP BY doc_id, t
    ),
    dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY t),
    nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    weighted AS (
      SELECT tf.doc_id, tf.t,
             tf.tf * ln(nd.n_docs / CAST(d.df_t AS DOUBLE)) AS w
      FROM tf JOIN dfreq d USING (t) CROSS JOIN nd
    ),
    norms AS (
      SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM weighted GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
      FROM weighted a JOIN weighted b
        ON a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = id_a
    JOIN norms nb ON nb.doc_id = id_b
    WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= 0.9
    ORDER BY id_a, id_b
    """,
)
def dedup_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by TF-IDF-weighted cosine over the token
    inverted index (Salton weighting; the Bayardo WWW'07 all-pairs
    form) — the weighted complement to set Jaccard: rare shared terms
    dominate, so length-skewed duplicates Jaccard dilutes still score
    high. Full oracle: DuckDB rebuilds tf, df, weights, norms, and the
    posting-list dot products independently and must emit the same
    rounded cosines. The operator (operators/dedup.tfidf_cosine_pairs)
    has no posting-list cap, so the oracle covers the exact semantics
    end-to-end; its tiny-vocabulary regime switches to the dense
    tiled-GEMM all-pairs form with identical results."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        tfidf_cosine_pairs,
    )

    docs = load(spark, sf_dir, "documents", fanout=True)
    return tfidf_cosine_pairs(docs, "text", "doc_id", threshold=0.9)


# Mega-clique guard for triangle enumeration: a d-clique holds
# d(d-1)(d-2)/6 triangles, and the sf0.1 synthetic corpus contains a
# ~2,700-doc mutual-near-dup cluster — uncapped wedge generation there
# is ~10^10 rows for an answer that only says "this is a clique". The
# cap is part of the oracled CONTRACT: DuckDB recomputes the degree
# filter too, so the differential gates the capped semantics exactly
# (it binds mildly even at sf0.01 — 311 vs 335 uncapped nodes); hubs
# get the cluster-label treatment instead
# (operators/graph.triangle_counts docstring).
_TRI_MAX_DEGREE = 64


@query(
    "dedup_triangle_counts",
    oracle=f"""
    WITH RECURSIVE {DUCK_JACCARD_CC_CTES},
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT id_a AS node FROM near UNION ALL SELECT id_b FROM near
      ) GROUP BY node
    ),
    e AS (
      SELECT n.id_a, n.id_b FROM near n
      JOIN deg du ON du.node = n.id_a
      WHERE du.d <= {_TRI_MAX_DEGREE}
    ),
    tri AS (
      SELECT e1.id_a AS u, e1.id_b AS v, e2.id_b AS w
      FROM e e1
      JOIN e e2 ON e1.id_a = e2.id_a AND e1.id_b < e2.id_b
      JOIN e e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b
    ),
    pn AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest([u, v, w]) AS node FROM tri) GROUP BY node
    ),
    nodes AS (
      SELECT DISTINCT x AS node FROM (
        SELECT id_a AS x FROM e UNION ALL SELECT id_b FROM e)
    )
    SELECT node, COALESCE(pn.n, 0) AS n_triangles
    FROM nodes LEFT JOIN pn USING (node)
    ORDER BY node
    """,
)
def dedup_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the shared exact-Jaccard near-dup
    graph — the clustering-coefficient numerator separating tight
    template cliques from loose near-dup chains. Spark enumerates
    ordered wedges (two equi-joins on the canonical u<v edge list,
    operators/graph.triangle_counts) under the degree cap; DuckDB
    recomputes the degree filter and closes wedges with its own
    three-way self-join. Rides the checkpointed shared pair set, so
    its marginal cost is the wedge joins only."""
    from hummingbirddatapipeline_spark.operators.graph import triangle_counts

    pairs = shared_jaccard_pairs(spark, sf_dir)
    return triangle_counts(pairs, max_degree=_TRI_MAX_DEGREE)


@bench_query("bench_dedup_cc_minhash")
def bench_dedup_cc_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH-ONLY: the 100 TB dedup-clustering composition — MinHash-LSH
    candidate pairs (banded, bucket-capped) fed straight into
    pointer-jumping connected components. The ORACLED CC query closes
    the exact-Jaccard graph because DuckDB must recompute the pair set
    independently; production never runs that quadratic pair-gen — it
    runs THIS: approximate pair generation + closure. This entry exists
    so BENCH_r{N}.json tracks the number that matters at scale.
    Correctness of each half is separately driver-gated
    (dedup_minhash_near_dups recall contract; dedup_connected_components
    exact closure)."""
    docs = load(spark, sf_dir, "documents")
    cand = near_dup_pairs_minhash(
        docs, "text", "doc_id", threshold=0.85, num_hashes=32, bands=8,
        shingle_size=1,
    ).select("id_a", "id_b")
    cc = connected_components(cand)
    return cc.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )


@query(
    "dedup_incremental_batch",
    oracle=f"""
    WITH tok AS (
      -- contract-corpus cap (see row docstring; same rule as the
      -- streaming twin): no-op at sf0.001/0.01/0.1
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS w
      FROM documents WHERE doc_id < 5000
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT b.doc_id AS doc_id, s.doc_id AS store_id, COUNT(*) AS inter
      FROM tok b JOIN tok s ON b.w = s.w
      WHERE b.doc_id % 2 = 1 AND s.doc_id % 2 = 0
      GROUP BY 1, 2
    ),
    hits AS (
      SELECT p.doc_id, p.store_id,
             ROUND(inter / (sb.n + ss.n - inter), 6) AS j
      FROM pairs p
      JOIN sizes sb ON sb.doc_id = p.doc_id
      JOIN sizes ss ON ss.doc_id = p.store_id
      WHERE inter / (sb.n + ss.n - inter) >= 0.85
    ),
    best AS (
      SELECT doc_id, MIN(store_id) AS match_store_id FROM hits GROUP BY doc_id
    )
    SELECT d.doc_id,
           b.match_store_id IS NULL AS accepted,
           b.match_store_id,
           h.j AS match_jaccard
    FROM documents d
    LEFT JOIN best b ON b.doc_id = d.doc_id
    LEFT JOIN hits h ON h.doc_id = d.doc_id
                    AND h.store_id = b.match_store_id
    WHERE d.doc_id % 2 = 1 AND d.doc_id < 5000
    ORDER BY d.doc_id
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the production shape at 100 TB:
    "dedup today's batch against the existing corpus INDEX without
    rescanning the corpus". Even doc_ids play the accepted corpus
    (persisted shingle store, operators/dedup.build_jaccard_store);
    odd doc_ids are the arriving batch; each batch doc probes the
    store's posting lists with only its PREFIX tokens under the
    store's rarest-first token order (asymmetric AllPairs filter —
    exact, not approximate) and is annotated accepted / matched
    (min-id store match + its exact Jaccard). DuckDB recomputes every
    batch-vs-store decision from the raw union, so the driver hashes
    the full accept/reject roster. Replay idempotence (re-running a
    committed batch accepts nothing) is pinned in
    tests/test_dedup_similarity.py.

    CONTRACT-ROW FIXTURE CAP (r14 full-catalog sf1 sweep; same rule
    as the streaming twin stream_dedup_incremental): on the
    tiny-vocab contract corpus every batch doc has Theta(n) TRUE
    near-dup candidates in the store, so the exact probe is
    Theta(n^2) by construction (measured 78.0 s at sf1 pre-cap).
    The batch-vs-index property is corpus-size-independent; the
    fixture pins doc_id < 5000 (a no-op at sf0.001/0.01/0.1) and the
    oracle applies the same cap. The production probe for the shape
    is the banded MinHash index (bench_dedup_incremental_minhash,
    measured 1.6x at 5x data)."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        build_jaccard_store,
        incremental_jaccard_dedup,
    )

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 5000  # contract-corpus cap, see docstring
    )
    # materialize the store once: in production this frame IS the
    # persisted index read back from storage; deriving it inline made
    # every downstream reference (df stats, dense-regime probe,
    # verify) re-scan the corpus text (4 scans, tools/scan_audit.py)
    store = build_jaccard_store(
        docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id",
        shingle_size=1,
    ).localCheckpoint(eager=False)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_jaccard_dedup(
        batch, store, "text", "doc_id", threshold=0.85, shingle_size=1
    )


@bench_query("bench_dedup_incremental_minhash")
def bench_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH form of incremental dedup: the batch probes the persisted
    MinHash band index (equi-join on (band, bucket)) instead of
    posting lists — the cheaper approximate-candidate path whose
    accept/reject decisions still verify by exact Jaccard. Measured so
    BENCH_r{N}.json tracks the probe cost production would pay;
    correctness of the decision roster is gated by the exact
    dedup_incremental_batch above (same output shape, LSH recall
    contract applies)."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        build_jaccard_store,
        incremental_minhash_dedup,
        minhash_band_index,
    )

    # fanout (r15): the store/batch shingle+signature pipelines are the
    # measured hot stages (two single-task ~4.5 s CPU stages at sf0.1,
    # tools/profile_query.py) — same gate as the batch MinHash rows
    docs = load(spark, sf_dir, "documents", fanout=True)
    store_docs = docs.filter(F.col("doc_id") % 2 == 0)
    # materialize the store once and derive the band index FROM its
    # shingle arrays (r15): in production both frames are the persisted
    # index at rest; inline, the shared checkpoint means the store text
    # is tokenized once, not once per artifact (guide §1.2)
    store = build_jaccard_store(
        store_docs, "text", "doc_id", shingle_size=1
    ).localCheckpoint(eager=False)
    # The band index is ALSO at-rest state (the row docstring's whole
    # premise: the batch "probes the persisted MinHash band index") —
    # without its own checkpoint every warm pass re-derives the store
    # signatures (explode + 32 xxhash per shingle), and the operator's
    # bucket-size guard references the index twice, so the derivation
    # ran TWICE per pass (r15 profiler: two ~10 s/32-task stages).
    # Probe cost production pays = batch signatures + equi-join +
    # verify; index build is write-time work, paid once here (cold).
    index = minhash_band_index(
        store, "text", "store_id", num_hashes=32, bands=8, shingle_size=1,
        shingle_col="store_sh",
    ).localCheckpoint(eager=False)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_minhash_dedup(
        batch, index, store, "text", "doc_id", threshold=0.85,
        num_hashes=32, bands=8, shingle_size=1,
    )


@query(
    "dedup_representatives_by_score",
    oracle=f"""
    WITH RECURSIVE {DUCK_JACCARD_CC_CTES},
    scored AS (
      SELECT c.node, c.cluster_id, d.n_chars
      FROM cc c JOIN documents d ON d.doc_id = c.node
    ),
    keepers AS (
      SELECT cluster_id, node AS keep FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                   ORDER BY n_chars DESC, node) AS rk
        FROM scored) WHERE rk = 1
    ),
    losers AS (
      SELECT s.node FROM scored s JOIN keepers k USING (cluster_id)
      WHERE s.node <> k.keep
    )
    SELECT d.doc_id, d.n_chars FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM losers)
    ORDER BY d.doc_id
    """,
)
def dedup_representatives_by_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-aware dedup representatives: each exact-Jaccard near-dup
    cluster keeps its LONGEST member (n_chars as the quality score,
    ties -> lowest doc_id) instead of the minimum id — the FineWeb-
    style curation policy that keeps the best copy of a duplicated
    document (operators/graph.dedup_representatives_by_score).
    Singletons pass through. Rides the checkpointed shared pair set;
    DuckDB recomputes the closure recursively and applies the same
    keep rule, so the driver hashes the kept set itself."""
    from hummingbirddatapipeline_spark.operators.graph import (
        dedup_representatives_by_score as reps_by_score,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = shared_jaccard_pairs(spark, sf_dir)
    return reps_by_score(docs, pairs, "doc_id", "n_chars")


_PAGERANK_ITERS = 10
_PAGERANK_DP = 12


def _pagerank_unrolled_sql(n_iter: int, dp: int, exact: bool = False) -> str:
    """Chained-CTE unroll of the fixed-iteration PageRank recurrence
    (standard SQL forbids aggregation inside a recursive term, so the
    oracle unrolls): same symmetrized edge set, same per-term and
    per-iteration rounding as operators/graph.pagerank. With
    ``exact``, the per-node sum runs over SCALED LONGS exactly as
    ``pagerank(exact_longs=True)`` does — associative, so bit-equal
    under any partitioning. The registered dedup_pagerank row runs
    exact=True since round 10 (closing the FP tie-window accepted in
    r8); exact=False remains for the double-regime comparison test."""
    scale = f"1e{dp + 3}"
    steps = []
    for k in range(1, n_iter + 1):
        if exact:
            inc = (
                f"SUM(CAST(ROUND(ROUND(p.score / d.d, {dp + 3}) * {scale})"
                f" AS BIGINT)) / {scale}"
            )
        else:
            inc = f"SUM(ROUND(p.score / d.d, {dp + 3}))"
        steps.append(f"""
    pr{k} AS (
      SELECT n.node,
             ROUND((1.0 - 0.85) / nn.c
                   + 0.85 * COALESCE(s.inc, 0.0), {dp}) AS score
      FROM nodes n CROSS JOIN nn LEFT JOIN (
        SELECT e.v AS node, {inc} AS inc
        FROM pr{k - 1} p
        JOIN edges2 e ON e.u = p.node
        JOIN deg2 d ON d.u = e.u
        GROUP BY e.v
      ) s ON s.node = n.node
    )""")
    return f"""
    WITH RECURSIVE {DUCK_JACCARD_CC_CTES},
    edges2 AS (
      SELECT id_a AS u, id_b AS v FROM near
      UNION SELECT id_b, id_a FROM near
    ),
    nodes AS (
      SELECT DISTINCT x AS node FROM (
        SELECT id_a AS x FROM near UNION ALL SELECT id_b FROM near)
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nodes),
    deg2 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges2 GROUP BY u),
    pr0 AS (
      SELECT node, ROUND(1.0 / nn.c, {dp}) AS score
      FROM nodes CROSS JOIN nn
    ),{",".join(steps)}
    SELECT node, score AS pagerank FROM pr{n_iter}
    ORDER BY node
    """


@query(
    "dedup_pagerank",
    oracle=_pagerank_unrolled_sql(_PAGERANK_ITERS, _PAGERANK_DP, exact=True),
)
def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the shared exact-Jaccard near-dup
    graph (operators/graph.pagerank, 10 synchronous power iterations,
    damping 0.85) — hub-vs-periphery centrality inside near-dup
    neighborhoods, and the repo's second iterative-propagation shape
    alongside connected components. Per-iteration 12dp rounding (and
    15dp per-contribution rounding before the hash aggregate) makes
    the whole float trajectory engine-identical, so the oracle — the
    SAME recurrence unrolled as chained CTEs — must reproduce every
    score bit-for-bit. Per iteration: one edge-join shuffle + one hash
    aggregate over skinny (node, score) state, lineage cut with
    localCheckpoint.

    Since round 10 the per-node sum runs over SCALED LONGS
    (``exact_longs=True``, both engines): integer addition is
    associative, so the trajectory is bit-identical under ANY
    partitioning or accumulation order — closing the FP tie-window
    accepted in r8 (a partial double-sum landing within ULPs of a
    5e-13 rounding boundary could in principle round differently
    across engines; the double regime remains available as
    ``exact_longs=False`` and its invariance-vs-exactness trade is
    pinned in tests/test_r10_oracles.py)."""
    from hummingbirddatapipeline_spark.operators.graph import pagerank

    pairs = shared_jaccard_pairs(spark, sf_dir)
    return pagerank(
        pairs,
        n_iter=_PAGERANK_ITERS,
        round_dp=_PAGERANK_DP,
        exact_longs=True,
    )


@query(
    "dedup_incremental_cc",
    oracle=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS w FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    near AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) p
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      WHERE inter / (sa.n + sb.n - inter) >= 0.85
      UNION ALL
      SELECT doc_id, doc_id + 3 FROM documents WHERE doc_id % 97 = 0
      UNION ALL
      SELECT doc_id, doc_id + 90000000 FROM documents WHERE doc_id % 151 = 0
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM near
      UNION SELECT id_b, id_a FROM near
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges WHERE u <> v
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.u <> e.v
    )
    SELECT u AS node, LEAST(u, MIN(v)) AS cluster_id
    FROM reach GROUP BY u
    """,
)
def dedup_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected-components MAINTENANCE under the full
    oracle gate: the existing labeling over the shared exact-Jaccard
    graph is updated with a deterministic edge batch (cluster-joining
    edges at doc_id%97 -> +3, brand-new node ids at doc_id%151 ->
    +9e7) by re-closing ONLY the affected components — the star-edge
    subgraph of touched labels — never the historical graph. DuckDB
    independently computes the recursive transitive closure over
    old+new edges, so the maintained labeling must equal the full
    re-closure bit-for-bit (also pinned Spark-vs-Spark in
    tests/test_r9_oracles.py).

    Scale shape: the marginal cost is proportional to the touched
    components (measured 0.08 s warm vs the 6.5 s full rebuild it
    replaces at sf0.1) — the label-maintenance story that lets a
    100 TB dedup graph absorb a day's new edges without re-closing
    history."""
    from hummingbirddatapipeline_spark.operators.graph import (
        incremental_connected_components,
    )

    labels = shared_jaccard_cc(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    new_edges = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 3).alias("id_b"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 151 == 0).select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 90_000_000).alias("id_b"),
        )
    )
    return incremental_connected_components(labels, new_edges)


def _label_prop_sql(
    threshold: float = 0.85,
    n_iter: int = 3,
    seed_hex: str = "1999",
) -> str:
    """Independent DuckDB formulation of semi-supervised label
    propagation over the exact-Jaccard near-dup graph
    (operators/graph.label_propagation): re-derives the >= threshold
    pair graph from raw text (the text_jaccard_near_dups arithmetic),
    the sparse md5-bucket seed set (quality >= 0.9 -> 'good', else
    'bad' — the 2dp score takes {0.6, 0.8, 1.0} on this corpus, so the
    cut yields genuinely competing labels), and unrolls every SYNCHRONOUS round as chained CTEs —
    integer vote counts, argmax ties to the lexically smallest label,
    seeds clamped."""
    from hummingbirddatapipeline_spark.catalog.curation_q import _QUALITY

    parts = [f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS w
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    jp AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2) p
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      WHERE inter / (sa.n + sb.n - inter) >= {threshold}
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM jp
      UNION SELECT id_b, id_a FROM jp
    ),
    seeds AS (
      SELECT doc_id AS node,
             CASE WHEN {_QUALITY} >= 0.9 THEN 'good' ELSE 'bad' END
               AS label
      FROM documents
      WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':lp0'), 1, 4)
            < '{seed_hex}'
    ),
    l0 AS (SELECT node, label FROM seeds)"""]
    for t in range(n_iter):
        parts.append(f""",
    v{t} AS (
      SELECT e.u AS node, l.label, COUNT(*) AS c
      FROM edges e JOIN l{t} l ON l.node = e.v
      GROUP BY e.u, l.label
    ),
    p{t} AS (
      SELECT node, label FROM (
        SELECT node, label, ROW_NUMBER() OVER (
          PARTITION BY node ORDER BY c DESC, label) AS rk
        FROM v{t}) WHERE rk = 1
    ),
    l{t + 1} AS (
      SELECT node, label FROM seeds
      UNION ALL
      SELECT node, label FROM p{t}
      WHERE node NOT IN (SELECT node FROM seeds)
    )""")
    parts.append(f"""
    SELECT l.node, l.label, s.node IS NOT NULL AS is_seed
    FROM l{n_iter} l LEFT JOIN seeds s ON s.node = l.node
    """)
    return "".join(parts)


@query("dedup_label_propagation", oracle=_label_prop_sql(0.85, 3, "1999"))
def dedup_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002,
    synchronous clamped-seed variant; operators/graph.
    label_propagation) over the exact near-dup graph under the full
    oracle gate: content-hash-selected seed docs carry 'good'/'bad'
    quality labels (2dp heuristic >= 0.9); 3 synchronous rounds of
    majority vote (ties to the lexically smaller label) spread them
    through the shared Jaccard >= 0.85 pair graph — the
    label-a-few-score-the-cluster curation move.

    Pair-source decision (recorded r11): the REGISTERED fixture builds
    edges via the shared exact jaccard_pairs_prefix pair set, so the
    DuckDB oracle re-derives the identical graph and the whole
    propagation is value-hashed; the 100 TB production feed is the
    banded-LSH capped path (max_bucket + boilerplate_clusters
    routing) — the rounds themselves are pair-source-agnostic.
    Radius and tie contracts pinned in tests/test_r16_oracles.py.

    Scale shape: per round ONE edge-join + ONE per-node vote
    aggregate (``mode``, ties to the smallest label; no window) over
    skinny state, lineage-cut per round — the connected-components
    budget with labels instead of min-ids."""
    from hummingbirddatapipeline_spark.functions.text import quality_score
    from hummingbirddatapipeline_spark.operators.graph import (
        label_propagation,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = shared_jaccard_pairs(spark, sf_dir)
    seeds = docs.filter(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":lp0"))),
            1,
            4,
        )
        < "1999"
    ).select(
        F.col("doc_id").alias("node"),
        F.when(F.round(quality_score(F.col("text")), 2) >= 0.9, "good")
        .otherwise("bad")
        .alias("label"),
    )
    return label_propagation(pairs, seeds, n_iter=3)


def _cluster_histogram_sql(threshold: float = 0.85) -> str:
    """Independent DuckDB formulation of the duplicate-cluster size
    histogram (operators/graph.cluster_size_histogram): re-derives the
    exact-Jaccard pair graph from raw text, closes it with the
    recursive min-label CTE, histograms component sizes, and accounts
    the untouched corpus as the size-1 row."""
    return f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS w
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    jp AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2) p
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      WHERE inter / (sa.n + sb.n - inter) >= {threshold}
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM jp
      UNION SELECT id_b, id_a FROM jp
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (
      SELECT u AS node, LEAST(u, MIN(v)) AS cluster_id
      FROM reach GROUP BY u
    ),
    csz AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM cc GROUP BY cluster_id
    ),
    hist AS (
      SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
      FROM csz GROUP BY cluster_size
      UNION ALL
      SELECT CAST(1 AS BIGINT),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
             - (SELECT CAST(COUNT(*) AS BIGINT) FROM cc)
      WHERE (SELECT COUNT(*) FROM documents)
            > (SELECT COUNT(*) FROM cc)
    )
    SELECT cluster_size, n_clusters,
           CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
    FROM hist
    """


@query("dedup_cluster_histogram", oracle=_cluster_histogram_sql(0.85))
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram (operators/graph.
    cluster_size_histogram) under the full oracle gate — the corpus
    owner's first dedup-observability view: close the shared Jaccard
    >= 0.85 pair graph, count clusters per size with every pairless
    doc accounted as a singleton — the (size, n_clusters, n_docs)
    distribution that says whether dedup is removing a boilerplate
    head or a long tail. Exact-once accounting (sum of n_docs == the
    corpus) is pinned in tests/test_r20_oracles.py.

    Pair-source decision (recorded r11): exact shared pair set under
    the oracle (DuckDB closes the identical graph recursively); the
    100 TB feed is the banded-LSH capped path — the histogram itself
    is pair-source-agnostic.

    Scale shape: pointer-jumping CC (O(log n) rounds of skinny state)
    + one anti-join for singletons + two tiny aggregates."""
    from hummingbirddatapipeline_spark.operators.graph import (
        cluster_size_histogram,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = shared_jaccard_pairs(spark, sf_dir)
    return cluster_size_histogram(
        pairs, universe=docs, labels=shared_jaccard_cc(spark, sf_dir)
    )


# --- r21-banked oracle builder (NOT yet registered; registration
# target: the r20 window alongside the r20 tier — recipe in PLANS.md
# "r21 bank"). The differential test in tests/test_r21_oracles.py
# imports this, so the SQL has a single source of truth.

def _cross_source_sql(threshold: float = 0.85) -> str:
    """Independent DuckDB formulation of the cross-source duplication
    matrix (operators/dedup.cross_source_dup_matrix over the shared
    exact-Jaccard pair set): re-derives the pair graph from raw text,
    attributes each pair to its canonically-ordered (source, source)
    cell, and recounts pairs (count/2 over the doc explode — exact)
    and distinct docs per cell."""
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS w FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    prs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) p
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      WHERE inter / (sa.n + sb.n - inter) >= {threshold}
    ),
    src AS (SELECT doc_id, source FROM documents),
    cell AS (
      SELECT LEAST(a.source, b.source) AS source_a,
             GREATEST(a.source, b.source) AS source_b,
             p.id_a, p.id_b
      FROM prs p
      JOIN src a ON a.doc_id = p.id_a
      JOIN src b ON b.doc_id = p.id_b
    ),
    ex AS (
      SELECT source_a, source_b, unnest([id_a, id_b]) AS d FROM cell
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
    FROM ex GROUP BY 1, 2
    """


@query("dedup_cross_source_matrix", oracle=_cross_source_sql(0.85))
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K x K cross-source duplication matrix (operators/dedup.
    cross_source_dup_matrix) under the full oracle gate — dedup
    provenance: every shared-pair (Jaccard >= 0.85) attributed to its
    canonically-ordered (source, source) cell with exact pair and
    distinct-doc counts — 'vendor B is 40% re-crawls of vendor A' as
    one table. Attribution exactness (A-B/B-A collapse, once-per-cell
    doc counting) is pinned in tests/test_r21_oracles.py.

    Pair-source decision (r11 record): exact shared pairs under the
    oracle; capped banded-LSH in production — the matrix is
    pair-source-agnostic.

    Scale shape: two source-attach joins on the SKINNY pair list +
    ONE hash aggregate (pairs explode to their two doc rows so
    count/2 — exact — and COUNT(DISTINCT) share one exchange); no
    nested loops (contract-pinned)."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        cross_source_dup_matrix,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = shared_jaccard_pairs(spark, sf_dir)
    return cross_source_dup_matrix(pairs, docs.select("doc_id", "source"))


def _minhash_estimate_sql(
    num_hashes: int = 16,
    threshold: float = 0.3,
    max_id: int = 200,
    seed: str = "mh0",
) -> str:
    """Independent DuckDB formulation of the portable-MinHash Jaccard
    estimator (operators/dedup.minhash_estimate_pairs over the exact
    candidate pairs): re-derives the candidate pair set (exact J >=
    ``threshold`` on unigram shingles, docs below ``max_id``), every
    doc's K-component 52-bit-md5 signature, the matches/K estimate,
    the exact Jaccard, and the 6dp error arithmetic."""
    mins = ", ".join(
        f"list_min(list_transform(sh, w -> CAST('0x' || substr("
        f"md5(w || '#{seed}{k}'), 1, 13) AS BIGINT)))"
        for k in range(num_hashes)
    )
    return f"""
    WITH base AS (
      SELECT doc_id, list_distinct({_DUCK_TOKS}) AS sh
      FROM documents WHERE doc_id < {max_id}
    ),
    sigs AS (
      SELECT doc_id, sh, len(sh) AS n, [{mins}] AS sig FROM base
    ),
    tok AS (SELECT doc_id, unnest(sh) AS w FROM base),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
      WHERE c.inter / (sa.n + sb.n - c.inter) >= {threshold}
    )
    SELECT p.id_a, p.id_b,
           ROUND(len(list_filter(range(len(sa.sig)),
                     i -> sa.sig[i + 1] = sb.sig[i + 1]))
                 / CAST({num_hashes} AS DOUBLE), 6) AS est_jaccard,
           ROUND(len(list_intersect(sa.sh, sb.sh))
                 / CAST(sa.n + sb.n
                        - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE),
                 6) AS exact_jaccard,
           ROUND(ABS(
             ROUND(len(list_filter(range(len(sa.sig)),
                       i -> sa.sig[i + 1] = sb.sig[i + 1]))
                   / CAST({num_hashes} AS DOUBLE), 6)
             - ROUND(len(list_intersect(sa.sh, sb.sh))
                     / CAST(sa.n + sb.n
                            - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE),
                     6)), 6) AS abs_err
    FROM prs p
    JOIN sigs sa ON sa.doc_id = p.id_a
    JOIN sigs sb ON sb.doc_id = p.id_b
    """


@query("dedup_minhash_estimate", oracle=_minhash_estimate_sql(16, 0.3, 200, "mh0"))
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash ESTIMATOR itself value-oracled
    (operators/dedup.minhash_estimate_pairs): per candidate pair over
    the doc_id < 200 slice (the sf-bounded cap that keeps the exact
    pair build constant-cost at any SF), matches/K (K=16) next to the
    exact shingle Jaccard and the observed |error| — the fidelity
    report that prices K before the banding is trusted, using portable
    52-bit-md5 per-component hashes both engines replay exactly
    (production keeps xxhash64). The identical-docs-estimate-1.0 and
    Broder-envelope pins live in tests/test_r22_oracles.py.

    The pair list is localCheckpointed before the estimator (the
    banking-time scan-audit lesson: the lazy exact-pair lineage
    otherwise re-inlines into the estimator's two attach joins).

    Scale shape: at real scale this measurement row runs on a PAIR
    SAMPLE — estimator fidelity is a sampled audit, never a
    corpus-wide pass; the attach joins are bounded by the pair
    list."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        jaccard_pairs_all,
        minhash_estimate_pairs,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    pairs = (
        jaccard_pairs_all(docs, "text", "doc_id", threshold=0.3, shingle_size=1)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    return minhash_estimate_pairs(docs, pairs, num_hashes=16, seed="mh0")


def _lsh_recall_sql(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.3,
    max_id: int = 200,
    seed: str = "mh0",
) -> str:
    """Independent DuckDB formulation of the LSH banding recall report
    (operators/dedup.lsh_recall_report over docs below ``max_id``):
    re-derives the portable 52-bit-md5 signatures, bands each into its
    RAW component slice (stringified for the bucket equi-join —
    canonical list serialization, so equality matches list equality),
    generates within-bucket candidate pairs, rebuilds the exact pair
    set at ``threshold``, and aggregates catch counts per Jaccard
    decile with J = 1.0 folded into the 0.9 band."""
    r = num_hashes // bands
    mins = ", ".join(
        f"list_min(list_transform(sh, w -> CAST('0x' || substr("
        f"md5(w || '#{seed}{k}'), 1, 13) AS BIGINT)))"
        for k in range(num_hashes)
    )
    band_sel = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, "
        f"CAST(sig[{b * r + 1} : {b * r + r}] AS VARCHAR) AS bucket "
        f"FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH base AS (
      SELECT doc_id, list_distinct({_DUCK_TOKS}) AS sh
      FROM documents WHERE doc_id < {max_id}
    ),
    sigs AS (
      SELECT doc_id, sh, len(sh) AS n, [{mins}] AS sig
      FROM base WHERE len(sh) > 0
    ),
    banded AS (
      {band_sel}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                   AND a.doc_id < b.doc_id
    ),
    tok AS (SELECT doc_id, unnest(sh) AS w FROM base),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT c.id_a, c.id_b,
             ROUND(c.i / CAST(sa.n + sb.n - c.i AS DOUBLE), 6) AS j
      FROM inter c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
      WHERE c.i / CAST(sa.n + sb.n - c.i AS DOUBLE) >= {threshold}
    )
    SELECT LEAST(FLOOR(e.j * 10) / 10.0, 0.9) AS band_lo,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN cand.id_a IS NOT NULL
                                  THEN 1 END), 0) AS BIGINT) AS n_caught,
           ROUND(COALESCE(SUM(CASE WHEN cand.id_a IS NOT NULL
                                   THEN 1 END), 0)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS recall
    FROM exact e
    LEFT JOIN cand ON cand.id_a = e.id_a AND cand.id_b = e.id_b
    GROUP BY 1
    """


@query("dedup_lsh_recall", oracle=_lsh_recall_sql(16, 4, 0.3, 200, "mh0"))
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-Jaccard-decile recall of LSH banding vs the exact pair set
    (operators/dedup.lsh_recall_report; K=16, 4 bands, doc_id < 200 —
    the estimator row's sf-bounded cap family) under the full oracle
    gate — observes the 1-(1-J^r)^b S-curve on real data: the
    parameter-acceptance report for (num_hashes, bands), same
    observe-don't-trust philosophy as dedup_minhash_estimate. Bands
    use the portable md5 signature family with the band's RAW
    component slice as the bucket key (no bucket re-hash, so the
    DuckDB replay carries zero hash-collision caveat). Exact twins
    (J=1.0) ALWAYS caught — pinned in tests/test_r23_oracles.py.

    Uncapped BY DESIGN: a capped report measures the cap, not the
    banding; production keeps minhash_lsh_candidates + max_bucket +
    the dropped-buckets audit. The measurement cost is
    universe-bounded (doc_id < 200), not corpus-bounded."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        lsh_recall_report,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    return lsh_recall_report(
        docs, num_hashes=16, bands=4, threshold=0.3, seed="mh0"
    )


def _lsh_candidate_profile_sql(
    num_hashes: int = 16,
    bands: int = 4,
    max_id: int = 200,
    seed: str = "mh0",
) -> str:
    """Independent DuckDB formulation of the LSH candidate-load
    profile (operators/dedup.lsh_candidate_profile over docs below
    ``max_id``): replays portable signatures, raw-slice bucket
    banding, within-bucket candidate pairs, each candidate's exact
    Jaccard, and the decile histogram with window-total fractions."""
    r = num_hashes // bands
    mins = ", ".join(
        f"list_min(list_transform(sh, w -> CAST('0x' || substr("
        f"md5(w || '#{seed}{k}'), 1, 13) AS BIGINT)))"
        for k in range(num_hashes)
    )
    band_sel = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, "
        f"CAST(sig[{b * r + 1} : {b * r + r}] AS VARCHAR) AS bucket "
        f"FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH base AS (
      SELECT doc_id, list_distinct({_DUCK_TOKS}) AS sh
      FROM documents WHERE doc_id < {max_id}
    ),
    sigs AS (
      SELECT doc_id, sh, len(sh) AS n, [{mins}] AS sig
      FROM base WHERE len(sh) > 0
    ),
    banded AS (
      {band_sel}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                   AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT LEAST(FLOOR(ROUND(
               len(list_intersect(sa.sh, sb.sh))
               / CAST(sa.n + sb.n
                      - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE),
               6) * 10) / 10.0, 0.9) AS band_lo
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
    )
    SELECT band_lo,
           CAST(COUNT(*) AS BIGINT) AS n_cands,
           ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6)
             AS frac_cands
    FROM scored GROUP BY band_lo
    """


@query(
    "dedup_lsh_candidate_profile",
    oracle=_lsh_candidate_profile_sql(16, 4, 200, "mh0"),
)
def dedup_lsh_candidate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The precision-side LSH report (operators/dedup.
    lsh_candidate_profile; K=16, 4 bands, doc_id < 200 — the
    estimator/recall cap family) under the full oracle gate: the
    exact-Jaccard decile histogram of what banding EMITS — recall asks
    what banding catches; this prices what the verifier must reject.
    Same portable-signature machinery as dedup_lsh_recall; candidates
    attach shingle sets by equi-join (bounded by the candidate list);
    fractions against a window total over the <= 11-row aggregate.
    Cross-row pin (profile's 0.9-band candidates == recall's caught
    twins) lives in tests/test_r27_oracles.py.

    Scale shape: universe-bounded measurement, equi-joins only
    (contract-pinned: no nested loops)."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        lsh_candidate_profile,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    return lsh_candidate_profile(docs, num_hashes=16, bands=4, seed="mh0")


def _source_overlap_sql() -> str:
    """Independent DuckDB formulation of the K x K source vocabulary
    overlap (operators/dedup.source_overlap_matrix): distinct
    (source, word) table, word-keyed self-join into canonically
    ordered cells, exact type counts, one 6dp division."""
    return f"""
    WITH sw AS (
      SELECT DISTINCT source AS s, unnest({_DUCK_TOKS}) AS w
      FROM documents
    ),
    sizes AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_types
              FROM sw GROUP BY 1),
    inter AS (
      SELECT a.s AS source_a, b.s AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sw a JOIN sw b ON a.w = b.w AND a.s < b.s
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.n_shared,
           sa.n_types AS n_types_a, sb.n_types AS n_types_b,
           ROUND(i.n_shared
                 / CAST(sa.n_types + sb.n_types - i.n_shared AS DOUBLE),
                 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.s = i.source_a
    JOIN sizes sb ON sb.s = i.source_b
    """


@query("dedup_source_overlap", oracle=_source_overlap_sql())
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K x K source vocabulary-Jaccard matrix
    (operators/dedup.source_overlap_matrix) under the full oracle
    gate — the cheap first look before any pair engine runs: which
    source pairs share vocabulary at all (the vocabulary-level sibling
    of dedup_cross_source_matrix). Canonically-ordered cells, exact
    counts, one 6dp division; disjoint sources emit NO row. The
    1-shared-of-3 -> J=1/3 closed form is pinned in
    tests/test_r28_oracles.py.

    Scale shape: the word-keyed self-join fans each word to at most
    C(K,2) cells — catalog-bounded, never corpus-quadratic; everything
    downstream of the first aggregate is vocabulary-sized."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        source_overlap_matrix,
    )

    return source_overlap_matrix(load(spark, sf_dir, "documents"))


def _countmin_error_sql(
    depth: int = 4,
    width: int = 64,
    top: int = 20,
    seed: str = "cm0",
) -> str:
    """Independent DuckDB formulation of the count-min error report
    (operators/dedup.countmin_error_report): rebuilds word counts, the
    portable md5 row hashes, every (row, bucket) counter, the min-
    over-rows estimate for the top-N words, and the overestimate."""
    return f"""
    WITH counts AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT unnest({_DUCK_TOKS}) AS w FROM documents)
      GROUP BY w
    ),
    hashed AS (
      SELECT w, c, d,
             CAST(CAST('0x' || substr(md5(w || '#{seed}' ||
                  CAST(d AS VARCHAR)), 1, 13) AS BIGINT)
                  % {width} AS INT) AS b
      FROM counts, (SELECT unnest(range({depth})) AS d)
    ),
    sketch AS (
      SELECT d, b, CAST(SUM(c) AS BIGINT) AS counter
      FROM hashed GROUP BY d, b
    ),
    topw AS (
      SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rank
      FROM counts QUALIFY rank <= {top}
    )
    SELECT t.w AS word, t.c AS exact_count,
           CAST(MIN(s.counter) AS BIGINT) AS cm_estimate,
           CAST(MIN(s.counter) - t.c AS BIGINT) AS overestimate,
           CAST(t.rank AS INT) AS rank
    FROM topw t
    JOIN hashed h ON h.w = t.w
    JOIN sketch s ON s.d = h.d AND s.b = h.b
    GROUP BY t.w, t.c, t.rank
    """


@query("sketch_countmin_error", oracle=_countmin_error_sql(4, 64, 20, "cm0"))
def sketch_countmin_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable count-min sketch next to exact counts for the top-20
    words (operators/dedup.countmin_error_report, depth=4, width=64)
    under the full oracle gate — the frequency member of the
    observe-don't-trust sketch family: the report that picks
    depth x width before native approx functions are trusted. Portable
    md5 row hashes -> bit-identical counters on both engines. The CM
    THEOREM (never an underestimate) holds row-by-row on real data;
    the collision-free-width -> exact and width=1 -> total-count
    closed forms are pinned in tests/test_r29_oracles.py.

    Scale shape: one explode + one map-side-combined count aggregate;
    everything after the first aggregate is vocabulary-sized; the
    sketch itself is depth x width longs."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        countmin_error_report,
    )

    return countmin_error_report(
        load(spark, sf_dir, "documents"), depth=4, width=64, top=20
    )


def _cluster_cohesion_sql(threshold: float = 0.85) -> str:
    """Independent DuckDB formulation of the per-cluster cohesion
    report (operators/graph.cluster_cohesion over the shared exact
    pair set): recursive-CTE transitive closure (the
    dedup_connected_components pattern) with the pair Jaccards carried
    through, exact e6-long mean, and the density division."""
    return f"""
    WITH RECURSIVE tok AS (
      -- contract-corpus cap (see row docstring): no-op at
      -- sf0.001/0.01/0.1
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS w
      FROM documents WHERE doc_id < 5000
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    near AS (
      SELECT id_a, id_b,
             CAST(ROUND(1000000 * ROUND(
               inter / CAST(sa.n + sb.n - inter AS DOUBLE), 6))
               AS BIGINT) AS j_e6
      FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) p
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      WHERE inter / CAST(sa.n + sb.n - inter AS DOUBLE) >= {threshold}
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM near
      UNION SELECT id_b, id_a FROM near
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (
      SELECT u AS node, LEAST(u, MIN(v)) AS cluster_id
      FROM reach GROUP BY u
    ),
    members AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM cc GROUP BY 1
    ),
    per_cluster AS (
      SELECT c.cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(ROUND(CAST(SUM(n.j_e6) AS DOUBLE) / COUNT(*))
                  AS BIGINT) AS mean_jaccard_e6
      FROM near n JOIN cc c ON c.node = n.id_a
      GROUP BY 1
    )
    SELECT m.cluster_id, m.n_members, p.n_pairs, p.mean_jaccard_e6,
           ROUND(p.n_pairs / (m.n_members
                 * CAST(m.n_members - 1 AS DOUBLE) / 2.0), 6)
             AS density
    FROM members m JOIN per_cluster p USING (cluster_id)
    """


@query("dedup_cluster_cohesion", oracle=_cluster_cohesion_sql(0.85))
def dedup_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster density + exact e6-long mean Jaccard over the
    near-dup graph (operators/graph.cluster_cohesion) under the full
    oracle gate — the quality view the size histogram cannot see: a
    0.99-clique vs a sparse 0.85-chain of the same size (the chain is
    what transitive closure over-merges, and density is how an owner
    finds those before cutting clusters). The pair build keeps the
    jaccard column (the shared skinny pair cache drops it), and the
    operator cuts the pair lineage itself at entry (the banking-time
    scan-audit fix). The clique-vs-isolated-pair closed forms are
    pinned in tests/test_r30_oracles.py.

    Scale shape: pointer-jumping CC + one id_a equi-join attach + one
    cluster-keyed aggregate; mean is an exact e6 long sum —
    partitioning-invariant.

    CONTRACT-ROW FIXTURE CAP (r14 full-catalog sf1 sweep): the row
    builds the EXACT pair graph, whose edge count on the tiny-vocab
    contract corpus is a constant fraction of all doc pairs — the
    sweep found it stuck >40 min at sf1 (the faithful corpus's
    mega-cluster makes one cluster's pairwise stats a single
    quadratic task). The density/cohesion property is
    corpus-size-independent; fixture pinned at doc_id < 5000 (no-op
    at sf0.001/0.01/0.1), oracle capped identically."""
    from hummingbirddatapipeline_spark.operators.graph import (
        cluster_cohesion,
    )

    pairs = jaccard_pairs_prefix(
        load(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 5000  # contract-corpus cap, see docstring
        ),
        "text", "doc_id",
        threshold=0.85, shingle_size=1,
    )
    return cluster_cohesion(pairs)


def _hll_error_sql(b: int = 6, seed: str = "hl0") -> str:
    """Independent DuckDB formulation of the portable-HLL error report
    (operators/dedup.hll_error_report): same 52-bit md5 split, the
    same GENERATED rho CASE chain, bucket-ordered register fold, and
    the small-range correction branch."""
    m = 1 << b
    rbits = 52 - b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    rho_cases = " ".join(
        f"WHEN rest >= {1 << (rbits - 1 - i)} THEN {i + 1}"
        for i in range(rbits)
    )
    return f"""
    WITH words AS (
      SELECT DISTINCT unnest({_DUCK_TOKS}) AS w FROM documents
    ),
    hashed AS (
      SELECT CAST('0x' || substr(md5(w || '#{seed}'), 1, 13) AS BIGINT)
               AS h
      FROM words
    ),
    split AS (
      SELECT CAST(h % {m} AS INT) AS bucket, h // {m} AS rest
      FROM hashed
    ),
    rhos AS (
      SELECT bucket,
             CASE WHEN rest = 0 THEN {rbits + 1} {rho_cases} END AS rho
      FROM split
    ),
    regs AS (
      SELECT bucket, MAX(rho) AS M FROM rhos GROUP BY bucket
    ),
    folded AS (
      SELECT list_aggregate(
               list_transform(list(M ORDER BY bucket),
                              x -> power(2.0, -CAST(x AS DOUBLE))),
               'sum') AS denom,
             {m} - COUNT(*) AS zeros
      FROM regs
    ),
    est AS (
      -- every constant cast to DOUBLE: DuckDB parses bare float
      -- literals as DECIMAL and the alpha*m^2 product overflows
      SELECT CASE
        WHEN (CAST({alpha!r} AS DOUBLE) * CAST({float(m * m)!r} AS DOUBLE)
              / (denom + CAST(zeros AS DOUBLE)))
             <= CAST({2.5 * m!r} AS DOUBLE) AND zeros > 0
        THEN CAST({float(m)!r} AS DOUBLE)
             * ln(CAST({float(m)!r} AS DOUBLE) / CAST(zeros AS DOUBLE))
        ELSE CAST({alpha!r} AS DOUBLE) * CAST({float(m * m)!r} AS DOUBLE)
             / (denom + CAST(zeros AS DOUBLE))
      END AS e
      FROM folded
    )
    SELECT CAST({m} AS INT) AS m,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM words) AS n_exact,
           CAST(ROUND(e) AS BIGINT) AS hll_estimate,
           CASE WHEN (SELECT COUNT(*) FROM words) > 0
                THEN ROUND(abs(ROUND(e)
                       - CAST((SELECT COUNT(*) FROM words) AS DOUBLE))
                     / CAST((SELECT COUNT(*) FROM words) AS DOUBLE), 6)
                ELSE 0.0 END AS rel_err
    FROM est
    """


@query("sketch_hll_error", oracle=_hll_error_sql(6, "hl0"))
def sketch_hll_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog vs the exact vocabulary count
    (operators/dedup.hll_error_report, b=6 -> m=64 registers) under
    the full oracle gate — the cardinality member of the
    observe-don't-trust sketch family: rho via a GENERATED integer
    CASE chain (no libm log2), registers fold in bucket order
    (fixed-order IEEE sum of exact powers of two), small-range
    linear-counting branch included. The observed rel_err sits within
    4x the 1.04/sqrt(m) stderr; the 3-word corpus lands exactly on
    the linear-counting closed form (tests/test_r30_oracles.py).

    Scale shape: one explode + one m-row register aggregate — the
    sketch is m longs; the exact side is the one vocabulary count the
    report exists to eventually replace."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        hll_error_report,
    )

    return hll_error_report(load(spark, sf_dir, "documents"), b=6)


def _best_match_sql(
    threshold: float = 0.3, max_id: int = 200
) -> str:
    """Independent DuckDB formulation of the cross-source reciprocal
    best match (operators/dedup.cross_source_best_match over docs
    below ``max_id``): exact pair set, source attach, symmetrized
    (jaccard desc, partner) rank, mutual-rank-1 join."""
    return f"""
    WITH base AS (
      SELECT doc_id, source, list_distinct({_DUCK_TOKS}) AS sh
      FROM documents WHERE doc_id < {max_id}
    ),
    tok AS (SELECT doc_id, unnest(sh) AS w FROM base),
    pairs AS (
      SELECT p.id_a, p.id_b,
             ROUND(p.inter / CAST(sa.n + sb.n - p.inter AS DOUBLE), 6)
               AS jaccard
      FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) p
      JOIN (SELECT doc_id, len(sh) AS n FROM base) sa
        ON sa.doc_id = p.id_a
      JOIN (SELECT doc_id, len(sh) AS n FROM base) sb
        ON sb.doc_id = p.id_b
      WHERE p.inter / CAST(sa.n + sb.n - p.inter AS DOUBLE)
            >= {threshold}
    ),
    attached AS (
      SELECT p.*, da.source AS source_a, db.source AS source_b
      FROM pairs p
      JOIN base da ON da.doc_id = p.id_a
      JOIN base db ON db.doc_id = p.id_b
      WHERE da.source <> db.source
    ),
    sym AS (
      SELECT id_a AS me, id_b AS partner, jaccard FROM attached
      UNION ALL
      SELECT id_b, id_a, jaccard FROM attached
    ),
    best AS (
      SELECT me, partner, jaccard FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY me ORDER BY jaccard DESC, partner) AS rk
        FROM sym
      ) WHERE rk = 1
    ),
    recip AS (
      SELECT f.me AS id_a, f.partner AS id_b, f.jaccard
      FROM best f
      JOIN best r ON r.me = f.partner AND r.partner = f.me
      WHERE f.me < f.partner
    )
    SELECT rc.id_a, rc.id_b, da.source AS source_a,
           db.source AS source_b, rc.jaccard
    FROM recip rc
    JOIN base da ON da.doc_id = rc.id_a
    JOIN base db ON db.doc_id = rc.id_b
    """


@query("dedup_cross_source_best_match", oracle=_best_match_sql(0.3, 200))
def dedup_cross_source_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best matches across sources
    (operators/dedup.cross_source_best_match, threshold 0.3, doc_id <
    200 — the estimator/recall cap family) under the full oracle
    gate — the reciprocal-best-hit rule: the actionable pair list
    behind dedup_cross_source_matrix's rates, MUTUAL-best so
    boilerplate hubs don't flood the output (each doc appears in at
    most one pair; hub suppression pinned in
    tests/test_r30_oracles.py).

    Scale shape: the skinny attached-pairs frame is checkpointed
    before the four consumers (union branches + fwd/rev rank-1 sides)
    — the 16x-rescans banking-time catch; after that, equi-joins and
    rank windows only."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        cross_source_best_match,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return cross_source_best_match(docs, threshold=0.3)
