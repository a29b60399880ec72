"""Physical-plan contracts: the scale-critical queries must compile to
the plan SHAPE they claim (equi-join banding, no cartesian products,
broadcasted small sides). These pin the 100 TB design at test time —
a regression that silently degrades a banded pipeline into a cross
join fails here, not in a cluster bill."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
from profile_query import executed_plan, strip_ids  # noqa: E402
from conftest import built_plan, documents  # noqa: E402


def _final_physical(df) -> str:
    """AQE's final plan after one execution, ids stripped: the plan in
    which run-time coalescing and join choices show."""
    return executed_plan(df)


def test_strip_ids_drops_both_plan_id_forms():
    assert (
        strip_ids("Exchange hashpartitioning(ein#12L, 4), REPARTITION_BY_NUM, [plan_id=57]")
        == "Exchange hashpartitioning(ein, 4), REPARTITION_BY_NUM"
    )
    assert strip_ids("+- EmptyRelation [plan_id=301]") == "+- EmptyRelation"


def _n_exchanges(plan: str) -> int:
    """Count exchanges that move data BY KEY or to one partition —
    the shapes the contracts pin. The scan fan-out in ``tables.load``
    (r15 optimization) adds a size-gated ``Exchange
    RoundRobinPartitioning`` at bench scale only (the gate is never
    taken at production scale), so round-robin exchanges are excluded:
    they are never part of an operator's algorithmic shape."""
    import re

    return len(re.findall(r"Exchange (?!RoundRobinPartitioning)", plan))


def test_banded_near_dup_is_equi_join_not_cartesian(spark, sf_dir):
    """The LSH-banded near-dup path must be a (band, bucket) equi-join:
    no CartesianProduct and no corpus-sized BroadcastNestedLoopJoin."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from hummingbirddatapipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    plan = built_plan(
        embedding_near_dup_pairs(emb, threshold=0.9, expected_dup_sim=0.9999)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_brute_fallback_is_explicit_not_default(spark, sf_dir):
    """At dedup-regime thresholds the default path must stay banded;
    the brute escape hatch only engages when asked (or warned at
    permissive thresholds)."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from hummingbirddatapipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    banded = built_plan(embedding_near_dup_pairs(emb, threshold=0.95))
    assert "CartesianProduct" not in banded
    assert "BroadcastNestedLoopJoin" not in banded
    # the explicit brute path IS all-pairs (cartesian, or its
    # broadcast-nested-loop form when one side fits in memory)
    brute = built_plan(embedding_near_dup_pairs(emb, threshold=0.95, brute=True))
    assert "CartesianProduct" in brute or "BroadcastNestedLoopJoin" in brute


def test_lsh_topk_buckets_not_cartesian(spark, sf_dir):
    from hummingbirddatapipeline_spark.operators.similarity import lsh_topk
    from hummingbirddatapipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = built_plan(lsh_topk(emb, queries, k=5, n_planes=48, bands=24))
    assert "CartesianProduct" not in plan


def test_contamination_check_broadcasts_gram_side(spark, sf_dir):
    """Decontamination must broadcast the (small) eval-gram side and
    never shuffle the corpus into a cartesian."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["text_contamination_check"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_minhash_pipeline_no_cartesian(spark, sf_dir):
    from hummingbirddatapipeline_spark.operators.dedup import (
        near_dup_pairs_minhash,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    plan = built_plan(
        near_dup_pairs_minhash(
            docs, "text", "doc_id", threshold=0.85, num_hashes=32, bands=8,
            shingle_size=1,
        )
    )
    assert "CartesianProduct" not in plan


def test_scd2_single_exchange(spark, sf_dir):
    """The SCD2 build must reuse ONE hash exchange on the entity key
    for the change-flag window, the segment aggregate, and the
    interval chain — history depth must not multiply shuffles."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["scd2_user_event_history"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_skew_report_topk_not_global_sort(spark, sf_dir):
    """The hot-key cut must be TakeOrdered (per-partition partial
    top-k), never a single-reducer global sort of the key space."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["dq_skew_report"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bigram_logprob_single_bigram_explode(spark, sf_dir):
    """The bigram LM must explode the corpus into bigrams exactly once
    (dtf consumed via window sum, vocab table checkpointed) — the
    2x-corpus-explode shape is the regression this pins out."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["text_bigram_logprob"](spark, sf_dir))
    # one unigram-occurrence explode + one bigram explode, nothing more
    assert plan.count("Generate explode") <= 2
    assert "CartesianProduct" not in plan


def test_banded_clusters_query_builds_and_checkpoints(spark, sf_dir):
    """Regression: the quantized-twin fixture feeds an Arrow signature
    UDF; with projection collapse inlining the bound-lambda
    quantize/dequantize expression into the UDF argument, Spark 4
    fails PythonUDF extraction at the checkpoint boundary
    ([INTERNAL_ERROR] Cannot evaluate expression: PythonUDF). The
    catalog query materializes the fixture first; building the plan
    (which eagerly runs the checkpoints) must not raise. ``__wrapped__``
    builds a fresh plan without dropping the session's other cached
    plans."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    df = QUERIES["similarity_near_dup_clusters_banded"].__wrapped__(spark, sf_dir)
    assert df.columns == ["node", "cluster_id", "cluster_size"]


def test_percentile_features_broadcast_not_shuffle_fact(spark, sf_dir):
    """winsorize / impute_median: ONE exchange (the group percentile
    aggregate) and the tiny bounds/median frame broadcast back onto
    the fact scan — never a sort-merge join shuffling the fact side."""
    import re

    from hummingbirddatapipeline_spark.catalog import QUERIES

    for name in ("feature_winsorize_prices", "feature_impute_median_balance"):
        plan = built_plan(QUERIES[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        n_ex = len(re.findall(r"Exchange (hash|range)partitioning", plan))
        assert n_ex <= 1, (name, n_ex)


def test_incremental_dense_regime_broadcasts_store(spark, sf_dir):
    """The tiny-vocab bitmask regime: the store-mask side must ride a
    broadcast (skinny (id, mask) frames), and the probe must never be
    a CartesianProduct (BroadcastNestedLoopJoin over two bounded mask
    frames is the declared shape)."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["dedup_incremental_batch"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_rolling_window_single_exchange(spark, sf_dir):
    """rolling_window_stats: one hash exchange on the entity key; the
    RANGE frame must not introduce a join or a second shuffle."""
    import re

    from pyspark.sql import functions as F

    from hummingbirddatapipeline_spark.operators.windows import (
        rolling_window_stats,
    )
    from hummingbirddatapipeline_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(ts DIV 1000000 AS LONG)").alias("ts_ms"),
        "value",
    )
    plan = built_plan(rolling_window_stats(ev, "user_id", "ts_ms", 3_600_000, "value"))
    n_ex = len(re.findall(r"Exchange (hash|range)partitioning", plan))
    assert n_ex == 1, n_ex
    assert "Join" not in plan


def test_apply_cdc_single_exchange_no_sort(spark, sf_dir):
    """apply_cdc: one key exchange for the per-key argmax; no global
    sort, no window (max(struct) carries the winner)."""
    import re

    from pyspark.sql import functions as F

    from hummingbirddatapipeline_spark.operators.merge import apply_cdc
    from hummingbirddatapipeline_spark.tables import load

    ch = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("string").alias("ts"),
        F.col("o_orderkey").alias("tb"),
        F.when(F.col("o_orderkey") % 7 == 0, "D").otherwise("U").alias("op"),
        F.col("o_totalprice").cast("double").alias("amount"),
    )
    plan = built_plan(apply_cdc(ch, ["k"], "ts", "op", "tb"))
    n_ex = len(re.findall(r"Exchange (hash|range)partitioning", plan))
    assert n_ex == 1, n_ex
    assert "Window" not in plan


def test_ivf_incremental_add_is_map_side_only(spark, sf_dir):
    """Frozen-quantizer assignment must be ONE map-side pass: the
    centroids are plan literals, so the executed plan contains NO
    exchange, no join, no sort — the property that lets 100 TB ingest
    batches append to the partition-by-centroid layout without
    shuffling anything."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["similarity_ivf_incremental_add"](spark, sf_dir))
    assert _n_exchanges(plan) == 0
    assert "Join" not in plan


def test_rolling_window_feats_single_exchange(spark, sf_dir):
    """The trailing RANGE-frame features must ride ONE keyed exchange
    (the window partition) — no self-join, no explode-based rewrite."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["events_rolling_window_feats"](spark, sf_dir))
    assert _n_exchanges(plan) == 1
    assert "Join" not in plan


def test_cdc_apply_is_argmax_not_rownumber(spark, sf_dir):
    """CDC apply must be the per-key struct-argmax aggregate (ONE key
    exchange, map-side combined), never a window row_number over a
    per-key sort of the changelog."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["merge_cdc_apply"](spark, sf_dir))
    assert _n_exchanges(plan) == 1
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_touch_attribution_no_nested_loop(spark, sf_dir):
    """The attribution range join must stay bucketized hash joins —
    the inequality must never reach a join condition (which would plan
    BroadcastNestedLoopJoin and go quadratic at scale)."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["events_touch_attribution"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_target_encode_scalar_broadcast_only(spark, sf_dir):
    """The global prior may ride a single-row broadcast (the one
    sanctioned nested-loop shape); anything beyond that one scalar
    broadcast — or any cartesian — is a regression."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["feature_target_encode"](spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_semantic_dedup_tiles_are_cell_equi_join(spark, sf_dir):
    """With part_col set, the blocked-GEMM tile fan-out must be an
    equi-join on the cell key — cross-cell tiles must never form (the
    SemDeDup within-cell cost model)."""
    from hummingbirddatapipeline_spark.artifacts import IVF_CENTROIDS_64D
    from hummingbirddatapipeline_spark.operators.similarity import (
        semantic_dedup,
    )
    from hummingbirddatapipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    plan = built_plan(
        semantic_dedup(emb, IVF_CENTROIDS_64D, threshold=0.999)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_refine_assignment_is_map_side_only(spark, sf_dir):
    """Lloyd assignment must be ONE map-side pass per iteration: the
    current centroids ride the plan as literals (exactly like the
    frozen-quantizer add), so the assignment DataFrame contains NO
    exchange and NO join — the property that keeps each training
    round at one scan + one hash aggregate at any corpus size. The
    returned final-assignment plan is that same shape."""
    from pyspark.sql import functions as F

    from hummingbirddatapipeline_spark.artifacts import IVF_CENTROIDS_64D
    from hummingbirddatapipeline_spark.operators.similarity import (
        kmeans_refine,
    )
    from hummingbirddatapipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    assigned, _ = kmeans_refine(emb, IVF_CENTROIDS_64D, n_iter=1)
    plan = built_plan(assigned)
    assert _n_exchanges(plan) == 0
    assert "Join" not in plan


def test_bloom_screen_corpus_never_shuffles_gram_width(spark, sf_dir):
    """The Bloom screen's 100 TB claim: the filter rides the plan as
    ONE broadcast row (a single 1xN BroadcastNestedLoopJoin — the
    documented scalar-broadcast pattern), the corpus side never
    sort-merge-joins or goes cartesian, and no corpus-sized hash table
    is built."""
    from hummingbirddatapipeline_spark.operators.contamination import (
        bloom_gram_screen,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = built_plan(
        bloom_gram_screen(
            docs.filter(F.col("doc_id") >= 20),
            docs.filter(F.col("doc_id") < 20),
            n=5,
            n_words=256,
            n_hashes=3,
        )
    )
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_chunk_boilerplate_drop_marking_is_broadcast(spark, sf_dir):
    """Boilerplate-chunk removal must mark drops via a broadcast hash
    join of the (small-by-Zipf) repeated-hash set — never a
    sort-merge join at corpus chunk width, never a cartesian."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        strip_boilerplate_chunks,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = built_plan(strip_boilerplate_chunks(docs, max_docs=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_logreg_scoring_pass_is_map_side(spark, sf_dir):
    """After training, logreg's scoring output must be a pure
    projection over the localCheckpointed standardized frame — zero
    exchanges, zero joins (the weights are plan literals, the kmeans
    assignment contract)."""
    from hummingbirddatapipeline_spark.pipelines.curation import (
        logreg_quality_train,
    )
    from hummingbirddatapipeline_spark.functions.text import (
        mean_token_len,
        quality_score,
        ws_token_count,
    )
    from hummingbirddatapipeline_spark.tables import load
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    teach = F.round(quality_score(F.col("text")), 2)
    feats = docs.select(
        "doc_id",
        (
            F.percent_rank().over(
                Window.partitionBy().orderBy(teach, F.col("doc_id"))
            )
            >= F.lit(0.7)
        ).alias("teacher_label"),
        ws_token_count(F.col("text")).cast("double").alias("f_ntok"),
        F.coalesce(mean_token_len(F.col("text")), F.lit(0.0)).alias("f_mtl"),
        F.col("n_chars").cast("double").alias("f_chars"),
    )
    out = logreg_quality_train(
        feats, ["f_ntok", "f_mtl", "f_chars"], lr=1.0, n_iter=2
    )
    plan = built_plan(out)
    assert _n_exchanges(plan) == 0
    assert "Join" not in plan


def test_dup_span_extract_single_doc_exchange(spark, sf_dir):
    """Maximal duplicated-span extraction must share ONE doc-keyed
    exchange between the lag window and the span aggregate, aggregate
    occurrences over 8-byte window hashes in one exchange, and join
    the (small) duplicated-hash set without a cartesian — nothing
    shuffles at text width."""
    import re

    from hummingbirddatapipeline_spark.operators.dedup import (
        dup_span_extract,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = built_plan(dup_span_extract(docs, k=20))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 1
    # doc-key + window-hash aggregate: two exchanges total
    assert plan.count("Exchange hashpartitioning") == 2


def test_perplexity_buckets_one_lang_exchange_one_explode(spark, sf_dir):
    """CCNet bucketing must add exactly ONE language-keyed exchange
    (shared by the rank window and the non-null count window) on top
    of the bigram LM's single bigram explode. The regression this pins
    out: a has-NLL/none union that re-inlines the LM subtree under
    each arm (2 bigram explodes = 2x corpus work, the shape this
    operator had before the nulls-last single-window form)."""
    import re

    from hummingbirddatapipeline_spark.operators.retrieval import (
        perplexity_buckets,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    plan = built_plan(perplexity_buckets(docs))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(lang", plan)) == 1
    assert plan.count("Generate explode") == 1


def test_matryoshka_full_topk_not_recomputed_per_dim(spark, sf_dir):
    """Matryoshka recall must score the corpus once per truncated dim
    and ONCE at full width: the full-dim top-k (k rows per query) is
    localCheckpointed, so the returned plan holds exactly len(dims)
    broadcast-queries scoring passes with map-side k-cuts — without
    the checkpoint Catalyst re-inlines the full-width ranking under
    every union arm (len(dims)+1 extra full-width corpus scans)."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        matryoshka_recall,
    )
    from hummingbirddatapipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    plan = built_plan(matryoshka_recall(emb, queries, dims=(16, 64), k=10))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # len(dims)
    assert "WindowGroupLimit" in plan  # k-cut pushed map-side


def test_ivfpq_candidate_cut_is_centroid_equi_join(spark, sf_dir):
    """IVF-PQ's whole point vs pq_topk: the candidate cut must be an
    equi-join on centroid_id (ONE BroadcastHashJoin of the exploded
    probe tables), never pq_topk's full broadcast cross join — zero
    nested-loop joins, zero cartesians, and the only hash exchange is
    the per-query rank window."""
    from hummingbirddatapipeline_spark.artifacts import IVF_CENTROIDS_64D
    from hummingbirddatapipeline_spark.operators.similarity import ivfpq_topk
    from hummingbirddatapipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    plan = built_plan(
        ivfpq_topk(emb, queries, dim=64, centroids=IVF_CENTROIDS_64D)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("Exchange hashpartitioning") == 1  # rank window


def test_interleave_order_has_no_global_sort(spark, sf_dir):
    """The stride-schedule total order must be computed in closed form:
    ONE source-keyed exchange for the within-source row_number and
    NOTHING else — no range exchange (global sort), no join, no
    cartesian. This is the contract that makes a 100 TB training-order
    file writable map-side."""
    from hummingbirddatapipeline_spark.operators.sampling import (
        interleave_order,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    weights = {
        r["source"]: r["w"]
        for r in docs.groupBy("source")
        .agg(F.sum("n_chars").alias("w"))
        .collect()
    }
    plan = built_plan(interleave_order(docs, weights))
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_sq8_stats_broadcast_encode_map_side(spark, sf_dir):
    """SQ8 must aggregate the 2 x dim (min, max) statistic into ONE
    single-partition row broadcast to a map-side encode pass — zero
    hash exchanges, zero corpus-width shuffles (the hamming_topk
    shape)."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        sq8_fidelity,
    )
    from hummingbirddatapipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    plan = built_plan(sq8_fidelity(emb, dim=64))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the stats row


def test_cut_spans_single_doc_exchange(spark, sf_dir):
    """The substring-dedup CUT must keep the dup_span_extract plan
    budget: one 8-byte window-hash aggregate (serving both the dup
    filter and the canonical argmin), ONE doc-keyed exchange shared by
    the island window and the rollup, and broadcast joins for the
    skinny dup-hash set and the per-doc totals — nothing shuffles at
    text width."""
    import re

    from hummingbirddatapipeline_spark.operators.dedup import cut_dup_spans
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = built_plan(cut_dup_spans(docs, k=20))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("BroadcastHashJoin") == 2


def test_label_propagation_iterates_over_checkpoints(spark, sf_dir):
    """Label propagation must follow the pagerank iteration pattern:
    per-round state is localCheckpointed (the returned plan reads
    materialized RDD scans, not an n_iter-deep lineage) and no round
    introduces a cartesian. Guards the O(rounds) plan-depth contract
    that keeps 30-round graphs plannable."""
    from hummingbirddatapipeline_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(0, "good")], "node long, label string")
    plan = built_plan(label_propagation(edges, seeds, n_iter=3))
    assert "CartesianProduct" not in plan
    assert plan.count("Scan ExistingRDD") >= 2  # state + seed checkpoints
    # the seed-flag join broadcasts the (small by definition) trusted
    # label set — the final plan never shuffles the labeled state
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_url_traps_shuffles_skinny_keys_only(spark, sf_dir):
    """Trap detection must parse and template map-side and shuffle only
    skinny key tuples (host/template/canonical-url for the distinct
    count, host for the window) — never a cartesian, never more than
    the three key exchanges."""
    from hummingbirddatapipeline_spark.functions.web import (
        synth_dirty_urls,
        url_template_traps,
    )
    from hummingbirddatapipeline_spark.tables import load

    urls = synth_dirty_urls(load(spark, sf_dir, "documents"))
    plan = built_plan(url_template_traps(urls, max_per_template=10))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_auc_single_group_exchange(spark, sf_dir):
    """Exact AUC must compute both tie-aware rank windows AND the
    final aggregate on ONE group-keyed exchange (the descending rank
    re-sorts in place; aliasing the group column mid-plan would plan a
    second exchange — the regression this pins out). No joins, no
    cartesian, skinny (group, score, label) state."""
    from hummingbirddatapipeline_spark.functions.text import (
        quality_score,
        ws_token_count,
    )
    from hummingbirddatapipeline_spark.operators.evaluation import (
        auc_by_group,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    cnt = ws_token_count(F.col("text"))
    scored = docs.select(
        "source",
        F.round(
            F.col("n_chars") / F.when(cnt == 0, F.lit(None)).otherwise(cnt),
            6,
        ).alias("score"),
        (F.round(quality_score(F.col("text")), 2) >= 0.9).alias("y"),
    ).filter(F.col("score").isNotNull())
    plan = built_plan(auc_by_group(scored, "score", "y", "source"))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_hash_ngrams_one_aggregate(spark, sf_dir):
    """The hashing-trick featurizer must be explode -> map-side hash ->
    ONE (id, feature) aggregate: no join, no second exchange, and ONE
    tagged explode — unigrams and bigrams generate inside a single
    array expression so the corpus scans once (the scan_audit
    fix; the old union-of-two-explodes shape re-read the text per
    branch)."""
    from hummingbirddatapipeline_spark.operators.evaluation import (
        hash_ngram_features,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = built_plan(hash_ngram_features(docs, n_features=256))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Generate explode") == 1
    assert plan.count("Scan parquet") == 1


def test_epoch_plan_inherits_interleave_contract(spark, sf_dir):
    """The budget -> order composition must keep the no-global-sort
    guarantee: after UniMax's bounded model-state collect, the
    returned plan is interleave_order's — ONE language-keyed exchange,
    zero range exchanges, zero joins."""
    from hummingbirddatapipeline_spark.operators.sampling import epoch_plan
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    plan = built_plan(epoch_plan(docs, token_budget=100_000))
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_snapshot_delta_joins_fingerprints_not_text(spark, sf_dir):
    """The recrawl diff must reduce each side to (id, fingerprint) at
    the scan and full-outer-join the two skinny frames — exactly two
    id exchanges, no cartesian, and raw text absent from every
    exchange key."""
    from hummingbirddatapipeline_spark.operators.incremental import (
        snapshot_delta,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    new = docs.filter(d % 11 != 0)
    plan = built_plan(snapshot_delta(docs, new))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("SortMergeJoin") == 1


def test_cell_drift_one_rollup_no_assemble_joins(spark, sf_dir):
    """Drift monitoring must be: two map-side assignments, ONE id-keyed
    join, one contribution explode, ONE cell aggregate — the K-row
    assemble-join shape (4 extra joins) is the regression this pins
    out."""
    from hummingbirddatapipeline_spark.artifacts import IVF_CENTROIDS_64D
    from hummingbirddatapipeline_spark.operators.similarity import (
        ivf_cell_drift,
    )
    from hummingbirddatapipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    new = emb.filter(F.col("vec_id") % 17 != 0)
    plan = built_plan(ivf_cell_drift(emb, new, IVF_CENTROIDS_64D))
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 1
    assert plan.count("Generate explode") == 1
    assert plan.count("Exchange hashpartitioning") <= 3


def test_trigram_heldout_four_explodes(spark, sf_dir):
    """The held-out trigram LM must never go cartesian, and its FINAL
    plan must hold exactly the two probe-side explodes (the tri count
    build + the held-out scoring positions) — the unigram and bigram
    count tables sit behind their own localCheckpoint cuts (r15 second
    pass: the tokenized (id, tokens, held) stream is materialized once
    and the bigram table once, because Catalyst re-inlined the
    tokenizer four times and the bigram build twice per execution;
    isolated interleaved A/B wins all rounds). The r12-era decline of
    a TAGGED combined n-gram aggregate (one unioned uni+bi+tri table,
    A/B'd 2x slower cold) still stands — these are per-table cuts, not
    the union. The corpus total rides a single-row broadcast."""
    from hummingbirddatapipeline_spark.operators.retrieval import (
        trigram_logprob_heldout,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    plan = built_plan(trigram_logprob_heldout(docs))
    assert "CartesianProduct" not in plan
    assert plan.count("Generate explode") == 2
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the scalar total
    # the checkpoint cuts are visible as RDD scans feeding the joins
    assert plan.count("Scan ExistingRDD") >= 3  # toks, bi (x2 probes), uni


def test_rendezvous_is_pure_map_side(spark, sf_dir):
    """Rendezvous placement must be expressions only: ZERO exchanges of
    any kind, zero joins — the entire shard function rides in the
    hash, which is the operator's reason to exist."""
    from hummingbirddatapipeline_spark.operators.scale import (
        rendezvous_shards,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    plan = built_plan(rendezvous_shards(docs, "doc_id", 8, 9))
    assert _n_exchanges(plan) == 0
    assert "Join" not in plan


def test_event_sequences_single_user_exchange(spark, sf_dir):
    """Sequence-example emission must share ONE user-keyed exchange
    between the history frame, the full-history guard, and the
    example ordinal — event payloads never shuffle."""
    from hummingbirddatapipeline_spark.operators.temporal import (
        event_sequence_examples,
    )
    from hummingbirddatapipeline_spark.tables import load

    ev = load(spark, sf_dir, "events")
    plan = built_plan(event_sequence_examples(ev, history=4))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_leaderboard_top_cut_is_partial_topk(spark, sf_dir):
    """The boilerplate leaderboard's top cut must be
    TakeOrderedAndProject (per-partition partial top-k), never a
    range-exchange global sort; the rank window then runs over <= top
    rows. One window-hash aggregate, no cartesian."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        boilerplate_leaderboard,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = built_plan(boilerplate_leaderboard(docs, k=20, top=20))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_bpe_fertility_inherits_dictionary_replay(spark, sf_dir):
    """The fertility report must ride bpe_segment's dictionary-replay
    plan (merge chain once per unique word, broadcast back) plus ONE
    language aggregate — no cartesian, broadcast joins only for the
    vocab attach."""
    from hummingbirddatapipeline_spark.artifacts import BPE_MERGES
    from hummingbirddatapipeline_spark.operators.tokenization import (
        bpe_fertility_by_lang,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    plan = built_plan(bpe_fertility_by_lang(docs, BPE_MERGES))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 5


def test_decontaminate_scans_corpus_text_once(spark, sf_dir):
    """The cluster escalation must be a window over cluster_id, not a
    groupBy-and-join-back: the latter references the gram subtree
    twice and Catalyst INLINES repeated DataFrame references, so the
    corpus text gets scanned + exploded twice (this was the shape
    before the r10 rewrite — 4 text scans; now 2: one train gram
    explode + one benchmark gram build, each needed exactly once)."""
    import re

    from hummingbirddatapipeline_spark.operators.contamination import (
        decontaminate_clusters,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    pairs = docs.alias("a").join(
        docs.alias("b"), F.col("a.doc_id") + 1 == F.col("b.doc_id")
    ).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    ).limit(50)
    df = decontaminate_clusters(docs, bench, pairs, n=5)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    text_scans = re.findall(r"ReadSchema: [^\n]*text:string", plan)
    assert len(text_scans) == 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_hybrid_dense_switch_keeps_equi_join_plan(spark, sf_dir):
    """The dense-regime auto-switch must keep both engines on equi-join
    plans: the sparse bucket self-join stays a hash join on (band,
    bucket), the dense tiles are an equi-join on the cell key feeding
    the Arrow GEMM (MapInPandas) — no CartesianProduct, no
    corpus-sized BroadcastNestedLoopJoin anywhere in the two-engine
    union."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        embedding_near_dup_pairs_hybrid,
    )
    from hummingbirddatapipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    plan = built_plan(
        embedding_near_dup_pairs_hybrid(
            emb, threshold=0.9, expected_dup_sim=0.9999,
            n_items=1 << 20, dense_cutoff=64,
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # the dense GEMM engine is wired in


# Tables whose row count scales with the scale factor, identified in
# analyzed-plan Relation nodes by a column unique to their parquet
# schema (Relation prints the FULL schema regardless of projection).
_SCALING_TABLE_MARKERS = {
    "c_custkey#": "customer",
    "s_suppkey#": "supplier",
    "p_partkey#": "part",
    "o_orderkey#": "orders",
    "l_linenumber#": "lineitem",
    "doc_id#": "documents",
    "vec_id#": "embeddings",
    "event_id#": "events",
}
# A hint subtree containing any of these nodes is bounded by
# construction (K-row aggregates / limits / distinct model state) —
# its size does not scale with the base table, so a broadcast hint on
# it is the sanctioned skinny-frame pattern.
_BOUNDING_NODES = ("Aggregate", "GlobalLimit", "Deduplicate")
# (row, table) pairs where a hint on a scaling-table SCAN is by
# design: the ANN probe-side contract. The operators broadcast the
# QUERY frame, which is bounded by API contract (a handful of probe
# vectors); the catalog fixtures happen to carve it out of
# embeddings.parquet with a vec_id filter, so the relation under the
# hint is the embeddings scan even though the frame is K rows.
_HINT_WHITELIST = {
    ("similarity_cosine_topk", "embeddings"),
    ("similarity_pq_topk", "embeddings"),
    ("similarity_matryoshka_recall", "embeddings"),
    ("similarity_ivfpq_topk", "embeddings"),
    ("search_hybrid_rrf", "embeddings"),
    # same probe-side contract as the rows above; it was invisible to
    # this test until r15 because the broadcast-queries subtree also
    # carried the per-dim means Aggregate (a bounding marker) — the
    # means row is checkpointed bounded state since the r15
    # optimization pass, which removed the incidental marker, not the
    # (always-present, K-row-by-contract) probe-side hint
    ("similarity_hamming_topk", "embeddings"),
}


def test_no_static_broadcast_hint_on_scaling_tables(spark, sf_dir):
    """The r12 VERDICT defect class: a forced F.broadcast() on a table
    that grows with sf overrides AQE's size-gated dynamic broadcast
    (session.py) and THROWS at the 8 GB broadcast ceiling at target
    scale, where the unhinted plan would simply degrade to a shuffled
    join. Contract: across the ENTIRE catalog, no broadcast hint may
    wrap an sf-scaling table scan unless the hinted subtree is bounded
    by an aggregate/limit/distinct (skinny derived frames) or is the
    whitelisted ANN probe-side contract. nation/region (fixed 25/5
    rows) and literal model-state frames never match a marker."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    violations: dict[str, list[str]] = {}

    def hint_tables(node, out):
        cls = node.getClass().getSimpleName()
        if cls == "ResolvedHint" and "broadcast" in str(node.hints().toString()):
            sub = str(node.toString())
            if not any(b in sub for b in _BOUNDING_NODES):
                for line in sub.splitlines():
                    if "Relation" not in line:
                        continue
                    for marker, table in _SCALING_TABLE_MARKERS.items():
                        if marker in line:
                            out.append(table)
        for i in range(node.children().size()):
            hint_tables(node.children().apply(i), out)

    for name, fn in QUERIES.items():
        found: list[str] = []
        hint_tables(fn(spark, sf_dir)._jdf.queryExecution().analyzed(), found)
        bad = [t for t in found if (name, t) not in _HINT_WHITELIST]
        if bad:
            violations[name] = bad
    assert not violations, violations


def test_q6_predicates_reach_the_scan(spark, sf_dir):
    """TPC-H Q6's whole claim is filter pushdown: the ship-date range,
    discount band, and quantity cap must appear in the parquet scan's
    PushedFilters, and the plan must contain no join at all."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    blob = " ".join(pushed)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in blob, blob
    assert "Join" not in plan


def test_q10_q18_join_shapes(spark, sf_dir):
    """Q10: broadcast dims, no cartesian. Q18: the per-order aggregate
    runs BELOW the joins (tail-collapse before wide rows move), no
    cartesian."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    p10 = built_plan(QUERIES["q10_returned_items"](spark, sf_dir))
    assert "BroadcastHashJoin" in p10
    assert "CartesianProduct" not in p10

    p18 = built_plan(QUERIES["q18_large_volume_customers"](spark, sf_dir))
    assert "CartesianProduct" not in p18
    # the quantity aggregate + HAVING filter sit below the first join:
    # find the first Join operator line and require a HashAggregate
    # deeper in the tree (higher indentation can't be relied on in
    # toString, so check textual order: SortMergeJoin/BroadcastHashJoin
    # must appear before the LAST HashAggregate mention)
    lines = p18.splitlines()
    join_idx = min(
        i for i, ln in enumerate(lines)
        if "HashJoin" in ln or "SortMergeJoin" in ln
    )
    agg_idx = max(
        i for i, ln in enumerate(lines) if "HashAggregate" in ln
    )
    assert agg_idx > join_idx, p18


def test_salted_join_exchanges_on_salted_key(spark, sf_dir):
    """The salted hot-key join must never exchange the fact side on
    the bare hot key: the join's hash partitioning includes __salt,
    and no cartesian/nested-loop appears (the dim replication is an
    explode, not a join)."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    plan = built_plan(QUERIES["join_salted_hot_keys"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__salt" in plan


# --- tables.cpu_bound pins: one contract per call site. Each site's
# explicit-count exchange must sit in the built plan at width
# defaultParallelism, on its keys (round-robin when unkeyed); a pin
# that vanishes leaves the stage to AQE's byte-based coalescing.


def _pins(plan: str) -> list[str]:
    """The plan's explicit-count exchanges, expression ids stripped:
    ``hashpartitioning(band, bucket, 4)`` / ``RoundRobinPartitioning(4)``."""
    import re

    return re.findall(r"Exchange (.*?), REPARTITION_BY_NUM", strip_ids(plan))


def _pin_lsh_buckets(spark, sf_dir):
    from hummingbirddatapipeline_spark.operators.dedup import near_dup_pairs_minhash

    return near_dup_pairs_minhash(
        documents(spark, sf_dir), "text", "doc_id", threshold=0.85,
        num_hashes=32, bands=8, shingle_size=1,
    )


def _pin_minhash_verify(spark, sf_dir):
    from hummingbirddatapipeline_spark.operators.dedup import jaccard_verify

    docs = documents(spark, sf_dir)
    cands = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return jaccard_verify(docs, cands, "text", "doc_id", threshold=0.85)


def _pin_dense_mask(spark, sf_dir):
    # the operator, not shared_jaccard_pairs: the fixture checkpoints it
    from hummingbirddatapipeline_spark.operators.dedup import jaccard_pairs_prefix

    return jaccard_pairs_prefix(
        documents(spark, sf_dir), "text", "doc_id", threshold=0.85, shingle_size=1
    )


def _pin_incremental_verify(spark, sf_dir):
    from hummingbirddatapipeline_spark.operators.dedup import (
        build_jaccard_store,
        incremental_minhash_dedup,
        minhash_band_index,
    )

    docs = documents(spark, sf_dir)
    store_docs = docs.filter(F.col("doc_id") % 2 == 0)
    return incremental_minhash_dedup(
        docs.filter(F.col("doc_id") % 2 == 1),
        minhash_band_index(store_docs, "text", "doc_id", shingle_size=1),
        build_jaccard_store(store_docs, "text", "doc_id", shingle_size=1),
        "text", "doc_id", threshold=0.85, shingle_size=1,
    )


def _pin_blocked_tiles(spark, sf_dir):
    from hummingbirddatapipeline_spark.operators.similarity import cosine_pairs_blocked
    from hummingbirddatapipeline_spark.tables import load

    return cosine_pairs_blocked(load(spark, sf_dir, "embeddings"), 0.99, n_blocks=4)


def _pin_customer_health_window(spark, sf_dir):
    from hummingbirddatapipeline_spark.catalog import QUERIES

    # __wrapped__: a fresh plan; executing the session's cached one
    # would make its adaptive plan final under the other contracts
    return QUERIES["scoring_customer_health"].__wrapped__(spark, sf_dir)


def _pin_990_window(spark, sf_dir):
    from hummingbirddatapipeline_spark.catalog import QUERIES

    return QUERIES["scoring_990_model"](spark, sf_dir)


@pytest.mark.parametrize(
    "build, keys",
    [
        pytest.param(_pin_lsh_buckets, "band, bucket", id="lsh_buckets"),
        pytest.param(_pin_minhash_verify, None, id="minhash_verify"),
        pytest.param(_pin_dense_mask, None, id="dense_mask"),
        pytest.param(_pin_incremental_verify, None, id="incremental_verify"),
        pytest.param(_pin_blocked_tiles, None, id="blocked_tiles"),
        pytest.param(_pin_customer_health_window, "entity_id", id="customer_health_window"),
        pytest.param(_pin_990_window, "ein", id="990_window"),
    ],
)
def test_cpu_bound_pin(spark, sf_dir, build, keys):
    n = spark.sparkContext.defaultParallelism
    want = (
        f"hashpartitioning({keys}, {n})" if keys else f"RoundRobinPartitioning({n})"
    )
    assert want in _pins(built_plan(build(spark, sf_dir)))


def test_990_single_ein_exchange(spark, sf_dir):
    """The 990 source plan shuffles by ein exactly once: the cpu_bound
    pin on the window's INPUT is the window's exchange. With shuffle
    partitions off the core count, a pin on the window's output (where
    a SQL hint in the window's SELECT lands) would show as a second
    ``hashpartitioning(ein``."""
    from hummingbirddatapipeline_spark.catalog import scoring_q

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(3 * spark.sparkContext.defaultParallelism))
    try:
        # __wrapped__: a fresh plan, not the session's cached one
        plan = built_plan(scoring_q.scoring_990_model.__wrapped__(spark, sf_dir))
    finally:
        spark.conf.set(key, before)
    assert plan.count("Exchange hashpartitioning(ein") == 1, plan


def _assert_pin_uncoalesced(df, partitioning: str) -> None:
    """``df``'s final plan holds exactly one ``partitioning`` pin, and
    the operator reading its query stage is not an AQEShuffleRead: the
    stage above the pin kept its explicit width after AQE."""
    lines = _final_physical(df).splitlines()
    at = [
        i
        for i, line in enumerate(lines)
        if f"Exchange {partitioning}, REPARTITION_BY_NUM" in line
    ]
    assert len(at) == 1, lines
    # the exchange's query stage, then the operator that reads it
    stage, reader = lines[at[0] - 1], lines[at[0] - 2]
    assert "ShuffleQueryStage" in stage, lines
    assert "AQEShuffleRead" not in reader, lines


def test_990_window_keeps_core_width_after_aqe(spark, sf_dir):
    """The cpu_bound pin's effect at run time: AQE coalesces the 990
    aggregate's shuffle read by bytes, but the window stage reads the
    pinned ein exchange uncoalesced, so it runs defaultParallelism tasks.
    Only the final plan shows coalescing; the built plan cannot."""
    from hummingbirddatapipeline_spark.catalog import scoring_q

    n = spark.sparkContext.defaultParallelism
    # __wrapped__: executing the session's cached plan would make its
    # adaptive plan final under the other contracts
    df = scoring_q.scoring_990_model.__wrapped__(spark, sf_dir)
    _assert_pin_uncoalesced(df, f"hashpartitioning(ein, {n})")
    assert df._jdf.queryExecution().executedPlan().execute().getNumPartitions() == n


@pytest.mark.parametrize(
    "build, keys",
    [
        pytest.param(_pin_lsh_buckets, "band, bucket", id="lsh_buckets"),
        pytest.param(_pin_minhash_verify, None, id="minhash_verify"),
        pytest.param(_pin_dense_mask, None, id="dense_mask"),
        pytest.param(_pin_incremental_verify, None, id="incremental_verify"),
        pytest.param(_pin_blocked_tiles, None, id="blocked_tiles"),
        pytest.param(_pin_customer_health_window, "entity_id", id="customer_health_window"),
    ],
)
def test_cpu_bound_pin_keeps_core_width_after_aqe(spark, sf_dir, build, keys):
    """The cpu_bound pins at run time: the LSH bucket aggregate, the
    batch and incremental MinHash verifies, the dense-mask probe, the
    blocked-GEMM tiles and the customer-health window each read their
    pinned exchange uncoalesced in the final plan (the 990 window has
    its own contract above)."""
    n = spark.sparkContext.defaultParallelism
    _assert_pin_uncoalesced(
        build(spark, sf_dir),
        f"hashpartitioning({keys}, {n})" if keys else f"RoundRobinPartitioning({n})",
    )
