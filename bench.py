"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family; kept in sync with the catalog.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "window_yoy_nation_revenue_growth",
    "asof_latest_order_per_customer",
    "pivot_nation_revenue_by_year",
    "hhi_supplier_concentration",
    "band_join_balance_siblings",
    "scoring_customer_health",
    "events_hourly_tumbling",
    "events_sessionization",
    "similarity_cosine_topk",
    "text_exact_dedup",
    "dedup_minhash_pairs",
    "er_multipass_name_match",
    "er_fuzzy_join_levenshtein",
    "extract_best_candidate",
    "grouping_sets_counters",
    "events_sliding_3h1h",
    "multimodal_byte_features",
    "scoring_990_model",
    "asof_join_purchase_click",
    "range_join_clicks_before_purchase",
    "events_hypertable_rollup",
    # round-2 curation/training-data families (one representative each)
    "text_redact_pii",
    "text_contamination_check",
    "text_pack_chunks",
    "sample_stratified_by_lang",
    "sample_token_budget_mix",
    "layout_zorder_codes",
    "events_cohort_retention",
    "events_funnel_conversion",
    "events_incremental_rollup",
    "dq_orders_expectations",
    "similarity_lsh_topk",
    # round-5 curation operators (cost tracked from round 6 onward)
    "dedup_connected_components",
    "text_substring_dup",
    "text_repetition_stats",
    "sample_split_leakfree",
    "dedup_simhash_groups",
    "similarity_near_dup_clusters_banded",
    # round-6 retrieval/quality operators
    "text_bm25_topk",
    "text_unigram_logprob",
    "text_substring_dup_stride1",
    "search_hybrid_rrf",
    "sample_temperature_mix",
    "text_dedup_representatives",
    "curation_funnel_gated",
    "text_bigram_logprob",
    "dq_skew_report",
    "corpus_stats_report",
    "curation_source_gate",
    "sample_split_ngram_overlap",
    "scd2_user_event_history",
    "events_anomaly_zscore",
    "text_c4_filters",
    # round-7 operators
    "events_lttb_downsample",
    "events_markov_transitions",
    "sample_weighted_aes",
    "dedup_tfidf_cosine_pairs",
    "dedup_triangle_counts",
    "events_decayed_activity",
    "feature_winsorize_prices",
    "feature_psi_price_drift",
    "feature_impute_median_balance",
    "geo_radius_join_suppliers",
    "assoc_basket_cooccurrence",
    "dedup_incremental_batch",
    "multimodal_phash_groups",
    # round-8 operators
    "events_rolling_window_feats",
    "dedup_representatives_by_score",
    "dedup_pagerank",
    "merge_cdc_apply",
    "sample_contrastive_negatives",
    "feature_profile_drift",
    "feature_quantile_transform",
    "feature_target_encode",
    "events_touch_attribution",
    "similarity_ivf_incremental_add",
    "text_bpe_segment",
    "stream_dedup_incremental",
    # round-9 operators (former bench_* banked forms, now catalog rows)
    "similarity_semantic_dedup",
    "dedup_incremental_cc",
    "web_canonicalize_url",
    "web_host_gate",
    "text_pack_best_fit",
    "sample_dsir_select",
    # round-10 operators (former r10-banked forms, now catalog rows)
    "similarity_kmeans_refine",
    "similarity_pca_top1",
    "curation_decontaminate_clusters",
    "layout_shard_manifest",
    "text_winnow_fingerprints",
    # round-11 operators (r11 + r12 banked tiers, registered together)
    "text_winnow_containment",
    "sample_doremi_reweight",
    "curation_score_distill",
    "text_cdc_chunks",
    "sample_unimax_budget",
    "similarity_hamming_topk",
    "similarity_pq_topk",
    # ------------------------------------------------------------------
    # r13 tier
    "curation_bloom_screen",
    "text_chunk_boilerplate",
    "curation_logreg_train",
    # r14 tier
    "text_dup_spans",
    "text_perplexity_buckets",
    "similarity_matryoshka_recall",
    # r15 tier
    "similarity_ivfpq_topk",
    "sample_interleave_order",
    "similarity_sq8_fidelity",
    # r16 tier
    "text_cut_dup_spans",
    "dedup_label_propagation",
    "web_template_traps",
    # r17 tier
    "eval_auc_by_source",
    "eval_calibration_bins",
    "feature_hash_ngrams",
    # r18 tier
    "sample_epoch_plan",
    "merge_snapshot_delta",
    "similarity_cell_drift",
    # r19 tier
    "text_trigram_logprob_heldout",
    "layout_rendezvous_shards",
    "events_sequence_examples",
    # r20 tier
    "dedup_cluster_histogram",
    "text_boilerplate_leaderboard",
    "text_bpe_fertility",
    # r21 tier
    "dedup_cross_source_matrix",
    "text_tfidf_keywords",
    "similarity_pq_distortion",
    # r22 tier
    "text_vocab_coverage",
    "text_pack_length_groups",
    "dedup_minhash_estimate",
    # r23 tier
    "text_ngram_novelty",
    "curation_quality_borda",
    "dedup_lsh_recall",
    # r24 tier
    "text_pack_concat_manifest",
    "text_heaps_growth",
    "curation_gate_kappa",
    # r25 tier
    "events_gap_report",
    "multimodal_patch_plan",
    "q14_promo_effect",
    # r26 tier
    "dq_embedding_coverage",
    "similarity_source_profile",
    "text_char_entropy",
    # r27 tier
    "text_pmi_collocations",
    "dedup_lsh_candidate_profile",
    "q19_bracket_revenue",
    # r28 tier
    "text_source_kl",
    "dedup_source_overlap",
    "events_mad_anomaly",
    # r29 tier
    "sketch_countmin_error",
    "sample_priority_weighted",
    "text_signature_ngrams",
    # r30 tier
    "dedup_cluster_cohesion",
    "sketch_hll_error",
    "dedup_cross_source_best_match",
    # r31 tier
    "sketch_bloom_fpr",
    "similarity_centroid_drift",
    "text_length_profile",
    # r12 registrations (built + registered same round, no banking)
    "q6_forecast_revenue",
    "q18_large_volume_customers",
    "similarity_banded_widened_clusters",
    "q10_returned_items",
    # r13 registrations (built + registered same round, no banking)
    "similarity_hybrid_dense_clusters",
    "sketch_quantile_error",
    "join_salted_hot_keys",
    "er_fellegi_sunter_scores",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    from hummingbirddatapipeline_spark.catalog import BENCH_ONLY, QUERIES
    from hummingbirddatapipeline_spark.session import get_spark, tune_for_sf

    spark = get_spark("hummingbird-bench")
    spark.sparkContext.setLogLevel("ERROR")
    tune_for_sf(spark, sf_dir)

    # bench measures the full surface: driver-facing catalog queries
    # plus the bench-only operator forms (raw MinHash/SimHash pipelines
    # whose correctness is separately contract-oracled in the catalog).
    runnable = {**QUERIES, **BENCH_ONLY}
    names = [n for n in HEADLINE if n in runnable]
    # extend with any registered headline-worthy extensions
    for n in runnable:
        if n.startswith("bench_") and n not in names:
            names.append(n)

    # Warm the JVM/IO once (not counted): tiny action on the largest table.
    runnable[names[0]](spark, sf_dir).limit(1).collect()

    # Shared one-time setup, measured as its OWN row: the exact-Jaccard
    # near-dup pair set is checkpointed once per (session, sf_dir) and
    # reused by six catalog queries (CC clusters, representatives,
    # leak-free split, ngram-overlap audit, gated funnel, triangles).
    # Without this, its ~25-30 s build lands on whichever consumer runs
    # first and that query's number reads 5-10x its marginal cost.
    from hummingbirddatapipeline_spark.catalog.dedup_q import (
        shared_jaccard_cc,
        shared_jaccard_pairs,
    )

    t0 = time.perf_counter()
    shared_jaccard_pairs(spark, sf_dir).count()
    shared_setup = {
        "shared_jaccard_pairs": round(time.perf_counter() - t0, 3)
    }
    # r15: the min-id CC labeling of that graph is likewise shared by
    # seven catalog rows (clusters, representatives, incremental seed,
    # leak-free split + audit, cluster decontamination, size
    # histogram); measured as its own setup row for the same reason.
    t0 = time.perf_counter()
    shared_jaccard_cc(spark, sf_dir).count()
    shared_setup["shared_jaccard_cc"] = round(time.perf_counter() - t0, 3)

    def run(name: str) -> float:
        t0 = time.perf_counter()
        df = runnable[name](spark, sf_dir)
        # noop sink: fully computes every column without collect() overhead
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    # Machine calibration: two FIXED, repo-independent workloads whose
    # cost tracks only the VM (CPU speed + scheduler/shuffle overhead),
    # never the catalog code. Round-over-round, the ratio of these
    # numbers is the machine factor — the r10 close-out measured a
    # uniform ~1.55x VM drift on byte-identical code (PLANS.md), which
    # without this probe is indistinguishable from a broad regression.
    # tools/bench_compare.py divides it out when both artifacts have it.
    def _calibrate() -> dict[str, float]:
        cpu, shuf = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            # id bounded BEFORE the multiply: 1000003 * 2654435761
            # ~ 2.7e15 stays far under Long.MAX with ANSI overflow
            # checks on (an unbounded id * constant overflows at
            # id ~ 3.5e9 and ANSI mode makes that an ERROR).
            spark.range(0, 4_800_000_000, 1, 32).selectExpr(
                "sum((id % 1000003) * 2654435761 % 1000000007) AS s"
            ).collect()
            cpu.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            (
                spark.range(0, 16_000_000, 1, 32)
                .selectExpr("id % 65536 AS k", "id AS v")
                .groupBy("k")
                .sum("v")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            shuf.append(time.perf_counter() - t0)
        return {
            "calib_cpu_sec": round(min(cpu), 3),
            "calib_shuffle_sec": round(min(shuf), 3),
        }

    # Three passes per query: the first pays one-time expression codegen
    # (3-4 s on the big compiled scoring trees — a per-JVM constant,
    # irrelevant at cluster scale); the headline value is the per-query
    # MIN of the two warm passes (steady-state data cost, robust to
    # local-machine noise). Cold numbers ride along so codegen
    # regressions stay visible.
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in names:
        cold[name] = run(name)
    for name in names:
        warm[name] = run(name)
    for name in names:
        warm[name] = min(warm[name], run(name))

    # r16 (VERDICT r15 item 1): a fourth, REBUILT pass. The catalog's
    # prepared-plan cache means the three passes above reuse ONE
    # DataFrame per query, so every localCheckpoint in it materializes
    # during the cold pass and the warm passes read blocks — the warm
    # number is steady-state *with model state at rest*. The rebuilt
    # pass drops every cached plan and checkpoint (catalog.invalidate),
    # re-times the shared fixtures as their own setup rows, then builds
    # and runs each query FRESH — plan construction + checkpoint
    # materialization included. Report both: `value` keeps its exact
    # r9+ semantics for driver round-over-round comparability;
    # `value_warm_rebuilt` is the honest per-pass steady-state cost.
    from hummingbirddatapipeline_spark.catalog import invalidate

    invalidate(sf_dir)
    t0 = time.perf_counter()
    shared_jaccard_pairs(spark, sf_dir).count()
    shared_setup["shared_jaccard_pairs_rebuilt"] = round(
        time.perf_counter() - t0, 3
    )
    t0 = time.perf_counter()
    shared_jaccard_cc(spark, sf_dir).count()
    shared_setup["shared_jaccard_cc_rebuilt"] = round(
        time.perf_counter() - t0, 3
    )
    rebuilt: dict[str, float] = {}
    for name in names:
        rebuilt[name] = run(name)

    total_warm = round(sum(warm.values()), 3)
    total_cold = round(sum(cold.values()), 3)
    total_rebuilt = round(sum(rebuilt.values()), 3)
    payload = {
        "metric": "headline_query_suite_total_warm",
        "value": total_warm,
        "unit": "sec",
        "n_queries": len(names),  # suite widened r2: 24 -> 35
        "value_cold": total_cold,
        # one-time materializations shared across queries; per-
        # query numbers below are MARGINAL costs on top of these
        "shared_setup": shared_setup,
        "value_warm_rebuilt": total_rebuilt,
        "queries": warm,
        "queries_cold": cold,
        "queries_warm_rebuilt": rebuilt,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # keep calibration + tail_summary LAST: the driver's
        # BENCH_rN.json records only a 2000-char stdout tail (the END
        # of this line), so a trailing position survives truncation for
        # every suite size.
        "calibration": _calibrate(),
    }
    # r16 (VERDICT r15 item 2): a compact trailing copy of the totals
    # INSIDE the same single JSON line, so the driver's 2000-char tail
    # always captures a parseable summary (the r14 artifact lost the
    # head — value/value_cold — to that truncation and broke the
    # round-over-round comparison). Still ONE JSON object on ONE line;
    # no second line, no contract change.
    payload["tail_summary"] = {
        "value": total_warm,
        "value_cold": total_cold,
        "value_warm_rebuilt": total_rebuilt,
        "shared_setup_total": round(sum(shared_setup.values()), 3),
        "n_queries": len(names),
        "calibration": payload["calibration"],
    }
    print(json.dumps(payload))
    _write_local_artifact(payload)


def _write_local_artifact(payload: dict) -> None:
    """Durable full-suite record: the driver's BENCH_r{N}.json keeps
    only a 2000-char stdout tail, which silently drops the HEAD of the
    per-query map once the suite outgrows it (r8 lost ~17 early rows).
    Write the complete payload to BENCH_LOCAL_r{N}.json (N = current
    round, inferred as max driver round + 1) so round-over-round
    comparison never depends on the truncated tail.
    tools/bench_compare.py prefers these files when given a driver
    artifact. Set SPARK_GRAFT_BENCH_LOCAL to override the path, or to
    "0" to skip (e.g. throwaway A/B runs)."""
    import glob
    import re

    override = os.environ.get("SPARK_GRAFT_BENCH_LOCAL")
    if override == "0":
        return
    repo = os.path.dirname(os.path.abspath(__file__))
    if override:
        path = override
    else:
        rounds = [
            int(m.group(1))
            for p in glob.glob(os.path.join(repo, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        n = (max(rounds) if rounds else 0) + 1
        path = os.path.join(repo, f"BENCH_LOCAL_r{n:02d}.json")
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
