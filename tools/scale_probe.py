"""Scale-headroom probe: synthesize a 10x replica of sf0.1 (FK-offset
copies, perturbed doc text so replicas are near- not exact-dups) under
/tmp and run a representative catalog subset ONE timed pass each —
the first empirical test of the documented shuffle budgets beyond
600k lineitem rows. /root/testdata is read-only and sf1 never
materialized, so the probe derives its own volume; correctness is NOT
asserted here (the DuckDB gate owns that at sf0.01) — this measures
how the PLANS.md cost models extrapolate.

Usage:
    python tools/scale_probe.py [--copies 10] [--dir /tmp/sfprobe1]

Prints one JSON line per query (name, seconds, rows) then a summary
with the ratio vs the recorded sf0.1 cold numbers (BENCH_LOCAL_r09).
Linear-plan families should land near the data ratio; anything far
above it is a scaling bug to chase.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"

# (table, {column: per-copy offset}) — offsets keep every FK consistent
# within a copy while keeping copies disjoint. Dims (region, nation)
# are shared across copies, exactly like a real scale-up.
KEYED = {
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 1_000_000,
    },
    "events": {"event_id": 100_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}
SHARED_DIMS = ["region", "nation"]

# One representative per family whose plan is linear-or-bucketed by
# design. Deliberately excluded: the exact-Jaccard all-pairs family
# (shared_jaccard_pairs is quadratic in near-dup clique size, and the
# probe's replicas make every doc a 10-clique — that stress belongs to
# a dedicated skew study, not a linear-scaling check).
PROBE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "window_yoy_nation_revenue_growth",
    "pivot_nation_revenue_by_year",
    "grouping_sets_counters",
    "events_hourly_tumbling",
    "events_sessionization",
    "events_rolling_window_feats",
    "events_touch_attribution",
    "events_hypertable_rollup",
    "text_lang_id",
    "text_token_stats",
    "text_c4_filters",
    "text_unigram_logprob",
    "sample_hash_fraction",
    "sample_dsir_select",
    "text_pack_best_fit",
    "web_host_gate",
    "similarity_cosine_topk",
    "similarity_ivf_incremental_add",
    "similarity_semantic_dedup",
    "dedup_minhash_pairs",
    # round-10 registrations
    "text_winnow_fingerprints",
    "similarity_kmeans_refine",
    "similarity_pca_top1",
    "curation_decontaminate_clusters",
    "layout_shard_manifest",
    # round-11 registrations (r11 + r12 tiers). NOTE: the containment
    # row's 70k twin offset stays collision-free on probe replicas
    # because per-copy doc offsets are 1M (70_019 < 1_000_000).
    "text_winnow_containment",
    "sample_doremi_reweight",
    "curation_score_distill",
    "text_cdc_chunks",
    "sample_unimax_budget",
    "similarity_hamming_topk",
    "similarity_pq_topk",
]


def build(spark, out_dir: str, copies: int, doc_mode: str = "neardup") -> None:
    from pyspark.sql import functions as F

    from hummingbirddatapipeline_spark.tables import load

    os.makedirs(out_dir, exist_ok=True)
    for t in SHARED_DIMS:
        load(spark, SRC, t).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
    for t, offsets in KEYED.items():
        base = load(spark, SRC, t)
        parts = []
        for k in range(copies):
            df = base
            for col, off in offsets.items():
                df = df.withColumn(col, F.col(col) + F.lit(k * off))
            if t == "documents":
                if doc_mode == "neardup":
                    # perturb text so replicas are near- not byte-dups:
                    # ADVERSARIAL for dup-sensitive families (every doc
                    # becomes a `copies`-clique — the boilerplate skew
                    # regime, pairs grow quadratically in `copies`)
                    df = df.withColumn(
                        "text",
                        F.concat(F.col("text"), F.lit(f" probedup{k}")),
                    )
                elif doc_mode == "distinct" and k > 0:
                    # rewrite every token so copies share NO shingles:
                    # 10x corpus growth at CONSTANT near-dup density —
                    # the fair linear-scaling model for dedup /
                    # decontamination / similarity families
                    df = df.withColumn(
                        "text",
                        F.array_join(
                            F.transform(
                                F.split(F.trim("text"), r"\s+"),
                                lambda tok: F.concat(F.lit(f"c{k}"), tok),
                            ),
                            " ",
                        ),
                    )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--dir", default="/tmp/sfprobe1")
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument(
        "--doc-mode",
        choices=["neardup", "distinct"],
        default="neardup",
        help="replica text: near-dup cliques (adversarial skew regime) "
        "or token-rewritten distinct copies (constant dup density — "
        "the fair scaling model for dedup/decontamination families); "
        "use a separate --dir per mode",
    )
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of PROBE to run (default: all)",
    )
    args = ap.parse_args()
    probe = args.queries.split(",") if args.queries else PROBE

    from hummingbirddatapipeline_spark.catalog import BENCH_ONLY, QUERIES
    from hummingbirddatapipeline_spark.session import get_spark, tune_for_sf

    spark = get_spark("hummingbird-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    marker = os.path.join(args.dir, f".built_{args.copies}x_{args.doc_mode}")
    if args.doc_mode == "neardup" and os.path.exists(
        os.path.join(args.dir, f".built_{args.copies}x")  # pre-mode marker
    ):
        open(marker, "w").write("ok\n")
    if args.rebuild or not os.path.exists(marker):
        t0 = time.perf_counter()
        build(spark, args.dir, args.copies, args.doc_mode)
        open(marker, "w").write("ok\n")
        print(
            json.dumps(
                {"build_s": round(time.perf_counter() - t0, 1), "dir": args.dir}
            )
        )
    tune_for_sf(spark, args.dir)

    runnable = {**QUERIES, **BENCH_ONLY}
    baseline = {}
    try:
        with open(
            os.path.join(os.path.dirname(os.path.dirname(__file__)) or ".",
                         "BENCH_LOCAL_r10.json")
        ) as f:
            baseline = json.load(f).get("queries_cold", {})
    except OSError:
        pass

    results = {}
    for name in probe:
        if name not in runnable:
            continue
        t0 = time.perf_counter()
        df = runnable[name](spark, args.dir)
        df.write.format("noop").mode("overwrite").save()
        dt = round(time.perf_counter() - t0, 3)
        results[name] = dt
        ratio = round(dt / baseline[name], 1) if baseline.get(name) else None
        print(json.dumps({"query": name, "sec": dt, "vs_sf01_cold": ratio}))

    print(
        json.dumps(
            {
                "metric": "scale_probe_total",
                "copies": args.copies,
                "value": round(sum(results.values()), 1),
                "n_queries": len(results),
            }
        )
    )


if __name__ == "__main__":
    main()
