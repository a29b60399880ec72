"""Property checks for IVF-PQ composed ANN (frozen-cell routing x PQ/ADC
ranking), stride-scheduled deterministic mixture ordering (closed-form
global position, no global sort), and per-dimension uint8
scalar-quantization fidelity. Each row's DuckDB differential runs in
tests/test_oracles.py (the IVF-PQ oracle re-derives cell assignment,
probe lists, and all m Lloyd trajectories as chained CTEs; the
interleave oracle counts predecessors pairwise against Spark's closed
form; the SQ8 oracle rebuilds the per-dim grid and the floor(x + 0.5)
codes from the raw embeddings)."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import SMOKE_SF_DIR as SF


def _emb(spark):
    from hummingbirddatapipeline_spark.tables import load

    return load(spark, SF, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )


def _queries(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def test_ivfpq_topk_matches_duckdb(catalog_rows):
    got = catalog_rows("similarity_ivfpq_topk")
    assert len(got) == 50  # 5 queries x k


def test_ivfpq_adc_consistent_with_pq(spark):
    """Composition contract: IVF-PQ is pq_topk restricted to probed
    cells — every (query, item) it returns must carry EXACTLY the
    adc_dist the full-scan pq_topk computes for that pair (same
    codebooks via the shared trainer), and its candidate set must be
    a subset of the probed cells' population."""
    from hummingbirddatapipeline_spark.artifacts import IVF_CENTROIDS_64D
    from hummingbirddatapipeline_spark.operators.similarity import (
        ivf_incremental_add,
        ivfpq_topk,
        pq_topk,
    )

    emb = _emb(spark)
    q = _queries(emb)
    ivfpq = ivfpq_topk(
        emb, q, dim=64, centroids=IVF_CENTROIDS_64D, n_probe=4, k=10
    )
    # pq_topk with k large enough to cover every probed candidate
    full = pq_topk(emb, q, dim=64, k=600).select(
        "query_id", "vec_id", F.col("adc_dist").alias("full_adc")
    )
    joined = ivfpq.join(full, ["query_id", "vec_id"], "left").collect()
    assert len(joined) == 50
    for r in joined:
        assert r["full_adc"] is not None
        assert r["adc_dist"] == r["full_adc"]
    cells = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_incremental_add(
            emb.select("vec_id", "embedding"), IVF_CENTROIDS_64D
        ).collect()
    }
    probed = {}
    for r in joined:
        probed.setdefault(r["query_id"], set()).add(cells[r["vec_id"]])
    for qid, used in probed.items():
        assert len(used) <= 4  # never touches more than n_probe cells


def test_interleave_order_matches_duckdb(catalog_rows):
    got = catalog_rows("sample_interleave_order")
    assert len(got) > 0
    # total order: global_seq is a permutation of 1..N
    seqs = sorted(r[3] for r in got)
    assert seqs == list(range(1, len(got) + 1))


def test_interleave_stride_pattern(spark):
    """Constructive stride contract: two sources at weights 2:1
    interleave as X X Y X X Y (ties at integer virtual times break to
    the lexically smaller source), and every prefix is
    weight-proportional to within one document."""
    from hummingbirddatapipeline_spark.operators.sampling import (
        interleave_order,
    )

    rows = [(i, "X") for i in range(4)] + [(100 + i, "Y") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sorted(
        interleave_order(df, {"X": 2, "Y": 1}).collect(),
        key=lambda r: r["global_seq"],
    )
    assert [r["source"] for r in out] == ["X", "X", "Y", "X", "X", "Y"]
    for n in range(1, 7):
        n_x = sum(1 for r in out[:n] if r["source"] == "X")
        assert abs(n_x - n * 2 / 3) <= 1


def test_sq8_fidelity_matches_duckdb(spark, catalog_rows):
    got = catalog_rows("similarity_sq8_fidelity")
    assert len(got) == _emb(spark).count()
    # 8-bit per-dim grids hold cosine fidelity extremely tight on
    # bounded data, and codes stay inside the 0..255*64 envelope
    fids = [r[2] for r in got]
    assert min(fids) > 0.99
    for _id, cs, _f, err in got:
        assert 0 <= cs <= 255 * 64
        assert err >= 0.0
