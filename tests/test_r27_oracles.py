"""Property checks for top-k PMI collocations, the LSH candidate-load
profile (the precision-side companion completing the MinHash
observability triptych), and the bracketed-predicate Q19 revenue
shape. Each row's DuckDB differential runs in tests/test_oracles.py."""

from __future__ import annotations

import math


from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import built_plan


def _load(spark, table):
    from hummingbirddatapipeline_spark.tables import load

    return load(spark, SF, table)


def test_pmi_collocations_matches_duckdb(catalog_rows):
    got = catalog_rows("text_pmi_collocations")
    assert len(got) > 0
    ranks = sorted(r[5] for r in got)
    assert ranks == list(range(1, len(got) + 1))
    for _bg, c_ab, c_a, c_b, _pmi, _rk in got:
        assert c_ab >= 5 and c_ab <= min(c_a, c_b)


def test_pmi_collocations_fixture(spark):
    """Engineered corpus: 'zz yy' always co-occur (PMI = ln(N_uni^2 /
    (N_big * c_zz * c_yy)) with c_ab = c_zz = c_yy); a frequent-but-
    independent pair ranks below it."""
    from hummingbirddatapipeline_spark.operators.retrieval import (
        pmi_collocations,
    )

    # 'of'/'the' each appear 5x but are adjacent only twice (loose
    # coupling); 'zz yy' is perfectly coupled at 6x
    tail = "of the of the of x1 the x2 of x3 the x4 of x5 the x6"
    doc = " ".join(["zz yy"] * 6) + " " + tail
    docs = spark.createDataFrame(
        [(1, doc)], "doc_id long, text string"
    )
    rows = {
        r["bigram"]: r
        for r in pmi_collocations(docs, min_count=2, k=10).collect()
    }
    assert "zz yy" in rows and "of the" in rows
    assert rows["zz yy"]["rank"] < rows["of the"]["rank"]
    n_uni = len(doc.split())
    n_big = n_uni - 1
    expected = round(
        math.log((6 / n_big) / ((6 / n_uni) * (6 / n_uni))), 6
    )
    assert rows["zz yy"]["pmi"] == expected
    assert rows["of the"]["c_ab"] == 2
    assert rows["of the"]["c_a"] == rows["of the"]["c_b"] == 5


def test_lsh_candidate_profile_matches_duckdb(catalog_rows):
    got = catalog_rows("dedup_lsh_candidate_profile")
    assert len(got) > 0
    total_frac = sum(r[2] for r in got)
    assert abs(total_frac - 1.0) < 1e-4
    for band_lo, n, frac in got:
        assert 0.0 <= band_lo <= 0.9 and n > 0


def test_lsh_profile_consistency_with_recall(spark):
    """Triptych consistency: candidates in the 0.9 band (counted by
    the profile) can never exceed what the recall report says exists
    there, and exact twins must appear in both."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        lsh_candidate_profile,
        lsh_recall_report,
    )

    rows = []
    for i in range(8):
        toks = [f"d{i}_{j}" for j in range(10)]
        rows.append((i, " ".join(toks)))
        rows.append((100 + i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    prof = {
        r["band_lo"]: r["n_cands"]
        for r in lsh_candidate_profile(docs, 16, 4).collect()
    }
    rec = {
        r["band_lo"]: r
        for r in lsh_recall_report(docs, 16, 4, 0.3).collect()
    }
    assert prof.get(0.9, 0) == rec[0.9]["n_caught"] == 8


def test_q19_bracket_matches_duckdb(catalog_rows):
    got = catalog_rows("q19_bracket_revenue")
    assert len(got) > 0
    for bracket, n, cents in got:
        assert bracket in ("Brand#11", "Brand#12", "Brand#13")
        assert n > 0 and cents > 0


def test_r27_plan_contracts(spark):
    """pmi: counts broadcast back, the rank window runs on the
    bounded collocation table; no cartesian beyond the 1-row scalar
    attaches. candidate profile: no nested loops. q19: part
    broadcasts, single fact pass."""
    from hummingbirddatapipeline_spark.catalog.relational import (
        q19_bracket_revenue,
    )
    from hummingbirddatapipeline_spark.operators.dedup import (
        lsh_candidate_profile,
    )
    from hummingbirddatapipeline_spark.operators.retrieval import (
        pmi_collocations,
    )

    docs = _load(spark, "documents")
    plan = built_plan(pmi_collocations(docs, 5, 20))
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the two 1-row scalar attaches
    assert plan.count("BroadcastNestedLoopJoin") <= 2

    plan = built_plan(lsh_candidate_profile(docs.select("doc_id", "text")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = built_plan(q19_bracket_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
