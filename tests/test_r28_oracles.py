"""Property checks for per-source unigram KL divergence (exact
scaled-long sums), the K x K source vocabulary-overlap matrix, and
MAD-based robust hourly anomaly detection. Each row's DuckDB
differential runs in tests/test_oracles.py."""

from __future__ import annotations

import math


from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import built_plan


def _load(spark, table):
    from hummingbirddatapipeline_spark.tables import load

    return load(spark, SF, table)


def test_source_kl_matches_duckdb(catalog_rows):
    got = catalog_rows("text_source_kl")
    assert len(got) > 0
    # KL is non-negative up to per-term e9 quantization (each term
    # rounds by at most 0.5e-9, so the exact-sum floor is -n_types/2e9
    # in e9 units = -n_types/2)
    for _src, n_tok, n_types, kl_e9 in got:
        assert kl_e9 >= -(n_types / 2 + 1)
        assert n_tok > 0 and n_types > 0


def test_source_kl_fixture(spark):
    """Closed form: source A = all 'x', source B = all 'y', equal
    sizes -> each source's p/q = 2 on its own word, so
    KL = ln 2 for both; a third source matching the mixture exactly
    contributes KL = 0."""
    from hummingbirddatapipeline_spark.operators.retrieval import (
        source_unigram_kl,
    )

    docs = spark.createDataFrame(
        [
            (1, "x x x x", "A"),
            (2, "y y y y", "B"),
            (3, "x x y y", "C"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        r["source"]: r for r in source_unigram_kl(docs).collect()
    }
    # corpus: x appears 6/12, y 6/12. A: p(x)=1, q(x)=0.5 -> KL = ln 2
    ln2_e9 = round(1e9 * 1.0 * math.log(1.0 / 0.5))
    assert rows["A"]["kl_e9"] == ln2_e9
    assert rows["B"]["kl_e9"] == ln2_e9
    # C: p(x)=p(y)=0.5=q -> both terms ln 1 = 0
    assert rows["C"]["kl_e9"] == 0


def test_source_overlap_matches_duckdb(catalog_rows, duck):
    got = catalog_rows("dedup_source_overlap")
    n_src = duck.sql("SELECT COUNT(DISTINCT source) FROM documents").fetchone()[0]
    assert len(got) > 0
    # every unordered pair present at most once, canonically ordered
    assert len(got) <= n_src * (n_src - 1) // 2
    seen = set()
    for sa, sb, shared, na, nb, j in got:
        assert sa < sb and (sa, sb) not in seen
        seen.add((sa, sb))
        assert 0 < shared <= min(na, nb)
        assert j == round(shared / (na + nb - shared), 6)


def test_source_overlap_fixture(spark):
    """Exact cells: A/B share one of three total types (J = 1/3);
    A/C disjoint -> NO row (inner join emits only overlapping pairs)."""
    from hummingbirddatapipeline_spark.operators.dedup import (
        source_overlap_matrix,
    )

    docs = spark.createDataFrame(
        [
            (1, "aa bb", "A"),
            (2, "bb cc", "B"),
            (3, "dd ee", "C"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in source_overlap_matrix(docs).collect()
    }
    assert set(rows) == {("A", "B")}
    r = rows[("A", "B")]
    assert r["n_shared"] == 1
    assert r["jaccard"] == round(1 / 3, 6)


def test_mad_anomaly_matches_duckdb(catalog_rows):
    got = catalog_rows("events_mad_anomaly")
    # sf0.001's per-type stream is calm enough that both sides may be
    # empty (matching-empty is still a valid differential); sf0.01
    # yields ~89 rows
    for _u, _h, n, med, mad, dev in got:
        assert mad > 0
        assert dev == abs(n - med) > 3.0 * mad


def test_mad_anomaly_fixture(spark):
    """Engineered stream: user 1 has 9 quiet hours (1 event each) and
    one 50-event spike -> median 1, MAD 0... so plant variation: hours
    of 1/1/2/2/3 + spike 50: med 2, MAD 1, spike deviation 48 > 3."""
    from hummingbirddatapipeline_spark.operators.windows import (
        mad_anomaly_hours,
    )

    rows = []
    counts = [1, 1, 2, 2, 3, 50]
    for h, c in enumerate(counts):
        for i in range(c):
            rows.append((1, h * 3_600_000 + i))
    ev = spark.createDataFrame(rows, "user_id long, ts_ms long")
    got = mad_anomaly_hours(ev, k=3.0).collect()
    assert len(got) == 1
    r = got[0]
    assert r["hour_ms"] == 5 * 3_600_000 and r["n_events"] == 50
    assert r["med"] == 2.0 and r["mad"] == 1.0
    assert r["deviation"] == 48.0


def test_r28_plan_contracts(spark):
    """KL: one corpus explode, all later tables vocab-sized, the only
    BNLJ is the 1-row N attach. Overlap: word-keyed equi self-join,
    no nested loops. MAD: key-partitioned aggregates and joins only."""
    from hummingbirddatapipeline_spark.catalog.events_q import _with_ts_ms
    from hummingbirddatapipeline_spark.operators.dedup import (
        source_overlap_matrix,
    )
    from hummingbirddatapipeline_spark.operators.retrieval import (
        source_unigram_kl,
    )
    from hummingbirddatapipeline_spark.operators.windows import (
        mad_anomaly_hours,
    )

    docs = _load(spark, "documents")
    plan = built_plan(source_unigram_kl(docs))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1

    plan = built_plan(source_overlap_matrix(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = built_plan(mad_anomaly_hours(_with_ts_ms(_load(spark, "events"))))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
