"""Property checks for the concat-and-chunk packing manifest (the GPT
pretraining layout's deterministic core), the Heaps-law vocabulary
growth curve, and Cohen's kappa between two quality gates. Each row's
DuckDB differential runs in tests/test_oracles.py (the manifest oracle
replays the md5 shard route, stream order, and running-sum offsets;
the growth oracle rebuilds word first-occurrences and every prefix
conditional sum; the kappa oracle re-derives both gates, the 2x2
contingency, and the po/pe/kappa chain)."""

from __future__ import annotations

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import built_plan, documents

_FRACS = (0.25, 0.5, 0.75, 1.0)


def test_concat_manifest_matches_duckdb(catalog_rows):
    got = catalog_rows("text_pack_concat_manifest")
    assert len(got) > 0


def test_concat_manifest_stream_contiguity(spark):
    """Within every shard stream: offsets are the exact prefix sums
    (sorted by offset, each doc starts where the previous ended), the
    boundary arithmetic is consistent, and no token is lost: total
    stream length = sum of doc token counts."""
    from hummingbirddatapipeline_spark.operators.tokenization import (
        pack_concat_manifest,
    )

    rows = pack_concat_manifest(documents(spark), 128, 8).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
        assert r["start_seq"] == r["offset"] // 128
        assert r["start_pos"] == r["offset"] % 128
        assert r["end_seq"] == (r["offset"] + r["n_tokens"] - 1) // 128
        assert r["n_seqs"] == r["end_seq"] - r["start_seq"] + 1
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r["offset"])
        pos = 0
        for r in docs:
            assert r["offset"] == pos
            pos += r["n_tokens"]


def test_concat_manifest_repartition_stable(spark):
    from hummingbirddatapipeline_spark.operators.tokenization import (
        pack_concat_manifest,
    )

    docs = documents(spark)
    base = sorted(tuple(r) for r in pack_concat_manifest(docs).collect())
    rep = sorted(
        tuple(r) for r in pack_concat_manifest(docs.repartition(7)).collect()
    )
    assert base == rep


def test_heaps_growth_matches_duckdb(spark, catalog_rows):
    got = catalog_rows("text_heaps_growth")
    assert len(got) == len(_FRACS)

    # growth curve sanity: docs/tokens/types all monotone in frac;
    # the full-corpus point covers every doc; Heaps sub-linearity
    # (type/token ratio non-increasing as the corpus grows)
    rows = sorted(got)
    for a, b in zip(rows, rows[1:]):
        assert a[2] <= b[2] and a[3] <= b[3] and a[4] <= b[4]
        assert a[5] >= b[5]
    n_docs = documents(spark).count()
    assert rows[-1][2] == n_docs


def test_heaps_growth_fixture(spark):
    """Engineered corpus: doc 1 brings 2 types / 3 tokens, doc 10
    brings 1 new type, so the 0.1 cut (id 1) and full cut are exact."""
    from hummingbirddatapipeline_spark.operators.tokenization import (
        heaps_vocab_growth,
    )

    docs = spark.createDataFrame(
        [(1, "a b a"), (10, "a c")], "doc_id long, text string"
    )
    rows = {
        r["frac"]: r
        for r in heaps_vocab_growth(docs, (0.1, 1.0)).collect()
    }
    assert rows[0.1]["cut_id"] == 1
    assert rows[0.1]["n_docs"] == 1
    assert rows[0.1]["n_tokens"] == 3
    assert rows[0.1]["n_types"] == 2
    assert rows[1.0]["n_types"] == 3 and rows[1.0]["n_tokens"] == 5


def test_gate_kappa_matches_duckdb(catalog_rows):
    got = catalog_rows("curation_gate_kappa")
    assert len(got) > 0
    for _src, n, n11, n10, n01, n00, po, pe, kappa in got:
        assert n == n11 + n10 + n01 + n00
        assert po == round((n11 + n00) / n, 6)
        assert -1.0 <= kappa <= 1.0


def test_gate_kappa_constructive(spark):
    """Perfect agreement -> kappa 1.0 (pe = 1 convention when both
    gates are constant); engineered disagreement -> kappa 0.0 when
    agreement is exactly chance-level."""
    from hummingbirddatapipeline_spark.operators.evaluation import (
        gate_agreement_kappa,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "far away to the hills where it rests for a while in the shade"
    )
    # both gates pass all docs -> po = 1, pe = 1 -> kappa 1.0
    docs = spark.createDataFrame(
        [(i, prose, "s1") for i in range(4)],
        "doc_id long, text string, source string",
    )
    r = gate_agreement_kappa(docs).collect()[0]
    assert r["n11"] == 4 and r["po"] == 1.0 and r["kappa"] == 1.0

    # 2x2 balanced contingency (n11=n10=n01=n00=1) -> po = 0.5,
    # pe = 0.5 -> kappa exactly 0.0
    junk = "zz !!"  # fails both (word floor, no stopwords)
    braces = prose + " {x}"  # fails C4 (brace), passes quality
    lorem = (
        "lorem ipsum " + prose
    )  # fails C4 (lorem), passes quality
    # passes C4 (5+ words, clean), fails quality (0.4: length 0.2 +
    # punct 0.2; no stopwords, mean token length 15 > 12)
    no_stop = " ".join(["a" * 15] * 8)
    docs2 = spark.createDataFrame(
        [
            (1, prose, "s1"),  # 11
            (2, braces, "s1"),  # 01
            (3, no_stop, "s1"),  # 10
            (4, junk, "s1"),  # 00
        ],
        "doc_id long, text string, source string",
    )
    r2 = gate_agreement_kappa(docs2).collect()[0]
    assert (r2["n11"], r2["n10"], r2["n01"], r2["n00"]) == (1, 1, 1, 1)
    assert r2["po"] == 0.5 and r2["pe"] == 0.5 and r2["kappa"] == 0.0


def test_r24_plan_contracts(spark):
    """pack_concat_manifest: ONE shard-keyed exchange for the
    running-sum window, zero joins. gate_agreement_kappa: one
    stratum aggregate, zero joins. heaps_vocab_growth: the only
    nested-loop joins are the broadcast 1-row cut attaches."""
    from hummingbirddatapipeline_spark.operators.evaluation import (
        gate_agreement_kappa,
    )
    from hummingbirddatapipeline_spark.operators.tokenization import (
        heaps_vocab_growth,
        pack_concat_manifest,
    )

    docs = documents(spark)
    plan = built_plan(pack_concat_manifest(docs))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan

    plan = built_plan(gate_agreement_kappa(docs))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan

    plan = built_plan(heaps_vocab_growth(docs, _FRACS))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
