"""Property checks for the round-11-registered operators — cross-corpus
containment via winnowing fingerprints (the decontamination
completion), DoReMi-shaped domain-mixture reweighting, and
quality-classifier score distillation (teacher percentile -> student
threshold). Each row's DuckDB differential runs in
tests/test_oracles.py (the containment oracle replays the winnowing
integer arithmetic and the embed-twin fixture; the DoReMi oracle
rebuilds the unigram LM, the exact decimal CE sums, and the
exponentiated-gradient update; the distillation oracle re-derives the
teacher percentile labels, the cumulative agreement counts, and the
stump argmax); these tests assert the structural properties the value
hash alone would not surface."""

from __future__ import annotations

from __spark_entry__ import SMOKE_SF_DIR as SF

_TWIN_OFFSET = 70_000


def test_winnow_containment_matches_duckdb(catalog_rows):
    got = catalog_rows("text_winnow_containment")
    assert len(got) > 0

    # every embed-twin is caught against its own bench doc (the
    # winnowing guarantee made constructive on the real corpus) …
    pairs = {(r[0], r[1]) for r in got}
    for b in range(20):
        assert (b + _TWIN_OFFSET, b) in pairs
    # … and scores are sane
    assert all(0.0 < r[4] <= 1.0 for r in got)
    assert all(r[2] <= r[3] for r in got)   # n_shared <= bench_fps


def test_winnow_containment_full_embedding_scores_one(spark):
    """A train doc that embeds a bench doc WHOLE (prefix + bench text
    + suffix) must score containment 1.0: every bench window is also a
    train window, so train's selected hash set is a superset."""
    from hummingbirddatapipeline_spark.operators.contamination import (
        winnow_containment,
    )

    bench_text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    bench = spark.createDataFrame(
        [(1, bench_text)], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (100, "pre1 pre2 pre3 " + bench_text + " post1 post2"),
            (101, "disjoint vocabulary entirely different words here "
                  "nothing shared at all in this document body"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["train_id"], r["bench_id"]): r["containment"]
        for r in winnow_containment(train, bench, k=4, w=5).collect()
    }
    assert rows[(100, 1)] == 1.0
    assert (101, 1) not in rows


def test_doremi_reweight_matches_duckdb(catalog_rows):
    got = catalog_rows("sample_doremi_reweight")
    assert len(got) > 1

    # the update is a genuine probability distribution over domains …
    shares = [r[4] for r in got]
    assert abs(sum(shares) - 1.0) < 1e-4
    assert all(s > 0 for s in shares)
    # … the clipped excess has real structure on the fixture …
    assert any(r[3] > 0 for r in got) and any(r[3] == 0.0 for r in got)
    # … and the token targets respect the budget
    assert sum(r[5] for r in got) <= 1_000_000


def test_doremi_lr_monotone_on_excess(spark):
    """lr=0 is the smoothed natural mixture (no excess signal); raising
    lr must strictly upweight the max-excess domain relative to it —
    the exponentiated-gradient direction, observable end-to-end."""
    from hummingbirddatapipeline_spark.operators.sampling import (
        doremi_reweight,
    )
    from hummingbirddatapipeline_spark.tables import load

    docs = load(spark, SF, "documents")
    base = {
        r["domain"]: r
        for r in doremi_reweight(docs, lr=0.0, eps=0.3).collect()
    }
    hot = {
        r["domain"]: r
        for r in doremi_reweight(docs, lr=400.0, eps=0.3).collect()
    }
    d_max = max(hot.values(), key=lambda r: (r["excess"], r["domain"]))
    assert d_max["excess"] > 0
    assert hot[d_max["domain"]]["doremi_share"] > (
        base[d_max["domain"]]["doremi_share"]
    )
    # at lr=0 the weights reduce to the smoothed natural mixture
    n_total = sum(r["n_tokens"] for r in base.values())
    k = len(base)
    for r in base.values():
        want = 0.7 * r["n_tokens"] / n_total + 0.3 / k
        assert abs(r["doremi_share"] - round(want, 6)) <= 1e-6


def test_distill_stump_matches_duckdb(catalog_rows):
    got = catalog_rows("curation_score_distill")
    assert len(got) > 0

    # internal consistency: the reported agreement IS the recounted
    # agreement of the stump it chose …
    n_correct = got[0][6]
    assert all(r[6] == n_correct for r in got)
    assert n_correct == sum(1 for r in got if r[2] == r[3])
    # … and it beats the trivial all-positive stump's floor
    n_pos = sum(1 for r in got if r[2])
    assert n_correct >= n_pos
    # both verdicts occur (the stump is not degenerate on the fixture)
    assert {r[3] for r in got} == {True, False}


def test_distill_stump_picks_perfect_separator(spark):
    """On a perfectly separable fixture the stump must find the exact
    boundary and score 100% agreement, choosing the '>=' direction and
    the LOWEST realizing threshold per the tie rule."""
    from hummingbirddatapipeline_spark.pipelines.curation import (
        distill_quality_stump,
    )

    # teacher top-50% (ids 5-9) all have student >= 10; rest below
    rows = [(i, float(i), 10.0 + i if i >= 5 else float(i)) for i in range(10)]
    scored = spark.createDataFrame(
        rows, "doc_id long, teacher double, student double"
    )
    out = distill_quality_stump(scored, top_frac=0.5).collect()
    assert all(r["teacher_label"] == r["student_label"] for r in out)
    assert out[0]["n_correct"] == 10
    assert out[0]["direction"] == ">="
    assert out[0]["threshold"] == 15.0  # lowest positive student value


def test_distill_stump_per_stratum_teacher(spark):
    """The 100 TB form: strata_col ranks the teacher WITHIN each
    stratum (the FineWeb-Edu per-domain percentile), so a doc that is
    top-of-its-stratum is positive even when another stratum's scores
    dominate globally; the teacher window must exchange on the stratum
    key, never move the corpus to one partition."""
    from hummingbirddatapipeline_spark.pipelines.curation import (
        distill_quality_stump,
    )

    # stratum A scores 100x stratum B's: a global top-50% cut labels
    # ONLY A docs positive; per-stratum labels the top half of EACH
    rows = [
        (i, "A", 100.0 + i, float(i)) for i in range(10)
    ] + [
        (100 + i, "B", 1.0 + i / 10.0, float(i)) for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, src string, teacher double, student double"
    )
    out = distill_quality_stump(
        df, top_frac=0.5, strata_col="src"
    ).collect()
    pos = {r["doc_id"] for r in out if r["teacher_label"]}
    assert pos == {5, 6, 7, 8, 9, 105, 106, 107, 108, 109}
    glob = distill_quality_stump(df, top_frac=0.5).collect()
    assert {r["doc_id"] for r in glob if r["teacher_label"]} == set(
        range(10)
    )
    # (the teacher window's stratum-keyed exchange sits inside the
    # labeled frame's checkpoint lineage — localCheckpoint rewrites
    # the SQL plan to a LogicalRDD at build time, so the outer plan
    # cannot be asserted on; the behavioral split above is the
    # contract, and Window.partitionBy(strata_col) is the whole
    # mechanism)
