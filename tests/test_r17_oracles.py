"""Property checks for the in-engine model-EVALUATION completion of the
classifier lifecycle (features -> train -> calibrate -> score): exact
tie-aware ROC-AUC per source, reliability-diagram calibration bins
over the in-engine logistic model, and the hashing-trick n-gram
featurizer. Each row's DuckDB differential runs in
tests/test_oracles.py (the AUC oracle re-derives tie-aware rank sums
as pure integers; the calibration oracle nests the FULL unrolled
logreg training trajectory and re-bins; the featurizer oracle
rebuilds the namespaced gram stream and 52-bit-md5 buckets from raw
text)."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import documents


def _student_scored(spark):
    from hummingbirddatapipeline_spark.functions.text import (
        quality_score,
        ws_token_count,
    )

    docs = documents(spark)
    cnt = ws_token_count(F.col("text"))
    score = F.round(
        F.col("n_chars")
        / F.when(cnt == 0, F.lit(None)).otherwise(cnt),
        6,
    )
    return docs.select(
        "source",
        score.alias("score"),
        (F.round(quality_score(F.col("text")), 2) >= 0.9).alias("y"),
    ).filter(F.col("score").isNotNull())


def test_auc_by_source_matches_duckdb(catalog_rows):
    got = catalog_rows("eval_auc_by_source")
    assert len(got) > 0
    for _g, p, n, auc in got:
        if p > 0 and n > 0:
            assert 0.0 <= auc <= 1.0


def test_auc_flip_symmetry_and_perfect_separation(spark):
    """Rank-statistic contracts: flipping every label maps AUC to
    1 - AUC (tie-aware Mann-Whitney identity), and a perfectly
    separated fixture scores exactly 1.0 / an all-tied fixture exactly
    0.5 (the tie credit)."""
    from hummingbirddatapipeline_spark.operators.evaluation import (
        auc_by_group,
    )

    scored = _student_scored(spark)
    fwd = {
        r["group"]: r["auc"]
        for r in auc_by_group(scored, "score", "y", "source").collect()
    }
    rev = {
        r["group"]: r["auc"]
        for r in auc_by_group(
            scored.select("source", "score", (~F.col("y")).alias("y")),
            "score",
            "y",
            "source",
        ).collect()
    }
    checked = 0
    for g, a in fwd.items():
        if a is not None and rev.get(g) is not None:
            assert abs((1.0 - a) - rev[g]) <= 2e-6
            checked += 1
    assert checked > 0
    rows = [("g", float(i), i >= 5) for i in range(10)] + [
        ("t", 1.0, i % 2 == 0) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "source string, score double, y boolean")
    out = {
        r["group"]: r["auc"]
        for r in auc_by_group(df, "score", "y", "source").collect()
    }
    assert out["g"] == 1.0  # perfect separation
    assert out["t"] == 0.5  # all ties -> pure tie credit


def test_calibration_bins_matches_duckdb(spark, catalog_rows):
    got = catalog_rows("eval_calibration_bins")
    assert len(got) > 1
    assert sum(r[1] for r in got) == documents(spark).count()
    for b, n, npos, mp, fp in got:
        assert 0 <= b <= 9 and 0 <= npos <= n
        assert 0.0 <= mp <= 1.0 and 0.0 <= fp <= 1.0


def test_hash_ngram_features_matches_duckdb(catalog_rows, duck):
    got = catalog_rows("feature_hash_ngrams")
    assert len(got) > 0
    # conservation: bucket counts must add up to the exact gram count
    # (tokens + bigrams), and indexes stay inside the table
    n_grams = duck.sql(
        "SELECT SUM(len(list_filter(string_split_regex(lower(trim(text)),"
        " '\\s+'), t -> t <> ''))) + SUM(GREATEST(len(list_filter("
        "string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) - 1,"
        " 0)) FROM documents"
    ).fetchone()[0]
    assert sum(r[2] for r in got) == n_grams
    assert all(0 <= r[1] < 256 for r in got)
