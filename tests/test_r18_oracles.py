"""Property checks for the budget -> order epoch plan (UniMax
waterfilling composed into stride scheduling), the corpus snapshot
diff (recrawl delta by key + content fingerprint), and the
frozen-quantizer embedding-drift monitor. Each row's DuckDB
differential runs in tests/test_oracles.py (the epoch oracle nests the
full waterfilling and counts predecessors pairwise; the delta oracle
replays the recrawl fixture and re-fingerprints both sides; the drift
oracle re-derives both snapshots' cell assignments from the frozen
centroid constants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import SMOKE_SF_DIR as SF
from conftest import documents


def test_epoch_plan_matches_duckdb(catalog_rows):
    got = catalog_rows("sample_epoch_plan")
    assert len(got) > 0
    # the plan is a total order over the funded corpus
    seqs = sorted(r[3] for r in got)
    assert seqs == list(range(1, len(got) + 1))
    # within each language the plan consumes docs in order: lang_seq
    # is 1..n_lang, and global_seq is strictly increasing along it
    per_lang = {}
    for _id, lang, ls, gs in got:
        per_lang.setdefault(lang, []).append((ls, gs))
    for lang, rows in per_lang.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        gseqs = [r[1] for r in rows]
        assert gseqs == sorted(gseqs)


def test_snapshot_delta_matches_duckdb(spark, catalog_rows):
    got = catalog_rows("merge_snapshot_delta")
    assert len(got) > 0
    from collections import Counter

    docs = documents(spark).select("doc_id", "text")
    d = F.col("doc_id")
    c = Counter(r[1] for r in got)
    assert set(c) == {"new", "vanished", "changed", "unchanged"}
    # fixture arithmetic: every status count is derivable exactly
    n_docs = docs.count()
    assert c["vanished"] == docs.filter(d % 11 == 0).count()
    assert c["new"] == docs.filter(d % 13 == 0).count()
    assert c["changed"] == docs.filter((d % 11 != 0) & (d % 7 == 3)).count()
    assert sum(c.values()) == n_docs + c["new"]


def test_snapshot_delta_whitespace_invariant(spark):
    """Cosmetic rewraps must NOT count as changes: the fingerprint is
    whitespace/case-normalized, so a re-spaced uppercased copy is
    'unchanged'."""
    from hummingbirddatapipeline_spark.operators.incremental import (
        snapshot_delta,
    )

    old = spark.createDataFrame(
        [(1, "Hello  world foo"), (2, "keep me")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "hello WORLD   foo"), (2, "changed me")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_delta(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed"}


def test_ivf_cell_drift_matches_duckdb(spark, catalog_rows):
    from hummingbirddatapipeline_spark.tables import load

    got = catalog_rows("similarity_cell_drift")
    assert len(got) > 0
    emb = load(spark, SF, "embeddings").select("vec_id", "embedding")
    new = emb.filter(F.col("vec_id") % 17 != 0)
    # conservation: totals reconcile with the fixture — n_old sums to
    # the corpus, n_new to the recrawl, and global arrivals equal the
    # vectors that actually changed cells (departures additionally
    # count the dropped ones)
    n_old_total = sum(r[1] for r in got)
    n_new_total = sum(r[2] for r in got)
    assert n_old_total == emb.count()
    assert n_new_total == new.count()
    dropped = emb.count() - new.count()
    moved = sum(r[3] for r in got)
    assert sum(r[4] for r in got) == moved + dropped
    assert moved > 0  # the +0.25 shift moved somebody
