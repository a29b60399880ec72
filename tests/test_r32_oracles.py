"""Property checks for the dense-regime auto-switch clusters row, the
histogram-quantile error report (quantile member of the
observe-don't-trust sketch family), and the salted hot-key join. Each
row's DuckDB differential runs in tests/test_oracles.py."""

from __future__ import annotations


def test_hybrid_dense_clusters_matches_exact_closure(catalog_rows):
    """The two-engine pair set must close into exactly the clusters
    DuckDB's exact brute-force recursive closure produces — the same
    oracle that gates the single-engine banded rows, so any
    dense/sparse routing defect (dup pairs, lost pairs, sim drift)
    breaks the hash here first."""
    got = catalog_rows("similarity_hybrid_dense_clusters")
    assert got
    # min-id connected components: a partition of the nodes, each
    # cluster labelled by its smallest member and sized by its members
    members: dict[int, list[int]] = {}
    for node, cid, _size in got:
        members.setdefault(cid, []).append(node)
    assert len({r[0] for r in got}) == len(got)
    for _node, cid, size in got:
        assert cid == min(members[cid]) and size == len(members[cid]) >= 2


def test_quantile_error_differential_and_bounds(catalog_rows):
    """Histogram-quantile report equals the DuckDB formulation row for
    row, and the report's own claims hold on real data: estimates are
    monotone in q and every rank error is under 1% at 4096 bins over
    the lineitem price range."""
    got = catalog_rows("sketch_quantile_error")
    assert len(got) == 3
    by_q = {r[0]: r for r in got}  # (q_e6, est_value, n_below, err)
    ests = [by_q[q][1] for q in sorted(by_q)]
    assert ests == sorted(ests)
    assert all(r[3] <= 10000 for r in got), got  # <= 1% rank error


def test_salted_join_differential_and_multiplicity(catalog_rows):
    """The salted join's aggregate equals the PLAIN-join oracle, and
    the multiplicity invariant the salt must preserve holds row by
    row: every event_type's joined row count equals its dim count —
    salt-induced duplication or loss would break this before the
    value sum."""
    got = catalog_rows("join_salted_hot_keys")
    for event_type, n_type, n_rows, _sum in got:
        assert n_rows == n_type, (event_type, n_type, n_rows)


def test_fellegi_sunter_differential_and_weight_ordering(catalog_rows):
    """FS scoring equals the DuckDB formulation row for row, and the
    method's point holds on real data: agreeing on the rare field
    (the padded-id digits, small u) contributes more weight than
    agreeing on the common one (5-value market segment) — visible as
    a strictly higher score for phx-only-agreement pairs than
    seg-only-agreement pairs with the other flags equal."""
    got = catalog_rows("er_fellegi_sunter_scores")
    assert len(got) > 0
    # (agree_seg, agree_phx, agree_band) -> score is constant per
    # pattern; compare the two single-agreement patterns
    by_pat = {}
    for _, _, a_seg, a_phx, a_band, score in got:
        by_pat.setdefault((a_seg, a_phx, a_band), score)
    seg_only = by_pat.get((True, False, False))
    phx_only = by_pat.get((False, True, False))
    if seg_only is not None and phx_only is not None:
        assert phx_only > seg_only
