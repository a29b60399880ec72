"""The 11 operators registered into the catalog in round 7 (LTTB,
Markov transitions, A-ES sampling, TF-IDF cosine pairs, triangle
counts, decayed activity, winsorize, PSI drift, median impute, radius
join, basket co-occurrence) must return rows at sf0.001, so their
DuckDB differential in tests/test_oracles.py never passes on two empty
results."""

from __future__ import annotations

import pytest

R7_QUERIES = [
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
]


@pytest.mark.parametrize("name", R7_QUERIES)
def test_r7_query_matches_oracle(catalog_rows, name):
    assert len(catalog_rows(name)) > 0, f"{name}: empty result"
