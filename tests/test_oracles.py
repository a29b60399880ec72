"""The DuckDB differential, one case per ORACLES row at sf0.001 on the
tuned test session: the same compare tools/check_oracle.py sweeps on
the bare local[4] session (int128 width gate, ordered columns, row
count, exact order-insensitive values)."""

from __future__ import annotations

import pytest

from hummingbirddatapipeline_spark.catalog import ORACLES


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_matches_duckdb(harness, catalog_rows, duck, name):
    cols, rows = catalog_rows(name, with_cols=True)
    rel = duck.sql(ORACLES[name])
    problems = harness.compare(cols, rows, list(rel.columns), rel.types, rel.fetchall())
    assert not problems, f"{name}: {problems}"
