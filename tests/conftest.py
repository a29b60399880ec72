from __future__ import annotations

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


# Plain helpers the test files import by name (``from conftest import
# ...``): the plan and table accessors every tier file shares.


def built_plan(df) -> str:
    """The built plan: AQE's initial plan, before any stage has run."""
    return df._jdf.queryExecution().executedPlan().toString()


def documents(spark, sf_dir: str = SF_SMOKE):
    """The ``documents`` table, at sf0.001 unless ``sf_dir`` says."""
    from hummingbirddatapipeline_spark.tables import load

    return load(spark, sf_dir, "documents")


@pytest.fixture(scope="session")
def harness():
    """tools/check_oracle.py — the one differential harness: duck_connect,
    normalize and the compare verdict every DuckDB check goes through."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(REPO, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from hummingbirddatapipeline_spark.session import get_spark

    s = get_spark("hummingbird-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_dir_small() -> str:
    return SF_CORRECT


@pytest.fixture(scope="session")
def duck(harness):
    """DuckDB over the sf0.001 tables."""
    con = harness.duck_connect(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def catalog_rows(spark):
    """name -> the catalog row's collected Spark Rows at sf0.001,
    executed once per session: the differential in test_oracles.py and
    the tier files' property tests read the same result."""
    from hummingbirddatapipeline_spark.catalog import QUERIES

    memo: dict[str, tuple[list[str], list]] = {}

    def rows(name: str, with_cols: bool = False):
        if name not in memo:
            df = QUERIES[name](spark, SF_SMOKE)
            # collect a fresh Dataset: executing the plan-cached one would
            # turn its adaptive plan final under the plan-contract tests
            memo[name] = (df.columns, df.select("*").collect())
        cols, got = memo[name]
        return (cols, list(got)) if with_cols else list(got)

    return rows


@pytest.fixture(scope="session")
def matches_sql(harness, duck):
    """Test-local second oracle: assert a Spark DataFrame equals the
    DuckDB SQL through the harness's compare; returns the Spark Rows."""

    def check(df, sql: str) -> list:
        got = df.collect()
        rel = duck.sql(sql)
        problems = harness.compare(
            df.columns, got, list(rel.columns), rel.types, rel.fetchall()
        )
        assert not problems, problems
        return got

    return check
