"""Driver-gate mimic: every registered query must match its DuckDB
oracle at sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from legate_dataframe_spark.plans.registry import ORACLES, QUERIES
from tests.oracle_harness import duckdb_connection, run_one


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, con, sf_dir, name, registry_plans):
    issues, sdf, odf = run_one(spark, con, name, sf_dir, registry_plans)
    assert not issues, f"{name}: {issues}"


def test_all_queries_have_oracles():
    # every registered query is oracle-checkable — including
    # approx_sketches, which since r03 emits (exact values,
    # bounded-error booleans) instead of raw sketch estimates.
    assert set(QUERIES) - set(ORACLES) == set()
