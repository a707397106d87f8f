"""Differential tests: every registered query vs its DuckDB oracle at
sf0.01 — the local mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from postgis_gtfs_importer_spark.plans import queries as Q

from .oracle_utils import compare, duckdb_conn

SF_DIR = "/root/testdata/sf0.01"

ORACLES = Q.oracle_sql()
NAMES = sorted(ORACLES)


@pytest.fixture(scope="module")
def duck():
    con = duckdb_conn(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, name):
    spark_df = Q.queries()[name](spark, SF_DIR)
    oracle_df = duck.execute(ORACLES[name]).df()
    problems = compare(spark_df, oracle_df)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_all_queries_have_entries():
    qs = Q.queries()
    assert len(qs) >= 15
    assert list(qs) == list(Q._REGISTRY)
    assert set(ORACLES) <= set(qs)
