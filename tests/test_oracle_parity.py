"""Oracle-parity gate: every registered query must match its oracle in
DuckDB exactly at sf0.001 — a stricter local replica of the driver's t2
check (which runs at sf0.01)."""

from __future__ import annotations

import pytest

from graphragdatapipeline_spark.registry import REGISTRY
from tests.oracle_utils import compare, duckdb_conn

ORACLE_QUERIES = sorted(REGISTRY)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, con, name):
    qd = REGISTRY[name]
    spark_df = qd.fn(spark, sf_dir)
    problems = compare(spark_df, con.sql(qd.oracle))
    assert not problems, f"{name}: " + "; ".join(problems[:6])

