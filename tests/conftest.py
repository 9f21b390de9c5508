"""Shared fixtures: one SparkSession per test run + a DuckDB oracle.

The compare helper mirrors the driver's contract: run the Spark query and
the oracle SQL on the same parquet, compare row count, column names, and
(order-insensitively) values — through ``compare.compare_query`` and its
one verdict, ``compare.failures``.
"""

from __future__ import annotations

import os

import pytest

from datafusion_ballista_spark.compare import (
    compare_query,
    failures,
    oracle_connection,
)
from datafusion_ballista_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        master="local[8]",
        app_name="dbspark-tests",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    with oracle_connection(SF_DIR) as con:
        yield con


def assert_query_matches(spark_df, oracle_con, oracle_sql: str, name: str = "?"):
    rec = compare_query(spark_df, oracle_con, oracle_sql)
    fails = failures(rec, name in FLOAT_ULP_WHITELIST)
    assert not fails, f"[{name}] " + "\n".join(fails)


# Queries allowed to rely on the 9dp/12sg float normalization at the
# sf0.01 gate. Empty on purpose — round() in the query on BOTH sides is
# the contract: if floats match only after the normalization, it is
# load-bearing and the CORRECTNESS hash (which may not normalize) could
# diverge where this gate stays green, the same blind-spot class as the
# round-6 decimal reds. A new entry here needs the same justification bar
# as FLOAT_ULP_SF1_WHITELIST in tools/local_correctness.py.
FLOAT_ULP_WHITELIST: frozenset[str] = frozenset()
