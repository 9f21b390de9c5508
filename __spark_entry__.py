"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` exposes the
full SURVEY.md §2 operator inventory; ``oracle_sql()`` pairs each query
with DuckDB-runnable ANSI SQL.
Implementation lives in ``datafusion_ballista_spark/``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from datafusion_ballista_spark.inventory import all_queries

_FLAGSHIP_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 (scan + filter + 8-aggregate hash agg + sort) —
    the same first query the reference's CI verifies
    (reference: benchmarks/queries/q1.sql)."""
    from datafusion_ballista_spark.inventory.tpch import q1

    return q1(spark, _FLAGSHIP_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_queries().items()}
