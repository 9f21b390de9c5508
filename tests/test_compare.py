"""The local correctness gate must be at least as strict as the driver's.

Round-3 lesson: DuckDB returns HUGEINT (arrow decimal128(38,0)) for
SUM(INTEGER)/factorial(); fetchall() collapsed it to a Python int, so the
local gate was green on 10 rows the driver hashed red. These tests pin the
Arrow-aware, kind-tagged comparison that closes that gap — plus a static
lint over every registered oracle so an un-cast aggregate can never enter
the inventory again.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import duckdb
import pytest

from datafusion_ballista_spark.compare import (
    fetch_oracle,
    hugeint_columns,
    norm_cell,
)


def test_hugeint_survives_fetch_and_mismatches_bigint():
    con = duckdb.connect()
    rel = con.sql("SELECT SUM(x) AS s FROM (VALUES (1),(2)) t(x)")
    cols, rows, hugeints = fetch_oracle(rel)
    assert hugeints == ["s"]
    # the round-3 divergence, reproduced: decimal result != Spark's bigint 3
    assert norm_cell(rows[0][0]) != norm_cell(3)


def test_cast_bigint_matches():
    con = duckdb.connect()
    rel = con.sql("SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (1),(2)) t(x)")
    cols, rows, hugeints = fetch_oracle(rel)
    assert hugeints == []
    assert norm_cell(rows[0][0]) == norm_cell(3)


def test_decimal_scale_canonicalization():
    # same numeric value at different scales must match; decimal vs int
    # and decimal vs float must NOT
    assert norm_cell(Decimal("123.40")) == norm_cell(Decimal("123.4000"))
    assert norm_cell(Decimal("55")) != norm_cell(55)
    assert norm_cell(Decimal("55")) != norm_cell(55.0)
    assert norm_cell(Decimal("-0")) == norm_cell(Decimal("0"))


def test_float_int_kind_tagged():
    # double-vs-bigint divergence is visible (Python's 1.0 == 1 would hide it)
    assert norm_cell(1.0) != norm_cell(1)
    assert norm_cell(True) == True  # noqa: E712 — bool stays bool
    assert norm_cell(1.0000000001) == norm_cell(1.0000000002)  # sub-1e-9 noise
    assert norm_cell(0.1 + 0.2) == norm_cell(0.3)
    assert norm_cell(-0.0) == norm_cell(0.0)


def test_container_cells():
    assert norm_cell({"b": 2, "a": 1}) == (("a", 1), ("b", 2))
    assert norm_cell([1.5, None]) == (("f", 1.5), None)
    assert norm_cell(b"\x01\xff") == "01ff"
    assert norm_cell(datetime.date(2024, 1, 5)) == "2024-01-05"


def test_every_registered_oracle_is_hugeint_free(oracle):
    """Static lint (runs every oracle with LIMIT 0 — schema only): no
    oracle may emit a decimal128(38,0) column, DuckDB's HUGEINT signature
    for an un-cast SUM(int)/factorial()."""
    from datafusion_ballista_spark.inventory import all_queries

    offenders = {}
    for name, spec in all_queries().items():
        try:
            tbl = oracle.sql(
                f"SELECT * FROM ({spec.oracle}\n) __lint LIMIT 0"
            ).arrow()
        except duckdb.Error as ex:  # pragma: no cover — oracle must parse
            pytest.fail(f"oracle for {name} failed to parse: {ex}")
        cols = hugeint_columns(tbl)
        if cols:
            offenders[name] = cols
    assert not offenders, (
        f"oracles emitting HUGEINT columns (wrap in CAST(... AS BIGINT)): "
        f"{offenders}"
    )


def test_decimal_output_columns_detects_bare_and_nested(spark):
    """Round-6 driver lesson: a bare DecimalType OUTPUT column hashes
    red on the driver even when both engines return bit-identical values
    (tpcds_real q12/q20/q37 — pre-fix, each emitted i_current_price
    decimal(7,2) verbatim). The local gate must flag the class."""
    from datafusion_ballista_spark.compare import decimal_output_columns

    df = spark.sql(
        "SELECT CAST(62.49 AS DECIMAL(7,2)) AS p, "
        "       ARRAY(CAST(1 AS DECIMAL(5,0))) AS arr, "
        "       NAMED_STRUCT('x', CAST(2 AS DECIMAL(3,1))) AS st, "
        "       CAST(62.49 AS DOUBLE) AS ok_d, "
        "       CAST(1 AS BIGINT) AS ok_i"
    )
    assert decimal_output_columns(df) == ["p", "arr", "st"]


def test_compare_query_goes_red_on_decimal_output(spark):
    """The miniature pre-fix-q37 reproduction: values identical across
    engines, yet the record must NOT be hash-green, because the driver's
    decimal-representation hash is not reproducible locally."""
    from datafusion_ballista_spark.compare import compare_query

    con = duckdb.connect()
    df = spark.sql("SELECT CAST(62.49 AS DECIMAL(7,2)) AS p")
    rec = compare_query(df, con, "SELECT CAST(62.49 AS DECIMAL(7,2)) AS p")
    assert rec["decimal_output"] == ["p"]
    assert rec["hash_match"] is False
    # and the pinned form is green
    df2 = spark.sql("SELECT CAST(CAST(62.49 AS DECIMAL(7,2)) AS DOUBLE) AS p")
    rec2 = compare_query(df2, con, "SELECT CAST(62.49 AS DOUBLE) AS p")
    assert rec2["hash_match"] is True and "decimal_output" not in rec2


# --- failures(): one hazard per check the gate makes ----------------------
# Each pair below trips the check its test is named for, and the test
# asserts that check's own message: deleting the check from failures()
# turns the test red even when another check still fails the pair.


def _fails(spark, spark_sql, oracle_sql, whitelisted=False):
    from datafusion_ballista_spark.compare import compare_query, failures

    rec = compare_query(spark.sql(spark_sql), duckdb.connect(), oracle_sql)
    return rec, failures(rec, whitelisted)


def test_failures_passes_a_matching_pair(spark):
    rec, fails = _fails(
        spark, "SELECT CAST(3 AS BIGINT) AS s", "SELECT CAST(3 AS BIGINT) AS s"
    )
    assert fails == [] and rec["hash_match"] is True
    assert rec["first_mismatch"] is None


@pytest.mark.parametrize(
    "spark_sql, oracle_sql, message",
    [
        pytest.param(
            "SELECT CAST(3 AS BIGINT) AS s",
            "SELECT SUM(x) AS s FROM (VALUES (1), (2)) t(x)",
            "HUGEINT",
            id="hugeint",
        ),
        pytest.param(  # values identical: only the output type is at fault
            "SELECT CAST(62.49 AS DECIMAL(7,2)) AS p",
            "SELECT CAST(62.49 AS DECIMAL(7,2)) AS p",
            "bare DecimalType",
            id="decimal_output",
        ),
        pytest.param(
            "SELECT NAMED_STRUCT('x', 1) AS st",
            "SELECT {'x': 1} AS st",
            "complex-typed",
            id="complex_output",
        ),
        pytest.param("SELECT 1 AS a", "SELECT 1 AS b", "column mismatch",
                     id="columns"),
        pytest.param(
            "SELECT id FROM range(3)",
            "SELECT CAST(range AS BIGINT) AS id FROM range(2)",
            "row count mismatch: spark=3 oracle=2",
            id="row_count",
        ),
    ],
)
def test_failures_hazard(spark, spark_sql, oracle_sql, message):
    _, fails = _fails(spark, spark_sql, oracle_sql)
    assert any(message in f for f in fails), fails


def test_failures_value_mismatch_shows_first_row(spark):
    rec, fails = _fails(
        spark,
        "SELECT id, id * 10 AS v FROM range(3)",
        "SELECT CAST(range AS BIGINT) AS id, "
        "CAST(CASE WHEN range = 2 THEN 21 ELSE range * 10 END AS BIGINT) AS v "
        "FROM range(3)",
    )
    assert rec["first_mismatch"]["row"] == 2
    assert any(
        "value mismatch at sorted row 2" in f and "20" in f and "21" in f
        for f in fails
    ), fails


def test_failures_float_strict_only(spark):
    # 0.1 + 0.2 != 0.3 bit-exactly, but equal after the 9dp/12sg rounding
    q = "SELECT CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE) AS x"
    rec, fails = _fails(spark, q, "SELECT CAST(0.3 AS DOUBLE) AS x")
    assert rec["hash_match"] is True and rec["float_strict_match"] is False
    assert any("FLOAT-STRICT mismatch" in f for f in fails), fails
    # a named whitelist entry is the only way past it
    _, fails = _fails(spark, q, "SELECT CAST(0.3 AS DOUBLE) AS x", True)
    assert fails == []
