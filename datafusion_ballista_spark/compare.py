"""Cross-engine result comparison — the driver's CORRECTNESS contract.

Run a Spark DataFrame and a DuckDB oracle SQL over the same parquet and
compare row count, column names, and values order-insensitively (columns
sorted by name, rows sorted after cell normalization). This module is the
one place that opens an oracle (:func:`oracle_connection`) and decides
pass or fail (:func:`compare_query` builds the record, :func:`failures`
reads the verdict off it). Callers: the pytest gate
(``tests/conftest.py``), the full-inventory artifact tool
(``tools/local_correctness.py``) and the benchmark's cold-pass output
check (``perfbench/run.py``).

Round-3 lesson baked in: the oracle side is fetched via Arrow, not
``fetchall()``. DuckDB returns HUGEINT (arrow decimal128(38,0)) for
``SUM(INTEGER)`` and ``factorial()``; ``fetchall()`` collapses that to a
Python int, hiding a type-level difference the driver's hash sees — 10
rows were locally green and driver-red in round 3 because of exactly
this. Normalization is therefore type-marked: Decimal cells and float
cells carry a kind tag, so decimal-vs-bigint and double-vs-bigint
divergences go red here before they go red on the driver.
"""

from __future__ import annotations

import math
import os
import tempfile
from contextlib import contextmanager
from decimal import Decimal
from itertools import zip_longest

from datafusion_ballista_spark.sources.registry import TABLES


def _canon_decimal(v: Decimal) -> str:
    # Fixed-point text with trailing zeros stripped, so decimal(38,2)
    # "123.40" and decimal(22,4) "123.4000" canonicalize identically.
    s = format(v, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return "0" if s in ("-0", "") else s


def norm_cell(v, *, strict_floats: bool = False):
    if v is None:
        return None
    if isinstance(v, bool):  # before int/float checks (bool is an int)
        return v
    if isinstance(v, Decimal):
        # Kind-tagged: a DuckDB HUGEINT/DECIMAL result must NOT silently
        # equal a Spark bigint — that is the driver divergence of round 3.
        return ("dec", _canon_decimal(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if strict_floats:
            # BIT-EXACT mode (the float audit, round-8): -0.0 and NaN
            # canonicalized, everything else raw — a mismatch here that
            # the 9dp/12sg mode hides means the normalization is
            # LOAD-BEARING for that query, i.e. the driver's own hash
            # (which may not normalize) could diverge where the local
            # gate stays green — the same blind-spot class as the
            # round-6 decimal-representation reds.
            return ("f", v + 0.0)
        # kill -0.0 and representation noise far below our rounding levels;
        # kind-tagged so double-vs-int divergences are visible too. The 9dp
        # rounding is ABSOLUTE, so it does nothing at large magnitudes —
        # cap at 12 significant digits too: the engines' decimal->double
        # conversions legitimately differ by 1 ULP, and ULP(2.8e10) ~ 4e-6
        # (first seen on tpch_q1.sum_charge at the sf1 stress gate).
        return ("f", float(f"{round(v + 0.0, 9):.12g}"))
    if hasattr(v, "isoformat"):  # date/datetime
        return v.isoformat()
    if isinstance(v, dict):  # map/struct cells (either engine)
        return tuple(
            sorted(
                (str(k), norm_cell(x, strict_floats=strict_floats))
                for k, x in v.items()
            )
        )
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x, strict_floats=strict_floats) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def normalize(cols, rows, *, sort_rows: bool = True, strict_floats: bool = False):
    """Columns are always sorted by name; rows are sorted unless
    ``sort_rows=False`` (the ordered second comparison mode — hash rows
    in RETURNED order, closing the driver-vs-replica semantic unknown of
    whether the driver's hash is order-sensitive). ``strict_floats=True``
    compares float cells bit-exactly (the float-normalization audit)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [
        tuple(norm_cell(r[i], strict_floats=strict_floats) for i in order)
        for r in rows
    ]
    if sort_rows:
        out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return [cols[i] for i in order], out


def hugeint_columns(arrow_table) -> list[str]:
    """Names of columns carrying DuckDB's HUGEINT signature
    (decimal128(38,0)) — almost always an un-cast SUM(int)/factorial()
    in the oracle SQL that must be wrapped in CAST(... AS BIGINT)."""
    import pyarrow as pa

    out = []
    for field in arrow_table.schema:
        t = field.type
        if pa.types.is_decimal(t) and t.precision == 38 and t.scale == 0:
            out.append(field.name)
    return out


def decimal_output_columns(spark_df) -> list[str]:
    """Names of Spark output columns whose type contains a DecimalType
    (including nested array/map/struct elements).

    Round-6 driver lesson: even when Spark and DuckDB return bit-identical
    decimal VALUES, the driver's value hash diverges on decimal
    *representation* (tpcds_real q12/q20/q37: rows+schema green, hash red;
    exactly the three queries emitting a bare decimal(7,2) passthrough).
    ``norm_cell``'s scale-stripping canonicalization is blind to this
    class by construction, so the local gate instead refuses bare
    DecimalType outputs entirely — pin them to DOUBLE (exact for the
    2dp money columns) or BIGINT before they reach the output schema."""
    from pyspark.sql import types as T

    def has_decimal(dt) -> bool:
        if isinstance(dt, T.DecimalType):
            return True
        if isinstance(dt, T.ArrayType):
            return has_decimal(dt.elementType)
        if isinstance(dt, T.MapType):
            return has_decimal(dt.keyType) or has_decimal(dt.valueType)
        if isinstance(dt, T.StructType):
            return any(has_decimal(f.dataType) for f in dt.fields)
        return False

    return [f.name for f in spark_df.schema.fields if has_decimal(f.dataType)]


def complex_output_columns(spark_df) -> list[str]:
    """Names of Spark output columns with a complex (array/map/struct)
    top-level type.

    Round-10 driver lesson: the driver canonicalizes results with a
    pandas ``sort_values`` over ALL columns, which dies with
    ``TypeError: unhashable type: 'list'`` on any array cell
    (emb_random_projection was rows/schema/hash-green locally and red
    on the driver for exactly this). Registry outputs must therefore be
    scalar-only — flatten arrays to p0..pN columns or ``array_join``
    them to a string before the output schema."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def driver_canon_check(cols, rows) -> None:
    """Replicate the driver harness's canonicalization move on collected
    Spark rows: build a pandas DataFrame and ``sort_values`` over every
    column (the exact call that raised on round 10's array<bigint>
    output). Raises the same exception class the driver would — running
    this inside the local gate means a harness-shape red can never again
    appear only in the driver window."""
    import pandas as pd

    if not cols:
        return
    pdf = pd.DataFrame(rows, columns=list(cols), dtype=object)
    # mirror the driver EXACTLY: a plain multi-column sort_values (no
    # key=), which factorizes each column via a pandas hash table — the
    # step that is unhashable-cell-intolerant. Adding a key= here would
    # hide exactly the failure this check exists to surface.
    pdf.sort_values(by=list(cols))


@contextmanager
def oracle_connection(sf_dir: str):
    """A DuckDB connection with a view over each fixture table present
    under ``sf_dir``, closed on exit.

    Memory guard (round-8 VERDICT Next #3): a runaway oracle plan (the
    pre-fix ppjoin candidate explosion built a 93 GB single-thread hash
    table and left both engines 30-45% slow for hours) must fail fast or
    spill bounded instead of evicting the machine's page cache mid-gate.
    ``SPARK_GRAFT_ORACLE_MEM`` sets the ceiling (default 16GB). Spills go
    to a temp dir of this connection's own, removed with it, so oracles
    running side by side never share one."""
    import duckdb

    with tempfile.TemporaryDirectory(prefix="duckdb-") as spill:
        con = duckdb.connect()
        try:
            mem = os.environ.get("SPARK_GRAFT_ORACLE_MEM", "16GB")
            con.execute(f"SET memory_limit = '{mem}'")
            con.execute(f"SET temp_directory = '{spill}'")
            for t in TABLES:
                p = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            yield con
        finally:
            con.close()


def fetch_oracle(rel):
    """(columns, row-tuples, hugeint column names) from a DuckDB relation,
    fetched via Arrow so type-level divergence survives into the compare."""
    tbl = rel.arrow()
    cols = list(tbl.column_names)
    # per-column fetch, NOT to_pylist(): a row-dict collapses duplicate
    # output names (q39's twin inv1/inv2 columns) to the last value.
    rows = list(zip(*[col.to_pylist() for col in tbl.columns])) if cols else []
    return cols, rows, hugeint_columns(tbl)


def _first_mismatch(mode: str, sn: list, on: list) -> dict | None:
    """The first differing row of two normalized row lists, or None."""
    for i, (a, b) in enumerate(zip_longest(sn, on)):
        if a != b:
            return {"mode": mode, "row": i,
                    "spark": repr(a)[:300], "oracle": repr(b)[:300]}
    return None


def compare_query(spark_df, oracle_con, oracle_sql: str) -> dict:
    """Run both sides; return a CORRECTNESS record.

    Calls ``spark_df.collect()`` exactly once and triggers no other
    Spark action. Never raises: an error is recorded in ``err``. Read
    the verdict with :func:`failures`."""
    rec = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
    }
    try:
        s_cols = list(spark_df.columns)
        # output-type hazards the CORRECTNESS hash and canonicalizer
        # trip on even when values match (reasons spelled out in failures())
        dec_cols = decimal_output_columns(spark_df)
        if dec_cols:
            rec["decimal_output"] = dec_cols
        cplx_cols = complex_output_columns(spark_df)
        if cplx_cols:
            rec["complex_output"] = cplx_cols
        s_rows = [tuple(r) for r in spark_df.collect()]
        rec["spark_rows"] = len(s_rows)
        # driver-canon pre-flight: the driver's own sort_values must
        # succeed on these rows or this records the same error it would
        driver_canon_check(s_cols, s_rows)
        o_cols, o_rows, hugeints = fetch_oracle(oracle_con.sql(oracle_sql))
        if hugeints:
            rec["hugeint"] = hugeints
        rec["oracle_rows"] = len(o_rows)
        rec["rows_match"] = len(s_rows) == len(o_rows)
        rec["schema_match"] = sorted(s_cols) == sorted(o_cols)
        if not rec["schema_match"]:
            rec["columns"] = {"spark": sorted(s_cols), "oracle": sorted(o_cols)}
        _, sn = normalize(s_cols, s_rows)
        _, on = normalize(o_cols, o_rows)
        rec["hash_match"] = (
            rec["rows_match"]
            and rec["schema_match"]
            and sn == on
            and not dec_cols
            and not cplx_cols
        )
        # Second, stricter mode recorded alongside (never gates): rows
        # hashed in RETURNED order. True for fully-ORDER-BY-determined
        # outputs; False only flags order-underdetermined queries — the
        # class that would diverge IF the driver's hash is row-order
        # sensitive.
        _, sn_o = normalize(s_cols, s_rows, sort_rows=False)
        _, on_o = normalize(o_cols, o_rows, sort_rows=False)
        rec["ordered_match"] = bool(rec["hash_match"]) and sn_o == on_o
        # Third mode, gated by failures() outside a named whitelist:
        # float cells compared BIT-EXACT. False while hash_match is True
        # means the 9dp/12sg normalization is load-bearing — the
        # cross-engine float divergence class the CORRECTNESS hash
        # might not absorb.
        _, sn_s = normalize(s_cols, s_rows, strict_floats=True)
        _, on_s = normalize(o_cols, o_rows, strict_floats=True)
        rec["float_strict_match"] = bool(rec["hash_match"]) and sn_s == on_s
        if rec["schema_match"]:
            rec["first_mismatch"] = _first_mismatch(
                "normalized", sn, on
            ) or _first_mismatch("float_strict", sn_s, on_s)
    except Exception as ex:  # recorded, not raised: the artifact shows it
        rec["err"] = f"{type(ex).__name__}: {ex}"[:500]
    return rec


def failures(rec: dict, float_ulp_whitelisted: bool = False) -> list[str]:
    """Every reason a :func:`compare_query` record fails the gate; empty
    means pass. ``float_ulp_whitelisted`` lets a query whose floats match
    only after the 9dp/12sg normalization pass (a named-whitelist entry
    of the calling gate)."""
    out = []
    if rec.get("err"):
        out.append(f"error: {rec['err']}")
    if rec.get("decimal_output"):
        out.append(
            f"bare DecimalType output column(s) {rec['decimal_output']}: the "
            "CORRECTNESS hash diverges on decimal representation even when "
            "values match (round-6 q12/q20/q37) — pin to DOUBLE/BIGINT"
        )
    if rec.get("complex_output"):
        out.append(
            f"complex-typed output column(s) {rec['complex_output']}: the "
            "CORRECTNESS pandas canonicalizer cannot sort array/map/struct "
            "cells (round-10 emb_random_projection) — flatten to scalars"
        )
    if rec.get("hugeint"):
        out.append(
            f"oracle emits HUGEINT (decimal128(38,0)) column(s) "
            f"{rec['hugeint']}: wrap the SUM(int)/factorial() in "
            "CAST(... AS BIGINT)"
        )
    if rec.get("oracle_rows") is None:
        # failed before the oracle ran
        if not out:
            out.append("query did not run")
        return out
    if rec.get("columns"):
        out.append(
            f"column mismatch: spark={rec['columns']['spark']} "
            f"oracle={rec['columns']['oracle']}"
        )
    if not rec.get("rows_match"):
        out.append(
            f"row count mismatch: spark={rec['spark_rows']} "
            f"oracle={rec['oracle_rows']}"
        )
    m = rec.get("first_mismatch")
    if m and (m["mode"] == "normalized" or not float_ulp_whitelisted):
        what = (
            "value mismatch" if m["mode"] == "normalized"
            else "FLOAT-STRICT mismatch (values agree only after 9dp/12sg "
            "normalization — round on both sides in the query itself)"
        )
        out.append(
            f"{what} at sorted row {m['row']}:\n spark ={m['spark']}\n "
            f"oracle={m['oracle']}"
        )
    if not out and not rec.get("hash_match"):
        out.append("hash mismatch")
    return out
