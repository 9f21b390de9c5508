"""Set-op / grouping / join-type / misc relational inventory (SURVEY §2.4, §2.5, §2.7).

Reference surface: INTERSECT/EXCEPT lowered to semi/anti joins
(datafusion_common.proto:85-87), GROUPING SETS / CUBE / ROLLUP
(datafusion.proto:463-474; an explicit sets list plans the same Expand as
CUBE and ROLLUP), DISTINCT ON (:258-268), VALUES + empty relation
(:219-223,159-162), LIMIT/OFFSET (:354-361), full/right outer + nested-loop
theta joins (datafusion_common.proto:80-92, datafusion.proto:1359-1366),
NULLS FIRST/LAST sorts (:139-145), generate_series (:1453-1498). UNION ALL
and UNION (datafusion.proto:345-348,1213-1220) run in the tpcds_q5, q35
and q45 shapes and in dedup_containment.

Scale notes: set ops shuffle on the full row (the same plan any engine
needs); grouping sets expand rows by the number of sets before the shuffle
(bounded multiplier); the theta join deliberately keeps its nested-loop side
a literal handful of rows — an unbounded nested-loop side is a plan bug, not
a data problem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_ballista_spark.inventory import QuerySpec
from datafusion_ballista_spark.inventory.util import D, dsum, not_in_join, tables


def rel_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT (distinct): customers active in both 1996 and 1997."""
    t = tables(spark, sf, "orders")
    y96 = t.orders.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    y97 = t.orders.where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey")
    return y96.intersect(y97).orderBy("o_custkey")


REL_INTERSECT_SQL = """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
ORDER BY o_custkey
"""


def rel_except_all(spark: SparkSession, sf: str) -> DataFrame:
    """EXCEPT ALL (bag semantics: multiplicities subtract)."""
    t = tables(spark, sf, "orders")
    all_cust = t.orders.select("o_custkey")
    urgent = t.orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        all_cust.exceptAll(urgent)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_custkey")
    )


REL_EXCEPT_ALL_SQL = """
SELECT o_custkey, COUNT(*) AS n FROM (
  SELECT o_custkey FROM orders
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY o_custkey
ORDER BY o_custkey
"""


def rel_intersect_all(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT ALL (bag semantics: min of multiplicities)."""
    t = tables(spark, sf, "lineitem")
    a = t.lineitem.where(F.col("l_quantity") <= 25).select("l_suppkey")
    b = t.lineitem.where(F.col("l_quantity") >= 20).select("l_suppkey")
    return (
        a.intersectAll(b)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("l_suppkey")
    )


REL_INTERSECT_ALL_SQL = """
SELECT l_suppkey, COUNT(*) AS n FROM (
  SELECT l_suppkey FROM lineitem WHERE l_quantity <= 25
  INTERSECT ALL
  SELECT l_suppkey FROM lineitem WHERE l_quantity >= 20)
GROUP BY l_suppkey
ORDER BY l_suppkey
"""


def rel_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP with GROUPING() markers (datafusion.proto:463-474)."""
    t = tables(spark, sf, "orders")
    return (
        t.orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(D("o_totalprice"), "total"),
            F.grouping("o_orderpriority").cast("int").alias("g_pri"),
            F.grouping("o_orderstatus").cast("int").alias("g_st"),
        )
        .orderBy("g_pri", "g_st", "o_orderpriority", "o_orderstatus")
    )


REL_ROLLUP_SQL = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri,
  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus
"""


def rel_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over two dimensions."""
    e = tables(spark, sf, "events").events.where(F.col("user_id") < 50)
    return (
        e.cube("event_type", (F.col("user_id") % 5).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(D("value"), "total_value"),
        )
        .orderBy("event_type", "user_bucket")
    )


REL_CUBE_SQL = """
SELECT event_type, user_id % 5 AS user_bucket, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events WHERE user_id < 50
GROUP BY CUBE (event_type, user_id % 5)
ORDER BY event_type NULLS FIRST, user_bucket NULLS FIRST
"""


def rel_distinct_on(spark: SparkSession, sf: str) -> DataFrame:
    """DISTINCT ON rewrite: row_number()=1 per key (Spark has no DISTINCT ON;
    the DuckDB oracle runs the native form — both must agree)."""
    from pyspark.sql import Window

    e = tables(spark, sf, "events").events
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.asc("event_id"))
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    )


REL_DISTINCT_ON_SQL = """
SELECT DISTINCT ON (user_id) user_id, event_id, event_type, value
FROM events
ORDER BY user_id, ts DESC, event_id
"""


def rel_values_inmem(spark: SparkSession, sf: str) -> DataFrame:
    """VALUES list / in-memory table scan joined against a fixture table."""
    bands = spark.createDataFrame(
        [(0, 100.0, "small"), (100, 1000.0, "medium"), (1000, 1.0e9, "large")],
        "lo int, hi double, label string",
    )
    t = tables(spark, sf, "orders")
    return (
        t.orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label")
    )


REL_VALUES_SQL = """
SELECT label, COUNT(*) AS n
FROM orders
JOIN (VALUES (0, 100.0, 'small'), (100, 1000.0, 'medium'),
             (1000, 1000000000.0, 'large')) AS bands(lo, hi, label)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY label
ORDER BY label
"""


def rel_empty_relation(spark: SparkSession, sf: str) -> DataFrame:
    """Aggregate over an empty relation (COUNT=0, SUM=NULL)."""
    t = tables(spark, sf, "orders")
    return t.orders.where(F.lit(False)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(D("o_totalprice")).cast("double").alias("s"),
    )


REL_EMPTY_SQL = """
SELECT COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
FROM orders WHERE FALSE
"""


def rel_offset(spark: SparkSession, sf: str) -> DataFrame:
    """LIMIT/OFFSET pagination over a total order (datafusion.proto:354-361)."""
    t = tables(spark, sf, "orders")
    return (
        t.orders.select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(10)
        .limit(20)
    )


REL_OFFSET_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_orderkey LIMIT 20 OFFSET 10
"""


def rel_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER join of two aggregates with non-overlapping key sets."""
    t = tables(spark, sf, "customer", "supplier")
    c = (
        t.customer.where(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count(F.lit(1)).alias("rich_customers"))
    )
    s = t.supplier.groupBy(F.col("s_nationkey").alias("nk_s")).agg(
        F.count(F.lit(1)).alias("suppliers")
    )
    return (
        c.join(s, F.col("nk_c") == F.col("nk_s"), "full_outer")
        .select(
            F.coalesce("nk_c", "nk_s").alias("nationkey"),
            "rich_customers",
            "suppliers",
        )
        .orderBy("nationkey")
    )


REL_FULL_OUTER_SQL = """
SELECT COALESCE(nk_c, nk_s) AS nationkey, rich_customers, suppliers
FROM (SELECT c_nationkey AS nk_c, COUNT(*) AS rich_customers
      FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey) c
FULL OUTER JOIN
     (SELECT s_nationkey AS nk_s, COUNT(*) AS suppliers
      FROM supplier GROUP BY s_nationkey) s
  ON nk_c = nk_s
ORDER BY nationkey
"""


def rel_right_outer(spark: SparkSession, sf: str) -> DataFrame:
    """RIGHT OUTER join: every part keeps its row even with no lineitems."""
    t = tables(spark, sf, "part", "lineitem")
    li = t.lineitem.where(F.col("l_quantity") > 49)
    return (
        li.join(t.part, F.col("l_partkey") == F.col("p_partkey"), "right_outer")
        .groupBy("p_partkey")
        .agg(F.count("l_orderkey").alias("n_heavy_lines"))
        .orderBy("p_partkey")
    )


REL_RIGHT_OUTER_SQL = """
SELECT p_partkey, COUNT(l_orderkey) AS n_heavy_lines
FROM (SELECT * FROM lineitem WHERE l_quantity > 49) li
RIGHT OUTER JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey
ORDER BY p_partkey
"""


def rel_theta_join(spark: SparkSession, sf: str) -> DataFrame:
    """Nested-loop theta join (non-equi, datafusion.proto:1359-1366):
    price-band lookup with strictly inequality predicates. The nested-loop
    side is a bounded literal table — broadcast is correct at any SF."""
    bands = spark.createDataFrame(
        [(0.0, 10.0), (10.0, 20.0), (20.0, 40.0), (40.0, 1.0e9)],
        "lo double, hi double",
    )
    e = tables(spark, sf, "events").events
    return (
        e.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).alias("n"), dsum(D("value"), "total"))
        .orderBy("lo")
    )


REL_THETA_SQL = """
SELECT CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events
JOIN (VALUES (0.0, 10.0), (10.0, 20.0), (20.0, 40.0), (40.0, 1000000000.0))
  AS bands(lo, hi)
  ON value >= lo AND value < hi
GROUP BY lo, hi
ORDER BY lo
"""


def rel_null_ordering(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-key sort with explicit NULLS FIRST / NULLS LAST."""
    e = tables(spark, sf, "events").events.where(F.col("user_id") < 5)
    out = e.select(
        "event_id",
        F.when(F.col("event_type") != "error", F.col("event_type")).alias("et_n"),
        "value",
    )
    return out.orderBy(
        F.col("et_n").asc_nulls_first(),
        F.col("value").desc_nulls_last(),
        F.col("event_id"),
    )


REL_NULL_ORDERING_SQL = """
SELECT event_id,
  CASE WHEN event_type <> 'error' THEN event_type END AS et_n,
  value
FROM events WHERE user_id < 5
ORDER BY et_n ASC NULLS FIRST, value DESC NULLS LAST, event_id
"""


def rel_not_in_nulls(spark: SparkSession, sf: str) -> DataFrame:
    """NOT IN over a null-bearing subquery: three-valued logic makes the
    result empty — a plain left_anti would wrongly return rows."""
    t = tables(spark, sf, "customer", "orders")
    with_null = t.orders.select(F.nullif(F.col("o_custkey"), F.lit(42)).alias("k"))
    return (
        not_in_join(t.customer, "c_custkey", with_null, "k")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


REL_NOT_IN_NULLS_SQL = """
SELECT c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 42) FROM orders)
ORDER BY c_custkey
"""


def rel_generate_series(spark: SparkSession, sf: str) -> DataFrame:
    """generate_series/range (datafusion.proto:1453-1498): date spine join —
    every day of January 2024 with its event count (gaps kept as zero)."""
    e = tables(spark, sf, "events").events
    days = spark.range(0, 31).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d")
    )
    per_day = e.groupBy(F.col("ts").cast("date").alias("d2")).agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    return (
        days.join(per_day, F.col("d") == F.col("d2"), "left")
        .select("d", F.coalesce("n_raw", F.lit(0)).alias("n"))
        .orderBy("d")
    )


REL_GENERATE_SERIES_SQL = """
SELECT d, COALESCE(n_raw, 0) AS n
FROM (SELECT (DATE '2024-01-01' + INTERVAL (i) DAY)::DATE AS d
      FROM generate_series(0, 30) AS t(i)) days
LEFT JOIN (SELECT ts::DATE AS d2, COUNT(*) AS n_raw FROM events GROUP BY 1) e
  ON d = d2
ORDER BY d
"""


def rel_salted_skew_join(spark: SparkSession, sf: str) -> DataFrame:
    """Manual skew salting — the pre-AQE mitigation, kept as an explicit
    operator because extreme single-key skew can exceed even AQE's
    split-threshold heuristics. The fact side's join key is deliberately
    collapsed to 5 hot values (user_id % 5); instead of 5 monster shuffle
    partitions, the fact key becomes (key, salt=event_id % 8) and the dim
    side is exploded x8, so each hot key spreads over 8 tasks. The result
    is provably identical to the unsalted join — the oracle IS the
    unsalted join.

    Scale: salt fan-out multiplies the small dim (5 rows -> 40), never the
    fact; aggregate runs map-side-partial on the salted key then final on
    the real key."""
    e = tables(spark, sf, "events").events
    fact = e.select(
        (F.col("user_id") % 5).alias("hot_key"),
        (F.col("event_id") % 8).alias("salt"),
        D("value", 18, 2).alias("v"),
    )
    dim = spark.createDataFrame(
        [(i, f"segment_{i}") for i in range(5)], ["d_key", "segment"]
    )
    dim_salted = dim.crossJoin(
        spark.range(8).select(F.col("id").cast("int").alias("salt"))
    )
    return (
        fact.join(
            F.broadcast(dim_salted),
            (F.col("hot_key") == F.col("d_key")) & (fact.salt == dim_salted.salt),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("double").alias("total"),
        )
        .orderBy("segment")
    )


REL_SALTED_SKEW_SQL = """
SELECT 'segment_' || CAST(user_id % 5 AS VARCHAR) AS segment,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events
GROUP BY 1
ORDER BY segment
"""


QUERIES: dict[str, QuerySpec] = {
    "rel_intersect": QuerySpec(rel_intersect, REL_INTERSECT_SQL),
    "rel_intersect_all": QuerySpec(rel_intersect_all, REL_INTERSECT_ALL_SQL),
    "rel_except_all": QuerySpec(rel_except_all, REL_EXCEPT_ALL_SQL),
    "rel_rollup": QuerySpec(rel_rollup, REL_ROLLUP_SQL),
    "rel_cube": QuerySpec(rel_cube, REL_CUBE_SQL),
    "rel_distinct_on": QuerySpec(rel_distinct_on, REL_DISTINCT_ON_SQL),
    "rel_values_inmem": QuerySpec(rel_values_inmem, REL_VALUES_SQL),
    "rel_empty_relation": QuerySpec(rel_empty_relation, REL_EMPTY_SQL),
    "rel_offset": QuerySpec(rel_offset, REL_OFFSET_SQL),
    "rel_full_outer": QuerySpec(rel_full_outer, REL_FULL_OUTER_SQL),
    "rel_right_outer": QuerySpec(rel_right_outer, REL_RIGHT_OUTER_SQL),
    "rel_theta_join": QuerySpec(rel_theta_join, REL_THETA_SQL),
    "rel_null_ordering": QuerySpec(rel_null_ordering, REL_NULL_ORDERING_SQL),
    "rel_not_in_nulls": QuerySpec(rel_not_in_nulls, REL_NOT_IN_NULLS_SQL),
    "rel_generate_series": QuerySpec(rel_generate_series, REL_GENERATE_SERIES_SQL),
    "rel_salted_skew_join": QuerySpec(rel_salted_skew_join, REL_SALTED_SKEW_SQL),
}
