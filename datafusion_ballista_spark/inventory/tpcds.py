"""TPC-DS DataFrame analogues that add to the verbatim tier's plans.

The reference gates on the 99 published TPC-DS texts (reference
benchmarks/queries-tpcds/q1.sql..q99.sql, CI .github/workflows/tpcds.yml:55-74).
The registry runs those same texts as ``tpcds_real_qN`` over the committed
star fixture (inventory/tpcds_real*.py). The DataFrame analogues kept here
are the ones that still exercise something no other entry does.

The rule (tests/test_plans.py::test_feature_probes_are_not_subsumed)
covers every feature-probe module, this one included. An entry's
fingerprint is the set of plan classes, Scala objects, data-type kinds and
PythonUDF names in the toJSON() of its analyzed logical and static
physical plans (AQE off), plus the package functions outside inventory/
that its build enters. An analogue stays only while no other single entry's
fingerprint holds all of its own; a Spark upgrade or an edit that makes
one redundant turns the test red.

tests/test_plans.py::test_tpcds_shape_adds_an_operator pins, besides,
what each of the 20 analogues adds to its verbatim twin's plan:

- Sort — q5, q15, q45, q50, q66, q76, q80, q85, q90, q99: a global
  ORDER BY with no LIMIT, where the published text ends in
  ``ORDER BY ... LIMIT 100`` and plans a TakeOrderedAndProject instead
  (q90's twin, a one-row cross join of scalar counts, plans neither);
- TakeOrderedAndProject — q24, q39, q64, q71, q73, q98: the converse,
  a bounded top-k over a twin that sorts its whole output;
- BroadcastNestedLoopJoin — q23, q24: a 1-row scalar threshold
  (max spend, spine average) cross-joined onto the spine;
- Expand — q28: six quantity bands folded into one pass of
  ``COUNT(DISTINCT CASE ...)``, where the twin cross-joins six scalar blocks;
- Union — q35 (its twin has none) and q45 (IN-list OR IN-subquery);
- Window + WindowGroupLimit, with the Sort that feeds them — q79: a
  rank-filtered top-N per customer.

Fixture mapping: lineitem is the sales fact, ``l_linenumber % 3`` the
store/web/catalog channel and l_returnflag the returns channel; orders is
the customer/date side; part/supplier/nation/region are the dims.

Determinism contract: decimal sums, identical aliases both sides, unique
sort tiebreakers, ROUND on genuine double math (see inventory/__init__).
Scale: every entry is partial/final hash aggregates over bounded dim
joins; the only nested-loop sides are genuine 1-row scalars (whitelisted
in the plan audit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_ballista_spark.inventory import QuerySpec
from datafusion_ballista_spark.inventory.util import D, davg, dsum, tables


# Channel split — the fixture analogue of TPC-DS's store/web/catalog fact
# tables. The regenerated lineitem fixture carries no shipmode column, so
# the channel key is the deterministic l_linenumber % 3.
_STORE, _WEB, _CATALOG = 0, 1, 2


_REV_SQL = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))"


def _chan(k: int):
    return F.col("l_linenumber") % 3 == k


def _chan_sql(k: int) -> str:
    return f"l_linenumber % 3 = {k}"


def _rev():
    return D(F.col("l_extendedprice") * (1 - F.col("l_discount")), 27, 4)


# --------------------------------------------------------------------------
# q5 shape: three channels UNION ALL'd into a (sales, returns) ledger,
# ROLLUP over (channel, id). reference: benchmarks/queries-tpcds/q5.sql
# --------------------------------------------------------------------------
def tpcds_q5_shape(spark: SparkSession, sf: str) -> DataFrame:
    """Channel profit report: store (lineitem via supplier nation),
    catalog (orders via customer nation), web (events by synthetic nation),
    ROLLUP(channel, nation) — ds q5's salesreturns fan-out."""
    t = tables(spark, sf, "lineitem", "supplier", "orders", "customer", "events")
    store = (
        t.lineitem.join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.lit("store").alias("channel"),
            F.col("s_nationkey").cast("int").alias("nation"),
            F.when(F.col("l_returnflag") != "R", _rev())
            .otherwise(F.lit(0).cast("decimal(27,4)"))
            .alias("sales"),
            F.when(F.col("l_returnflag") == "R", _rev())
            .otherwise(F.lit(0).cast("decimal(27,4)"))
            .alias("returns"),
        )
    )
    catalog = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.lit("catalog").alias("channel"),
            F.col("c_nationkey").cast("int").alias("nation"),
            D("o_totalprice", 27, 4).alias("sales"),
            F.lit(0).cast("decimal(27,4)").alias("returns"),
        )
    )
    web = t.events.select(
        F.lit("web").alias("channel"),
        (F.col("user_id") % 25).cast("int").alias("nation"),
        F.when(F.col("event_type") == "purchase", D("value", 27, 4))
        .otherwise(F.lit(0).cast("decimal(27,4)"))
        .alias("sales"),
        F.when(F.col("event_type") == "error", D("value", 27, 4))
        .otherwise(F.lit(0).cast("decimal(27,4)"))
        .alias("returns"),
    )
    ledger = store.unionAll(catalog).unionAll(web)
    return (
        ledger.rollup("channel", "nation")
        .agg(
            dsum(F.col("sales"), "total_sales"),
            dsum(F.col("returns"), "total_returns"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(
            F.col("channel").asc_nulls_first(), F.col("nation").asc_nulls_first()
        )
    )


TPCDS_Q5_SQL = f"""
WITH ledger AS (
  SELECT 'store' AS channel, CAST(s_nationkey AS INTEGER) AS nation,
    CASE WHEN l_returnflag <> 'R' THEN {_REV_SQL}
         ELSE CAST(0 AS DECIMAL(27,4)) END AS sales,
    CASE WHEN l_returnflag = 'R' THEN {_REV_SQL}
         ELSE CAST(0 AS DECIMAL(27,4)) END AS returns
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  UNION ALL
  SELECT 'catalog', CAST(c_nationkey AS INTEGER),
    CAST(o_totalprice AS DECIMAL(27,4)), CAST(0 AS DECIMAL(27,4))
  FROM orders JOIN customer ON o_custkey = c_custkey
  UNION ALL
  SELECT 'web', CAST(user_id % 25 AS INTEGER),
    CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(27,4))
         ELSE CAST(0 AS DECIMAL(27,4)) END,
    CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(27,4))
         ELSE CAST(0 AS DECIMAL(27,4)) END
  FROM events)
SELECT channel, nation,
  CAST(SUM(sales) AS DOUBLE) AS total_sales,
  CAST(SUM(returns) AS DOUBLE) AS total_returns,
  COUNT(*) AS n_rows
FROM ledger
GROUP BY ROLLUP (channel, nation)
ORDER BY channel ASC NULLS FIRST, nation ASC NULLS FIRST
"""


def tpcds_q15_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q15: per-nation Q1-1995 revenue where a row qualifies through
    ANY of three heterogeneous predicates — a key bucket, a balance
    threshold, or an order-size threshold."""
    t = tables(spark, sf, "orders", "customer", "nation")
    q = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .where(
            (F.year("o_orderdate") == 1995)
            & (F.quarter("o_orderdate") == 1)
            & (
                (F.col("c_custkey") % 100 < 5)
                | (F.col("c_acctbal") > 9000)
                | (F.col("o_totalprice") > 400000)
            )
        )
    )
    return (
        q.groupBy("n_name")
        .agg(
            F.sum(D("o_totalprice")).cast("double").alias("total_sales"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


TPCDS_Q15_SQL = """
SELECT n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_sales,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE year(o_orderdate) = 1995 AND quarter(o_orderdate) = 1
  AND (c_custkey % 100 < 5 OR c_acctbal > 9000 OR o_totalprice > 400000)
GROUP BY n_name
ORDER BY n_name
"""


# --------------------------------------------------------------------------
# q23 shape: frequent-items CTE (HAVING), max-sales scalar CTE, best-customer
# CTE (threshold-of-max HAVING), two-channel UNION ALL double semi-join.
# reference: benchmarks/queries-tpcds/q23.sql
# --------------------------------------------------------------------------
def tpcds_q23_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q23's cross-channel promotional-sales reduction: parts sold
    often (HAVING COUNT > 35), customers spending above 50% of the max
    customer spend (scalar-subquery threshold), then revenue from two
    channels restricted to both sets via semi-joins and UNION ALL'd into
    one row. The max-spend threshold is a genuine 1-row broadcast; both
    membership probes are key-shuffled semi-joins."""
    t = tables(spark, sf, "lineitem", "orders")
    li, o = t.lineitem, t.orders
    freq = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 35)
        .select("l_partkey")
    )
    sale = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    per_cust = sale.groupBy("o_custkey").agg(
        F.sum(D("l_extendedprice")).alias("csales")
    )
    mx = per_cust.agg(F.max("csales").alias("cmax"))
    best = (
        per_cust.crossJoin(F.broadcast(mx))
        .where(F.col("csales") * 2 > F.col("cmax"))
        .select("o_custkey")
    )

    def channel(modes: int) -> DataFrame:
        return (
            sale.where(
                _chan(modes) & (F.year("o_orderdate") == 1995)
            )
            .join(freq, "l_partkey", "left_semi")
            .join(best, "o_custkey", "left_semi")
            .select(
                D(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    27,
                    4,
                ).alias("sales")
            )
        )

    u = channel(_WEB).unionAll(channel(_CATALOG))
    return u.agg(
        F.sum("sales").cast("double").alias("total_sales"),
        F.count(F.lit(1)).alias("n_rows"),
    )


TPCDS_Q23_SQL = f"""
WITH freq AS (
  SELECT l_partkey FROM lineitem GROUP BY l_partkey HAVING COUNT(*) > 35),
sale AS (
  SELECT l_orderkey, l_partkey, l_linenumber, l_extendedprice, l_discount,
         o_custkey, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
per_cust AS (
  SELECT o_custkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS csales
  FROM sale GROUP BY o_custkey),
best AS (
  SELECT o_custkey FROM per_cust
  WHERE csales * 2 > (SELECT MAX(csales) FROM per_cust)),
u AS (
  SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4)) AS sales
  FROM sale
  WHERE {_chan_sql(_WEB)} AND year(o_orderdate) = 1995
    AND l_partkey IN (SELECT l_partkey FROM freq)
    AND o_custkey IN (SELECT o_custkey FROM best)
  UNION ALL
  SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4)) AS sales
  FROM sale
  WHERE {_chan_sql(_CATALOG)} AND year(o_orderdate) = 1995
    AND l_partkey IN (SELECT l_partkey FROM freq)
    AND o_custkey IN (SELECT o_custkey FROM best))
SELECT CAST(SUM(sales) AS DOUBLE) AS total_sales, COUNT(*) AS n_rows FROM u
"""


def tpcds_q24_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q24: per-(customer, part) revenue spine kept where it exceeds
    3x the spine-wide average — the HAVING-above-scalar-average gate as
    a 1-row broadcast threshold (decimal cross-multiplied)."""
    t = tables(spark, sf, "lineitem", "orders")
    spine = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum(_rev()).alias("paid"))
    )
    avg_row = spine.agg(
        F.sum("paid").alias("paid_sum"), F.count(F.lit(1)).alias("paid_cnt")
    )
    return (
        spine.crossJoin(F.broadcast(avg_row))
        .where(F.col("paid") * F.col("paid_cnt") > F.col("paid_sum") * 3)
        .select(
            "o_custkey", "l_partkey", F.col("paid").cast("double").alias("paid")
        )
        .orderBy("o_custkey", "l_partkey")
        .limit(100)
    )


TPCDS_Q24_SQL = f"""
WITH spine AS (
  SELECT o_custkey, l_partkey, SUM({_REV_SQL}) AS paid
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2),
thr AS (SELECT SUM(paid) AS paid_sum, COUNT(*) AS paid_cnt FROM spine)
SELECT o_custkey, l_partkey, CAST(paid AS DOUBLE) AS paid
FROM spine, thr
WHERE paid * paid_cnt > paid_sum * 3
ORDER BY o_custkey, l_partkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# q28: six band statistic blocks in one pass (avg / distinct / count).
# --------------------------------------------------------------------------
_Q28_BANDS = [(0, 5), (6, 10), (11, 15), (16, 20), (21, 25), (26, 30)]


def tpcds_q28_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q28's six list-price panels: per quantity band, the average
    extended price, the DISTINCT extended price count, and the row count.
    The reference cross-joins six scalar subqueries; here all eighteen
    statistics come from ONE scan (COUNT(DISTINCT CASE WHEN band THEN
    price END) keeps per-band distinct semantics — NULLs are ignored)."""
    li = tables(spark, sf, "lineitem").lineitem
    aggs = []
    for i, (lo, hi) in enumerate(_Q28_BANDS, start=1):
        band = F.col("l_quantity").between(lo, hi)
        priced = F.when(band, F.col("l_extendedprice"))
        n_band = F.sum(F.when(band, 1).otherwise(0))
        aggs += [
            # exact decimal sum / explicit band count — AVG(double) drifts
            # order-dependently at scale (an sf1-gate finding)
            F.round(
                F.sum(D(priced)).cast("double") / F.nullif(n_band, F.lit(0)), 6
            ).alias(f"avg_price_{i}"),
            F.countDistinct(priced).alias(f"distinct_prices_{i}"),
            n_band.alias(f"n_{i}"),
        ]
    return li.agg(*aggs)


def _q28_block_sql(i: int, lo: int, hi: int) -> str:
    b = f"l_quantity BETWEEN {lo} AND {hi}"
    return (
        f"ROUND(CAST(SUM(CAST(CASE WHEN {b} THEN l_extendedprice END"
        f" AS DECIMAL(18,2))) AS DOUBLE)"
        f" / NULLIF(SUM(CASE WHEN {b} THEN 1 ELSE 0 END), 0), 6)"
        f" AS avg_price_{i}, "
        f"COUNT(DISTINCT CASE WHEN {b} THEN l_extendedprice END)"
        f" AS distinct_prices_{i}, "
        f"CAST(SUM(CASE WHEN {b} THEN 1 ELSE 0 END) AS BIGINT) AS n_{i}"
    )


TPCDS_Q28_SQL = (
    "SELECT "
    + ", ".join(
        _q28_block_sql(i, lo, hi)
        for i, (lo, hi) in enumerate(_Q28_BANDS, start=1)
    )
    + " FROM lineitem"
)


# --------------------------------------------------------------------------
# q35 shape: OR of two correlated EXISTS + multi-stat conditional aggregate.
# reference: benchmarks/queries-tpcds/q35.sql
# --------------------------------------------------------------------------
def tpcds_q35_shape(spark: SparkSession, sf: str) -> DataFrame:
    """Customer demographics for customers active in EITHER channel — ds
    q35's (EXISTS ws OR EXISTS cs) decorrelated as a semi join against the
    union of both channels' key sets, then count/avg/max/min stats."""
    t = tables(spark, sf, "orders", "customer")
    urgent_keys = t.orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(F.col("o_custkey"))
    big_keys = t.orders.where(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey")
    )
    active = urgent_keys.unionAll(big_keys)
    return (
        t.customer.join(
            active, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            davg(D("c_acctbal"), "avg_bal"),
            F.max("c_acctbal").alias("max_bal"),
            F.min("c_acctbal").alias("min_bal"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


TPCDS_Q35_SQL = """
SELECT c_nationkey, c_mktsegment,
  COUNT(*) AS n_cust,
  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
    AS avg_bal,
  MAX(c_acctbal) AS max_bal,
  MIN(c_acctbal) AS min_bal
FROM customer
WHERE EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey
      AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
   OR EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey
      AND o_totalprice > 300000)
GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""


# --------------------------------------------------------------------------
# q39 shape: per-month quantity mean/stddev per (supplier, part), adjacent
# months self-joined. reference: benchmarks/queries-tpcds/q39.sql
# --------------------------------------------------------------------------
def tpcds_q39_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q39's inventory-variance pairing: per (suppkey, partkey, month)
    quantity mean and sample stddev over 1995 shipments, then month-1
    stats joined to month-2 stats for pairs with >= 3 observations in
    both — the stats spine is tiny relative to the fact, so the self-join
    is aggregate-to-aggregate."""
    t = tables(spark, sf, "lineitem")
    li = t.lineitem.where(F.year("l_shipdate") == 1995)
    stats = (
        li.groupBy(
            "l_suppkey", "l_partkey", F.month("l_shipdate").alias("m")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            davg(D("l_quantity"), "qmean"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("qstd"),
        )
        .where(F.col("cnt") >= 3)
    )
    m1 = stats.where(F.col("m") == 1).select(
        "l_suppkey",
        "l_partkey",
        F.col("qmean").alias("mean1"),
        F.col("qstd").alias("std1"),
    )
    m2 = stats.where(F.col("m") == 2).select(
        F.col("l_suppkey").alias("s2"),
        F.col("l_partkey").alias("p2"),
        F.col("qmean").alias("mean2"),
        F.col("qstd").alias("std2"),
    )
    return (
        m1.join(
            m2,
            (F.col("l_suppkey") == F.col("s2"))
            & (F.col("l_partkey") == F.col("p2")),
        )
        .select("l_suppkey", "l_partkey", "mean1", "std1", "mean2", "std2")
        .orderBy("l_suppkey", "l_partkey")
        .limit(100)
    )


TPCDS_Q39_SQL = """
WITH stats AS (
  SELECT l_suppkey, l_partkey, month(l_shipdate) AS m, COUNT(*) AS cnt,
         ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS qmean,
         ROUND(STDDEV_SAMP(l_quantity), 6) AS qstd
  FROM lineitem WHERE year(l_shipdate) = 1995
  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3)
SELECT m1.l_suppkey, m1.l_partkey,
       m1.qmean AS mean1, m1.qstd AS std1,
       m2.qmean AS mean2, m2.qstd AS std2
FROM stats m1 JOIN stats m2
  ON m1.l_suppkey = m2.l_suppkey AND m1.l_partkey = m2.l_partkey
WHERE m1.m = 1 AND m2.m = 2
ORDER BY m1.l_suppkey, m1.l_partkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# q45: IN-list OR IN-subquery predicate.
# --------------------------------------------------------------------------
def tpcds_q45_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q45's either-source qualification: revenue per nation from
    customers qualifying EITHER by a literal key list OR by membership in
    a dim subquery (top-balance customers) — the OR of a local predicate
    and a membership probe, kept as one left-semi join against the
    union of both sources."""
    t = tables(spark, sf, "orders", "customer", "nation")
    literal_keys = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89]
    rich = t.customer.where(F.col("c_acctbal") > 9900).select("c_custkey")
    qualify = (
        t.customer.where(F.col("c_custkey").isin(literal_keys))
        .select("c_custkey")
        .unionAll(rich)
        .distinct()
        .withColumnRenamed("c_custkey", "qk")
    )
    return (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(qualify, F.col("c_custkey") == F.col("qk"), "left_semi")
        .join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(D("o_totalprice")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


_Q45_KEYS = "1, 2, 3, 5, 8, 13, 21, 34, 55, 89"


TPCDS_Q45_SQL = f"""
SELECT n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey IN ({_Q45_KEYS})
   OR c_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9900)
GROUP BY n_name
ORDER BY n_name
"""


def _fact(spark, sf):
    t = tables(spark, sf, "lineitem", "orders")
    return t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))


# -- q50 (q99 family): returned-line lag buckets by nation ------------------
def tpcds_q50_shape(spark: SparkSession, sf: str) -> DataFrame:
    """q99 family restricted to returned lines, grouped by supplier
    nation (ds q50's store-vs-return lag census)."""
    t = tables(spark, sf, "supplier", "nation")
    lag_d = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    j = (
        _fact(spark, sf)
        .where(F.col("l_returnflag") == "R")
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t.nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", lag_d.alias("lag_d"))
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.sum(F.when(F.col("lag_d") <= 30, 1).otherwise(0)).alias("d30"),
            F.sum(
                F.when((F.col("lag_d") > 30) & (F.col("lag_d") <= 60), 1).otherwise(0)
            ).alias("d60"),
            F.sum(
                F.when((F.col("lag_d") > 60) & (F.col("lag_d") <= 90), 1).otherwise(0)
            ).alias("d90"),
            F.sum(F.when(F.col("lag_d") > 90, 1).otherwise(0)).alias("d_over_90"),
        )
        .orderBy("n_name")
    )


TPCDS_Q50_SQL = """
SELECT n_name,
  CAST(SUM(CASE WHEN lag_d <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
  CAST(SUM(CASE WHEN lag_d > 30 AND lag_d <= 60 THEN 1 ELSE 0 END)
       AS BIGINT) AS d60,
  CAST(SUM(CASE WHEN lag_d > 60 AND lag_d <= 90 THEN 1 ELSE 0 END)
       AS BIGINT) AS d90,
  CAST(SUM(CASE WHEN lag_d > 90 THEN 1 ELSE 0 END) AS BIGINT) AS d_over_90
FROM (SELECT n_name, date_diff('day', o_orderdate, l_shipdate) AS lag_d
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE l_returnflag = 'R')
GROUP BY n_name ORDER BY n_name
"""


# --------------------------------------------------------------------------
# q64 shape: one aggregate spine consumed twice, year y joined to year y+1.
# reference: benchmarks/queries-tpcds/q64.sql (cross_sales self-join)
# --------------------------------------------------------------------------
def tpcds_q64_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q64's repeated-join signature: the per-(part, year) sales spine
    (count, wholesale-ish sum, list-ish sum) is built once and self-joined
    1995->1996 keeping pairs where the later year sold at least as often —
    aggregate-to-aggregate join, never fact-to-fact."""
    t = tables(spark, sf, "lineitem", "orders", "part")
    li, o = t.lineitem, t.orders
    spine = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_partkey", F.year("o_orderdate").alias("y"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(D("l_extendedprice")).alias("s1"),
            F.sum(D(F.col("l_extendedprice") * (1 - F.col("l_discount")), 27, 4)).alias(
                "s2"
            ),
        )
    )
    a = spine.where(F.col("y") == 1995)
    b = spine.where(F.col("y") == 1996).select(
        F.col("l_partkey").alias("pk2"),
        F.col("cnt").alias("cnt2"),
        F.col("s1").alias("s1_2"),
        F.col("s2").alias("s2_2"),
    )
    return (
        a.join(b, (F.col("l_partkey") == F.col("pk2")) & (F.col("cnt2") >= F.col("cnt")))
        .join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_name",
            "l_partkey",
            "cnt",
            F.col("cnt2").alias("cnt_next"),
            F.col("s1").cast("double").alias("sale_1995"),
            F.col("s1_2").cast("double").alias("sale_1996"),
            F.col("s2").cast("double").alias("net_1995"),
            F.col("s2_2").cast("double").alias("net_1996"),
        )
        .orderBy("l_partkey")
        .limit(100)
    )


TPCDS_Q64_SQL = """
WITH spine AS (
  SELECT l_partkey, year(o_orderdate) AS y, COUNT(*) AS cnt,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s1,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))) AS s2
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2)
SELECT p_name, a.l_partkey, a.cnt, b.cnt AS cnt_next,
       CAST(a.s1 AS DOUBLE) AS sale_1995, CAST(b.s1 AS DOUBLE) AS sale_1996,
       CAST(a.s2 AS DOUBLE) AS net_1995, CAST(b.s2 AS DOUBLE) AS net_1996
FROM spine a
JOIN spine b ON a.l_partkey = b.l_partkey AND b.cnt >= a.cnt
JOIN part ON a.l_partkey = p_partkey
WHERE a.y = 1995 AND b.y = 1996
ORDER BY a.l_partkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# q66 shape: wide conditional aggregation — 12 month-bucketed sums in one
# aggregate pass. reference: benchmarks/queries-tpcds/q66.sql
# --------------------------------------------------------------------------
def tpcds_q66_shape(spark: SparkSession, sf: str) -> DataFrame:
    """Monthly sales pivot per customer nation: CAST(CAST(CAST(CAST(CAST(SUM(CASE WHEN month=i ...)
    x12 in a single aggregate — ds q66's jan_sales..dec_sales block."""
    t = tables(spark, sf, "orders", "customer")
    o = t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
    aggs = [
        dsum(
            F.when(F.month("o_orderdate") == i, D("o_totalprice"))
            .otherwise(F.lit(0).cast("decimal(18,2)")),
            f"m{i:02d}_sales",
        )
        for i in range(1, 13)
    ]
    return (
        o.groupBy(F.col("c_nationkey").cast("int").alias("nation"))
        .agg(*aggs)
        .orderBy("nation")
    )


_MONTH_COLS = ",\n  ".join(
    "CAST(SUM(CASE WHEN month(o_orderdate) = {i} "
    "THEN CAST(o_totalprice AS DECIMAL(18,2)) "
    "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS m{i:02d}_sales".format(i=i)
    for i in range(1, 13)
)


TPCDS_Q66_SQL = f"""
SELECT CAST(c_nationkey AS INTEGER) AS nation,
  {_MONTH_COLS}
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
ORDER BY nation
"""


# -- q71 (time-dim union): brand revenue across unioned date windows ------
def tpcds_q71_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q71: the time dimension assembled as a UNION of three windows
    (Dec 1995 / Jan 1996 / Feb 1996), revenue per (window, brand)."""
    t = tables(spark, sf, "part")
    base = _fact(spark, sf).join(
        t.part, F.col("l_partkey") == F.col("p_partkey")
    )

    def leg(y: int, m: int, tag: str) -> DataFrame:
        return base.where(
            (F.year("o_orderdate") == y) & (F.month("o_orderdate") == m)
        ).select(F.lit(tag).alias("t_window"), "p_brand", _rev().alias("rev"))

    u = (
        leg(1995, 12, "dec95")
        .unionAll(leg(1996, 1, "jan96"))
        .unionAll(leg(1996, 2, "feb96"))
    )
    return (
        u.groupBy("t_window", "p_brand")
        .agg(F.sum("rev").cast("double").alias("ext_price"))
        .orderBy("t_window", "p_brand")
        .limit(300)
    )


def _q71_leg_sql(y: int, m: int, tag: str) -> str:
    return f"""
  SELECT '{tag}' AS t_window, p_brand, {_REV_SQL} AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) = {y} AND month(o_orderdate) = {m}"""


TPCDS_Q71_SQL = (
    "SELECT t_window, p_brand, CAST(SUM(rev) AS DOUBLE) AS ext_price FROM ("
    + _q71_leg_sql(1995, 12, "dec95")
    + "\n  UNION ALL\n"
    + _q71_leg_sql(1996, 1, "jan96")
    + "\n  UNION ALL\n"
    + _q71_leg_sql(1996, 2, "feb96")
    + "\n) u GROUP BY t_window, p_brand ORDER BY t_window, p_brand LIMIT 300"
)


# -- q73/q79 (q34 family): per-order line-count band + customer join -------
def tpcds_q73_shape(spark: SparkSession, sf: str) -> DataFrame:
    """q34 family with a tighter band (ds q73): orders of 5-8 lines."""
    t = tables(spark, sf, "customer")
    dn = (
        _fact(spark, sf)
        .groupBy("l_orderkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt").between(5, 8))
    )
    return (
        dn.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "l_orderkey", "cnt")
        .orderBy("c_name", "l_orderkey")
        .limit(100)
    )


TPCDS_Q73_SQL = """
SELECT c_name, l_orderkey, cnt FROM (
  SELECT l_orderkey, o_custkey, COUNT(*) AS cnt
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 5 AND 8) dn
JOIN customer ON o_custkey = c_custkey
ORDER BY c_name, l_orderkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# q76: heterogeneous filtered-projection union census.
# --------------------------------------------------------------------------
def tpcds_q76_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q76's null-column census: three differently-filtered
    projections of the fact (zero-discount, zero-tax, returned) UNION
    ALL'd with a reason tag and counted per (channel, reason) with the
    revenue at stake."""
    li = tables(spark, sf, "lineitem").lineitem
    chan = (
        F.when(F.col("l_linenumber") % 3 == _STORE, "store")
        .when(F.col("l_linenumber") % 3 == _WEB, "web")
        .otherwise("catalog")
    )

    def leg(cond, reason: str) -> DataFrame:
        return li.where(cond).select(
            chan.alias("channel"),
            F.lit(reason).alias("reason"),
            _rev().alias("rev"),
        )

    u = (
        leg(F.col("l_discount") == 0.0, "no_discount")
        .unionAll(leg(F.col("l_tax") == 0.0, "no_tax"))
        .unionAll(leg(F.col("l_returnflag") == "R", "returned"))
    )
    return (
        u.groupBy("channel", "reason")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("rev").cast("double").alias("revenue"),
        )
        .orderBy("channel", "reason")
    )


def _q76_leg_sql(cond: str, reason: str) -> str:
    return f"""
  SELECT CASE l_linenumber % 3 WHEN {_STORE} THEN 'store'
              WHEN {_WEB} THEN 'web' ELSE 'catalog' END AS channel,
         '{reason}' AS reason, {_REV_SQL} AS rev
  FROM lineitem WHERE {cond}"""


TPCDS_Q76_SQL = (
    "SELECT channel, reason, COUNT(*) AS n_rows, "
    "CAST(SUM(rev) AS DOUBLE) AS revenue FROM ("
    + _q76_leg_sql("l_discount = 0.0", "no_discount")
    + "\n  UNION ALL\n"
    + _q76_leg_sql("l_tax = 0.0", "no_tax")
    + "\n  UNION ALL\n"
    + _q76_leg_sql("l_returnflag = 'R'", "returned")
    + "\n) u GROUP BY channel, reason ORDER BY channel, reason"
)


def tpcds_q79_shape(spark: SparkSession, sf: str) -> DataFrame:
    """q34/q46 blend (ds q79): weekend per-order revenue aggregates,
    each customer's single largest order via a partitioned ranking."""
    t = tables(spark, sf, "customer")
    dn = (
        _fact(spark, sf)
        .where(F.dayofweek("o_orderdate").isin(1, 7))
        .groupBy("l_orderkey", "o_custkey")
        .agg(F.sum(_rev()).alias("amt"))
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("amt"), F.asc("l_orderkey"))
    top = dn.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    return (
        top.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "l_orderkey", F.col("amt").cast("double").alias("amt"))
        .orderBy("c_name", "l_orderkey")
        .limit(100)
    )


TPCDS_Q79_SQL = f"""
SELECT c_name, l_orderkey, CAST(amt AS DOUBLE) AS amt FROM (
  SELECT l_orderkey, o_custkey, amt,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY amt DESC, l_orderkey) AS rk
  FROM (SELECT l_orderkey, o_custkey, SUM({_REV_SQL}) AS amt
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE dayofweek(o_orderdate) IN (0, 6)
        GROUP BY 1, 2) dn) t
JOIN customer ON o_custkey = c_custkey
WHERE rk = 1
ORDER BY c_name, l_orderkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# q80 shape: channel P&L with returns LEFT JOIN, UNION, ROLLUP(channel).
# reference: benchmarks/queries-tpcds/q80.sql
# --------------------------------------------------------------------------
def tpcds_q80_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q80's channel P&L: per channel, every non-returned sale line
    LEFT JOINs the aggregated returned amount for its (order, part);
    sales / returns / profit roll up per channel and grand-total
    (ROLLUP over the 3-row channel spine). The returns side is a
    fact-to-aggregate join on the composite key."""
    t = tables(spark, sf, "lineitem", "orders")
    ret = (
        t.lineitem.where(F.col("l_returnflag") == "R")
        .groupBy(
            F.col("l_orderkey").alias("r_ok"), F.col("l_partkey").alias("r_pk")
        )
        .agg(F.sum(_rev()).alias("ret_amt"))
    )
    base = (
        t.lineitem.where(F.col("l_returnflag") != "R")
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.year("o_orderdate") == 1995)
        .join(
            ret,
            (F.col("l_orderkey") == F.col("r_ok"))
            & (F.col("l_partkey") == F.col("r_pk")),
            "left",
        )
        .select(
            (F.col("l_linenumber") % 3).alias("chan_id"),
            _rev().alias("sales"),
            F.coalesce(F.col("ret_amt"), F.lit(0).cast("decimal(27,4)")).alias(
                "returns"
            ),
        )
    )
    chan_name = (
        F.when(F.col("chan_id") == _STORE, "store")
        .when(F.col("chan_id") == _WEB, "web")
        .otherwise("catalog")
    )
    per_line = base.select(
        chan_name.alias("channel"), "sales", "returns"
    )
    return (
        per_line.rollup("channel")
        .agg(
            F.sum("sales").cast("double").alias("sales"),
            F.sum("returns").cast("double").alias("returns"),
            (F.sum("sales") - F.sum("returns")).cast("double").alias("profit"),
        )
        .orderBy(F.asc_nulls_first("channel"))
    )


TPCDS_Q80_SQL = f"""
WITH ret AS (
  SELECT l_orderkey AS r_ok, l_partkey AS r_pk, SUM({_REV_SQL}) AS ret_amt
  FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY 1, 2),
per_line AS (
  SELECT CASE l_linenumber % 3 WHEN {_STORE} THEN 'store'
              WHEN {_WEB} THEN 'web' ELSE 'catalog' END AS channel,
         {_REV_SQL} AS sales,
         COALESCE(ret_amt, CAST(0 AS DECIMAL(27,4))) AS returns
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  LEFT JOIN ret ON l_orderkey = r_ok AND l_partkey = r_pk
  WHERE l_returnflag <> 'R' AND year(o_orderdate) = 1995)
SELECT channel, CAST(SUM(sales) AS DOUBLE) AS sales,
       CAST(SUM(returns) AS DOUBLE) AS returns,
       CAST(SUM(sales) - SUM(returns) AS DOUBLE) AS profit
FROM per_line
GROUP BY ROLLUP (channel)
ORDER BY channel ASC NULLS FIRST
"""


# -- q85 (banded OR returns panel) ----------------------------------------
def tpcds_q85_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q85: averages over returned lines qualifying through any of
    three (quantity band AND discount band) conjunctions, per priority."""
    p = (
        (F.col("l_quantity").between(1, 15) & F.col("l_discount").between(0.0, 0.03))
        | (F.col("l_quantity").between(16, 30) & F.col("l_discount").between(0.03, 0.06))
        | (F.col("l_quantity").between(31, 50) & F.col("l_discount").between(0.06, 0.10))
    )
    return (
        _fact(spark, sf)
        .where((F.col("l_returnflag") == "R") & p)
        .groupBy("o_orderpriority")
        .agg(
            davg(D("l_quantity"), "avg_qty"),
            davg(D("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


TPCDS_Q85_SQL = """
SELECT o_orderpriority, ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc, COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
  AND ((l_quantity BETWEEN 1 AND 15 AND l_discount BETWEEN 0.0 AND 0.03)
    OR (l_quantity BETWEEN 16 AND 30 AND l_discount BETWEEN 0.03 AND 0.06)
    OR (l_quantity BETWEEN 31 AND 50 AND l_discount BETWEEN 0.06 AND 0.10))
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q90 shape: am/pm conditional-count ratio.
# reference: benchmarks/queries-tpcds/q90.sql
# --------------------------------------------------------------------------
def tpcds_q90_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q90's am_pm_ratio over the events table: morning (06-11) vs
    evening (18-23) event counts per type and their quotient — one
    conditional aggregate, ratio in DOUBLE on both sides."""
    e = tables(spark, sf, "events").events
    h = F.hour("ts")
    g = e.groupBy("event_type").agg(
        F.sum(F.when(h.between(6, 11), 1).otherwise(0)).alias("am_cnt"),
        F.sum(F.when(h.between(18, 23), 1).otherwise(0)).alias("pm_cnt"),
    )
    return g.select(
        "event_type",
        "am_cnt",
        "pm_cnt",
        F.round(
            F.col("am_cnt").cast("double")
            / F.nullif(F.col("pm_cnt"), F.lit(0)).cast("double"),
            6,
        ).alias("am_pm_ratio"),
    ).orderBy("event_type")


TPCDS_Q90_SQL = """
SELECT event_type,
  CAST(SUM(CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN 1 ELSE 0 END)
       AS BIGINT) AS am_cnt,
  CAST(SUM(CASE WHEN hour(ts) BETWEEN 18 AND 23 THEN 1 ELSE 0 END)
       AS BIGINT) AS pm_cnt,
  ROUND(CAST(SUM(CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN 1 ELSE 0 END)
             AS DOUBLE)
        / NULLIF(CAST(SUM(CASE WHEN hour(ts) BETWEEN 18 AND 23
                          THEN 1 ELSE 0 END) AS DOUBLE), 0), 6)
    AS am_pm_ratio
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# q98 shape: revenue share within class via window over aggregate.
# reference: benchmarks/queries-tpcds/q98.sql
# --------------------------------------------------------------------------
def tpcds_q98_shape(spark: SparkSession, sf: str) -> DataFrame:
    """ds q98's itemrevenue report: revenue per (type, brand) with each
    row's share of its type's total computed by a SUM window OVER the
    grouped rows (window-over-aggregate, partitioned by class — one
    shuffle on the class key)."""
    t = tables(spark, sf, "lineitem", "part")
    rev = (
        t.lineitem.where(F.year("l_shipdate") == 1995)
        .join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(
            F.sum(
                D(F.col("l_extendedprice") * (1 - F.col("l_discount")), 27, 4)
            ).alias("itemrevenue")
        )
    )
    w = Window.partitionBy("p_type")
    return (
        rev.select(
            "p_type",
            "p_brand",
            F.col("itemrevenue").cast("double").alias("itemrevenue"),
            F.round(
                F.col("itemrevenue").cast("double")
                * 100
                / F.sum("itemrevenue").over(w).cast("double"),
                6,
            ).alias("revenueratio"),
        )
        .orderBy("p_type", "p_brand")
        .limit(1000)
    )


TPCDS_Q98_SQL = """
WITH rev AS (
  SELECT p_type, p_brand,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4)))
           AS itemrevenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1995
  GROUP BY 1, 2)
SELECT p_type, p_brand, CAST(itemrevenue AS DOUBLE) AS itemrevenue,
       ROUND(CAST(itemrevenue AS DOUBLE) * 100
             / CAST(SUM(itemrevenue) OVER (PARTITION BY p_type) AS DOUBLE),
             6) AS revenueratio
FROM rev
ORDER BY p_type, p_brand
LIMIT 1000
"""


# --------------------------------------------------------------------------
# q99 shape: latency-bucket wide conditional aggregation.
# reference: benchmarks/queries-tpcds/q99.sql (days-to-ship buckets)
# --------------------------------------------------------------------------
def tpcds_q99_shape(spark: SparkSession, sf: str) -> DataFrame:
    """Days-to-ship histogram per priority — ds q99's 30/60/90/120-day
    CASE buckets as one wide conditional aggregate over the order-lineitem
    join (single pass, map-side partial)."""
    t = tables(spark, sf, "orders", "lineitem")
    j = t.lineitem.join(
        t.orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lag_d"),
    )

    def bucket(lo: int | None, hi: int | None, alias: str):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("lag_d") > lo)
        if hi is not None:
            cond = cond & (F.col("lag_d") <= hi)
        return F.sum(F.when(cond, 1).otherwise(0)).alias(alias)

    return (
        j.groupBy("o_orderpriority")
        .agg(
            bucket(None, 30, "d30"),
            bucket(30, 60, "d60"),
            bucket(60, 90, "d90"),
            bucket(90, 120, "d120"),
            bucket(120, None, "d_over_120"),
        )
        .orderBy("o_orderpriority")
    )


TPCDS_Q99_SQL = """
SELECT o_orderpriority,
  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
      THEN 1 ELSE 0 END) AS BIGINT) AS d30,
  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 30
       AND date_diff('day', o_orderdate, l_shipdate) <= 60
      THEN 1 ELSE 0 END) AS BIGINT) AS d60,
  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
       AND date_diff('day', o_orderdate, l_shipdate) <= 90
      THEN 1 ELSE 0 END) AS BIGINT) AS d90,
  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
       AND date_diff('day', o_orderdate, l_shipdate) <= 120
      THEN 1 ELSE 0 END) AS BIGINT) AS d120,
  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 120
      THEN 1 ELSE 0 END) AS BIGINT) AS d_over_120
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES: dict[str, QuerySpec] = {
    "tpcds_q5_shape": QuerySpec(tpcds_q5_shape, TPCDS_Q5_SQL),
    "tpcds_q15_shape": QuerySpec(tpcds_q15_shape, TPCDS_Q15_SQL),
    "tpcds_q23_shape": QuerySpec(tpcds_q23_shape, TPCDS_Q23_SQL),
    "tpcds_q24_shape": QuerySpec(tpcds_q24_shape, TPCDS_Q24_SQL),
    "tpcds_q28_shape": QuerySpec(tpcds_q28_shape, TPCDS_Q28_SQL),
    "tpcds_q35_shape": QuerySpec(tpcds_q35_shape, TPCDS_Q35_SQL),
    "tpcds_q39_shape": QuerySpec(tpcds_q39_shape, TPCDS_Q39_SQL),
    "tpcds_q45_shape": QuerySpec(tpcds_q45_shape, TPCDS_Q45_SQL),
    "tpcds_q50_shape": QuerySpec(tpcds_q50_shape, TPCDS_Q50_SQL),
    "tpcds_q64_shape": QuerySpec(tpcds_q64_shape, TPCDS_Q64_SQL),
    "tpcds_q66_shape": QuerySpec(tpcds_q66_shape, TPCDS_Q66_SQL),
    "tpcds_q71_shape": QuerySpec(tpcds_q71_shape, TPCDS_Q71_SQL),
    "tpcds_q73_shape": QuerySpec(tpcds_q73_shape, TPCDS_Q73_SQL),
    "tpcds_q76_shape": QuerySpec(tpcds_q76_shape, TPCDS_Q76_SQL),
    "tpcds_q79_shape": QuerySpec(tpcds_q79_shape, TPCDS_Q79_SQL),
    "tpcds_q80_shape": QuerySpec(tpcds_q80_shape, TPCDS_Q80_SQL),
    "tpcds_q85_shape": QuerySpec(tpcds_q85_shape, TPCDS_Q85_SQL),
    "tpcds_q90_shape": QuerySpec(tpcds_q90_shape, TPCDS_Q90_SQL),
    "tpcds_q98_shape": QuerySpec(tpcds_q98_shape, TPCDS_Q98_SQL),
    "tpcds_q99_shape": QuerySpec(tpcds_q99_shape, TPCDS_Q99_SQL),
}
