"""Write-path (sinks/DML) and non-parquet scan inventory (SURVEY §2.2).

Reference surface: CSV/JSON/Parquet sink nodes + INSERT INTO / COPY TO /
CTAS (datafusion.proto:834-869, :269-310; client tests
ballista/client/tests/context_checks.rs:448,596,657), CSV scan
(client fixture customer.csv), NDJSON scan (:1151-1154), Arrow IPC scan
(:1159-1162; context_checks.rs:1319), CREATE EXTERNAL TABLE DDL
(:163-180; context_checks.rs:381).

Each round-trip writes with the DISTRIBUTED writer (df.write — one file per
partition, exactly the 100 TB shape), reads the result back through the
matching scan, and aggregates; the oracle runs the same aggregate on the
ORIGINAL parquet, so a lossless round trip is exactly a hash match.
Outputs live under the application's scratch directory
(``sources.registry.scratch_dir``), one ``<sf-tag>/<leaf>`` each, are
overwritten when a builder runs again and go when the session stops.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_ballista_spark.inventory import QuerySpec
from datafusion_ballista_spark.inventory.util import D, dsum, tables
from datafusion_ballista_spark.sources.registry import scratch_dir


def _out(spark: SparkSession, sf: str, leaf: str) -> str:
    tag = os.path.basename(sf.rstrip("/")) or "sf"
    return os.path.join(scratch_dir(spark), tag, leaf)


def _orders_slice(spark: SparkSession, sf: str) -> DataFrame:
    return (
        tables(spark, sf, "orders")
        .orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    )


_ORDERS_AGG_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def _agg(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum(D("o_totalprice"), "total"))
        .orderBy("o_orderstatus")
    )


def write_parquet_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """df.write.parquet → read-back (datafusion.proto:866-869 ParquetSink)."""
    path = _out(spark, sf, "orders_parquet")
    _orders_slice(spark, sf).write.mode("overwrite").parquet(path)
    return _agg(spark.read.parquet(path))


def write_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """df.write.csv with header → schema-ful read-back (CsvSink :834-845)."""
    path = _out(spark, sf, "orders_csv")
    _orders_slice(spark, sf).write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderstatus", T.StringType()),
        ]
    )
    return _agg(spark.read.option("header", True).schema(schema).csv(path))


def write_json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """df.write.json → read-back (JsonSink :846-855)."""
    path = _out(spark, sf, "orders_json")
    _orders_slice(spark, sf).write.mode("overwrite").json(path)
    return _agg(spark.read.json(path).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    ))


def ctas_insert_sql(spark: SparkSession, sf: str) -> DataFrame:
    """DDL/DML through the SQL path: CREATE EXTERNAL TABLE (via the dialect
    rewrite) + INSERT INTO + read back (context_checks.rs:381,448,596)."""
    from datafusion_ballista_spark.sql import rewrite_sql

    path = _out(spark, sf, "orders_ctas")
    shutil.rmtree(path, ignore_errors=True)
    tables(spark, sf, "orders").orders.createOrReplaceTempView("io_orders_src")
    spark.sql("DROP TABLE IF EXISTS io_orders_tbl")
    spark.sql(
        rewrite_sql(
            "CREATE EXTERNAL TABLE io_orders_tbl "
            "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, "
            "o_orderstatus STRING) "
            f"STORED AS PARQUET LOCATION '{path}'"
        )
    )
    spark.sql(
        "INSERT INTO io_orders_tbl "
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus "
        "FROM io_orders_src WHERE o_orderpriority = '1-URGENT'"
    )
    return _agg(spark.table("io_orders_tbl"))


def copy_to_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """COPY (query) TO 'path' STORED AS PARQUET through the SQL path
    (datafusion.proto:269-278 CopyTo; context_checks.rs:657), then read the
    written directory back and aggregate — a lossless sink is a hash match
    against the original table's aggregate."""
    from datafusion_ballista_spark.session import BallistaSession

    path = _out(spark, sf, "orders_copy")
    tables(spark, sf, "orders").orders.createOrReplaceTempView("io_copy_src")
    n = BallistaSession(spark).sql(
        "COPY (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus "
        "FROM io_copy_src WHERE o_orderpriority = '1-URGENT') "
        f"TO '{path}' STORED AS PARQUET"
    )
    if n.collect()[0]["count"] <= 0:
        raise RuntimeError("COPY TO wrote no rows")
    return _agg(spark.read.parquet(path))


def scan_csv(spark: SparkSession, sf: str) -> DataFrame:
    """CSV scan of the full customer table (reference fixture customer.csv)."""
    path = _out(spark, sf, "customer_csv")
    c = tables(spark, sf, "customer").customer
    c.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    back = spark.read.option("header", True).schema(schema).csv(path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(D("c_acctbal"), "total_bal"),
        )
        .orderBy("c_mktsegment")
    )


SCAN_CSV_SQL = """
SELECT c_mktsegment, COUNT(*) AS n,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def scan_ndjson(spark: SparkSession, sf: str) -> DataFrame:
    """NDJSON scan (datafusion.proto:1151-1154)."""
    path = _out(spark, sf, "supplier_json")
    s = tables(spark, sf, "supplier").supplier
    s.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    return (
        back.groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n"), dsum(D("s_acctbal"), "total_bal"))
        .orderBy("s_nationkey")
    )


SCAN_NDJSON_SQL = """
SELECT s_nationkey, COUNT(*) AS n,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


def scan_avro(spark: SparkSession, sf: str) -> DataFrame:
    """Avro OCF scan (datafusion.proto:1155-1158) through the pure-Python
    ``avro_ocf`` data source — no spark-avro jar in this container. The
    fixture is two writes to one directory, the even suppliers with the
    deflate codec (replacing the previous run's files) and the odd ones
    appended with null, so the multi-file path and both standard codecs
    are exercised; the aggregate hash-matches the original parquet."""
    from datafusion_ballista_spark.session import BallistaSession
    from datafusion_ballista_spark.sources.datasource import register

    register(spark)
    out_dir = _out(spark, sf, "supplier_avro")
    s = tables(spark, sf, "supplier").supplier
    cols = s.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    for mode, parity, codec in (("overwrite", 0, "deflate"), ("append", 1, "null")):
        cols.where(F.col("s_suppkey") % 2 == parity).coalesce(1).write.format(
            "avro_ocf"
        ).mode(mode).option("codec", codec).save(out_dir)
    back = BallistaSession(spark).read_avro(out_dir)
    return (
        back.groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n"), dsum(D("s_acctbal"), "total_bal"))
        .orderBy("s_nationkey")
    )


def scan_arrow_ipc(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow IPC scan through the ``arrow_ipc`` data source
    (context_checks.rs:1319; sources/arrow_ipc.py): two files, one task
    each."""
    from datafusion_ballista_spark.sources.datasource import register

    register(spark)
    out_dir = _out(spark, sf, "nation_arrow")
    nation = tables(spark, sf, "nation").nation
    for mode, parity in (("overwrite", 0), ("append", 1)):
        nation.where(F.col("n_nationkey") % 2 == parity).coalesce(1).write.format(
            "arrow_ipc"
        ).mode(mode).save(out_dir)
    back = spark.read.format("arrow_ipc").load(out_dir)
    return (
        back.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"))
        .orderBy("n_regionkey")
    )


SCAN_ARROW_SQL = """
SELECT n_regionkey, COUNT(*) AS n_nations
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


def write_arrow_ipc_dist_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed Arrow IPC sink roundtrip: every partition streams its
    own IPC file through the ``arrow_ipc`` data source's writer (no driver
    materialization), overwriting the previous run's files, then the same
    source reads them back for the aggregate."""
    from datafusion_ballista_spark.sources.datasource import register

    register(spark)
    out_dir = _out(spark, sf, "supplier_arrow_dist")
    src = tables(spark, sf, "supplier").supplier.select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    ).repartition(4, "s_suppkey")
    src.write.format("arrow_ipc").mode("overwrite").save(out_dir)
    back = spark.read.format("arrow_ipc").load(out_dir)
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("s_nationkey")
    )


WRITE_ARROW_DIST_SQL = """
SELECT s_nationkey, COUNT(*) AS n_suppliers,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


def url_table_sql(spark: SparkSession, sf: str) -> DataFrame:
    """URL table: query a file path directly (context_checks.rs:561) —
    Spark's ``parquet.`path``` form."""
    return spark.sql(
        f"SELECT r_name, COUNT(*) AS n FROM parquet.`{sf}/region.parquet` "
        "GROUP BY r_name ORDER BY r_name"
    )


URL_TABLE_SQL = """
SELECT r_name, COUNT(*) AS n FROM region GROUP BY r_name ORDER BY r_name
"""


def scan_partitioned_listing(spark: SparkSession, sf: str) -> DataFrame:
    """Listing table with hive-style partition discovery + partition pruning
    (SURVEY §2.2 row 7; reference ListingTable). Writes lineitem partitioned
    by ship year, reads the *directory* back, and filters on the partition
    column — the filter prunes whole directories at file-listing time, the
    exact mechanism that makes a 100 TB date-partitioned lake scannable.
    tests/test_sources.py asserts PartitionFilters appears in the plan."""
    path = _out(spark, sf, "lineitem_by_year")
    li = tables(spark, sf, "lineitem").lineitem
    (
        li.withColumn("l_year", F.year("l_shipdate"))
        .write.mode("overwrite")
        .partitionBy("l_year")
        .parquet(path)
    )
    back = spark.read.parquet(path)  # partition discovery from dir layout
    return (
        back.where(F.col("l_year") == 1997)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), dsum(D("l_extendedprice"), "total"))
        .orderBy("l_returnflag")
    )


SCAN_PARTITIONED_SQL = """
SELECT l_returnflag, COUNT(*) AS n,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM lineitem WHERE EXTRACT(YEAR FROM l_shipdate) = 1997
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def bucketed_colocated_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed tables + shuffle-free co-located join: both sides are
    written ``bucketBy(8, custkey)`` so the join reads matching buckets
    directly — the exact mechanism that makes a repeated 100 TB fact-fact
    join affordable (pay the shuffle once at write time, never per query).
    tests/test_sources.py asserts the join plan contains NO shuffle
    exchange. The merge hint pins SMJ so AQE's broadcast promotion (valid
    but shuffle-free anyway) doesn't mask the bucketing proof."""
    t = tables(spark, sf, "orders", "customer")
    for name, df, key in (
        ("b_orders", t.orders, "o_custkey"),
        ("b_customer", t.customer, "c_custkey"),
    ):
        # external: the files live in the scratch dir, not the warehouse
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").option(
            "path", _out(spark, sf, name)
        ).saveAsTable(name)
    return (
        spark.table("b_orders")
        .hint("merge")
        .join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(D("o_totalprice"), "total"),
        )
        .orderBy("c_mktsegment")
    )


BUCKETED_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def inmem_table_join(spark: SparkSession, sf: str) -> DataFrame:
    """In-memory table (SURVEY §2.2 row 6; reference MemTable /
    register_record_batches): literal rows created driver-side, joined to a
    parquet fact table. A few-row in-memory dim is the one side that is
    ALWAYS broadcast-safe at any scale."""
    weights = spark.createDataFrame(
        [("1-URGENT", 5), ("2-HIGH", 4), ("3-MEDIUM", 3), ("4-NOT SPECIFIED", 2), ("5-LOW", 1)],
        ["prio", "weight"],
    )
    o = tables(spark, sf, "orders").orders
    return (
        o.join(F.broadcast(weights), o.o_orderpriority == weights.prio)
        .groupBy("prio")
        .agg((F.count(F.lit(1)) * F.min("weight")).alias("weighted_n"))
        .orderBy("prio")
    )


INMEM_TABLE_SQL = """
SELECT prio, COUNT(*) * MIN(weight) AS weighted_n
FROM orders
JOIN (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
             ('4-NOT SPECIFIED', 2), ('5-LOW', 1)) AS w(prio, weight)
  ON o_orderpriority = prio
GROUP BY prio ORDER BY prio
"""


QUERIES: dict[str, QuerySpec] = {
    "write_parquet_roundtrip": QuerySpec(write_parquet_roundtrip, _ORDERS_AGG_SQL),
    "write_csv_roundtrip": QuerySpec(write_csv_roundtrip, _ORDERS_AGG_SQL),
    "write_json_roundtrip": QuerySpec(write_json_roundtrip, _ORDERS_AGG_SQL),
    "ctas_insert_sql": QuerySpec(ctas_insert_sql, _ORDERS_AGG_SQL),
    "copy_to_roundtrip": QuerySpec(copy_to_roundtrip, _ORDERS_AGG_SQL),
    "scan_csv": QuerySpec(scan_csv, SCAN_CSV_SQL),
    "scan_ndjson": QuerySpec(scan_ndjson, SCAN_NDJSON_SQL),
    "scan_avro": QuerySpec(scan_avro, SCAN_NDJSON_SQL),
    "scan_arrow_ipc": QuerySpec(scan_arrow_ipc, SCAN_ARROW_SQL),
    "url_table_sql": QuerySpec(url_table_sql, URL_TABLE_SQL),
    "scan_partitioned_listing": QuerySpec(
        scan_partitioned_listing, SCAN_PARTITIONED_SQL
    ),
    "inmem_table_join": QuerySpec(inmem_table_join, INMEM_TABLE_SQL),
    "bucketed_colocated_join": QuerySpec(
        bucketed_colocated_join, BUCKETED_JOIN_SQL
    ),
    "write_arrow_ipc_dist_roundtrip": QuerySpec(
        write_arrow_ipc_dist_roundtrip, WRITE_ARROW_DIST_SQL
    ),
}
