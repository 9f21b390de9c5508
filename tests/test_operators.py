"""Custom distributed operators (datafusion_ballista_spark/operators/).

Behavior spec for global_row_number: the reference's
PartitionedBoundedWindowAggExec (partitioned_bounded_window_agg.rs:17-60)
— global ranks with no single-partition sort.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datafusion_ballista_spark.operators import global_row_number


def test_matches_single_partition_window(spark):
    df = spark.range(1000).selectExpr(
        "id", "CAST(hash(id) % 500 AS DOUBLE) AS v"
    )
    got = {
        r.id: r.rn
        for r in global_row_number(
            df, [F.desc("v"), F.asc("id")], num_partitions=7
        ).collect()
    }
    want = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("v"), F.asc("id")))
        ).collect()
    }
    assert got == want


def test_no_single_partition_window_in_plan(spark):
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    ranked = global_row_number(df, [F.asc("v"), F.asc("id")], num_partitions=4)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    # the ranking window must partition on the pinned partition id — a
    # global (empty-PARTITION-BY) window spec would read
    # "windowspecdefinition(v ..." with no pid column
    assert "windowspecdefinition(__gw_pid" in plan, plan


def test_ranks_are_dense_and_complete(spark):
    df = spark.range(250).selectExpr("id", "CAST(id % 13 AS DOUBLE) AS v")
    rns = sorted(
        r.rn
        for r in global_row_number(
            df, [F.desc("v"), F.asc("id")], num_partitions=5
        ).collect()
    )
    assert rns == list(range(1, 251))


def test_global_rank_matches_single_partition_window(spark):
    from datafusion_ballista_spark.operators import global_rank

    # v = id % 13 gives real tie groups spanning the id range, so ties
    # land across range-partition boundaries if the operator were wrong.
    df = spark.range(500).selectExpr("id", "CAST(id % 13 AS DOUBLE) AS v")
    got = {
        r.id: r.rnk
        for r in global_rank(df, [F.desc("v")], num_partitions=7).collect()
    }
    want = {
        r.id: r.rnk
        for r in df.withColumn(
            "rnk", F.rank().over(Window.orderBy(F.desc("v"))).cast("bigint")
        ).collect()
    }
    assert got == want


def test_global_dense_rank_matches_single_partition_window(spark):
    from datafusion_ballista_spark.operators import global_rank

    df = spark.range(500).selectExpr("id", "CAST(id % 13 AS DOUBLE) AS v")
    got = {
        r.id: r.rnk
        for r in global_rank(
            df, [F.desc("v")], dense=True, num_partitions=7
        ).collect()
    }
    want = {
        r.id: r.rnk
        for r in df.withColumn(
            "rnk",
            F.dense_rank().over(Window.orderBy(F.desc("v"))).cast("bigint"),
        ).collect()
    }
    assert got == want


def test_global_running_sum_matches_single_partition_window(spark):
    from datafusion_ballista_spark.operators import global_running_sum

    df = spark.range(400).selectExpr(
        "id", "CAST(CAST(id % 97 AS DECIMAL(18,2)) / 7 AS DECIMAL(18,2)) AS v"
    )
    got = {
        r.id: r.rsum
        for r in global_running_sum(
            df, [F.asc("id")], F.col("v"), out_col="rsum", num_partitions=6
        ).collect()
    }
    w = Window.orderBy(F.asc("id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r.id: r.rsum
        for r in df.withColumn("rsum", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_large_input_matches_single_partition_window(spark):
    """Past the range partitioner's sample size (20 rows per output
    partition, drawn from each input partition) its boundaries depend on
    the sampling job, so offsets and local ranks must come from one pinned
    partitioning."""
    from datafusion_ballista_spark.operators import global_rank, global_running_sum

    df = spark.range(6000).selectExpr(
        "id", "CAST(hash(id) % 1000 AS DECIMAL(18,2)) AS v"
    )
    order = [F.desc("v"), F.asc("id")]
    got = global_running_sum(
        global_rank(
            global_row_number(df, order, num_partitions=7),
            [F.desc("v")],
            num_partitions=7,
        ),
        order,
        F.col("v"),
        out_col="rsum",
        num_partitions=7,
    )
    w = Window.orderBy(*order)
    want = df.select(
        "id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(Window.orderBy(F.desc("v"))).cast("bigint").alias("rnk"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("rsum"),
    )
    cols = ["id", "rn", "rnk", "rsum"]
    assert sorted(got.select(cols).collect()) == sorted(want.collect())
