"""Distributed global row-number — the reference's partitioned bounded
window operator, Spark-first.

A no-PARTITION-BY ranking window forces every engine's default plan into a
single-partition global sort. The reference built a dedicated physical
operator pair to avoid that — OrderedRangeRepartitionExec +
PartitionedBoundedWindowAggExec
(ballista/core/src/execution_plans/partitioned_bounded_window_agg.rs:17-60):
range-repartition by the sort key, run the window per partition, then
shift each partition's results by the preceding partitions' row counts.

``global_row_number`` is the same algorithm in DataFrame terms:

1. ``repartitionByRange`` on the sort keys — a parallel range shuffle
   (sampled boundaries; correctness never depends on where they land);
2. per-partition local ``row_number`` — the window partitions on
   ``spark_partition_id()``, so no single-task sort exists anywhere;
3. per-partition counts (a tiny metadata aggregate, one row per
   partition) cumulated driver-side into offsets and broadcast back;
4. global rank = local rank + preceding-partitions offset.

Every stage is bounded: the range shuffle is the same one a global sort
would need anyway, the windows are per-partition, and the offset table
has ``numPartitions`` rows. Catalyst additionally hash-shuffles on the
pinned partition id to satisfy the window's distribution requirement —
one extra parallel shuffle, never a single task. A unique tiebreaker in
``order_cols`` makes ranks exact.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__gw_pid"
_LOCAL = "__gw_local"
_OFFSET = "__gw_offset"


def _stitch(
    df: DataFrame,
    order_cols: list[Column],
    num_partitions: int | None,
    fn: Column,
    total: Column,
    out_col: str,
    offset_type: str | None = None,
) -> DataFrame:
    """The shared algorithm: range-repartition on ``order_cols``, evaluate
    the window function ``fn`` within each range partition in sort order,
    then add the preceding partitions' cumulated ``total`` (a per-partition
    aggregate, one row per partition, cumulated driver-side and broadcast
    back). Offsets take ``offset_type``, else the local column's own type."""
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    # localCheckpoint PINS the range partitioning: the range partitioner
    # SAMPLES its boundaries, so without materialization the totals job and
    # the final job could re-execute the shuffle with different boundaries,
    # silently mismatching offsets and partition ids between the two runs.
    # Joining the totals in-plan instead does not help: ColumnPruning gives
    # the totals branch its own, narrower range exchange, which samples its
    # own boundaries (no ReusedExchange), so ranks and sums come out wrong.
    ranged = (
        df.repartitionByRange(int(n), *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint()
    )
    # the frame the ranking functions require, and the running sum's
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn(_LOCAL, fn.over(w))
    local_type = dict(local.dtypes)[_LOCAL]
    # fsum keeps double offsets error-free over any partition count; cheap
    # because there are at most shuffle-partitions totals.
    add = math.fsum if local_type in ("float", "double") else sum
    offsets, prior = [], []
    for pid, t in sorted(local.groupBy(_PID).agg(total).collect()):
        offsets.append((pid, str(add(prior))))
        prior.append(t if t is not None else 0)
    off_df = df.sparkSession.createDataFrame(
        offsets, f"{_PID} int, {_OFFSET} string"
    ).withColumn(_OFFSET, F.col(_OFFSET).cast(offset_type or local_type))
    return (
        local.join(F.broadcast(off_df), _PID)
        .withColumn(out_col, F.col(_LOCAL) + F.col(_OFFSET))
        .drop(_PID, _LOCAL, _OFFSET)
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append a GLOBAL 1-based row number ordered by ``order_cols`` without
    a single-partition sort. ``order_cols`` must end in a unique tiebreaker
    for exact ranks."""
    # bigint on purpose: this operator exists for full-table ranking at
    # scale, where ranks exceed 2^31 (the reference's row_number is i64).
    return _stitch(
        df,
        order_cols,
        num_partitions,
        F.row_number(),
        F.count(F.lit(1)),
        out_col,
        "bigint",
    )


def global_rank(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "rnk",
    dense: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed no-PARTITION-BY ``rank()`` / ``dense_rank()`` — the same
    offset-stitched algorithm as ``global_row_number``, exact because
    ``repartitionByRange`` hashes EQUAL sort keys to the SAME partition:
    a tie group never straddles a partition boundary, so a local rank plus
    the preceding partitions' row count (or distinct-key count for dense)
    is the global rank."""
    # dense offset = number of DISTINCT key tuples in prior partitions,
    # which is exactly the partition's max local dense_rank (no need to
    # re-derive the key expression from the sort columns).
    return _stitch(
        df,
        order_cols,
        num_partitions,
        F.dense_rank() if dense else F.rank(),
        F.max(_LOCAL) if dense else F.count(F.lit(1)),
        out_col,
        "bigint",
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: Column,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed no-PARTITION-BY running ``SUM(value) OVER (ORDER BY ...
    ROWS UNBOUNDED PRECEDING)`` — range shuffle, per-partition local
    cumulative sum, then each partition shifts by the total of all prior
    partitions (one tiny per-partition aggregate, cumulated driver-side
    and broadcast back; the reference's partitioned bounded-window shape).
    ``order_cols`` must end in a unique tiebreaker so the ROWS frame is
    deterministic.

    Exactness: decimal/integer value columns stitch exactly (addition is
    associative); offsets carry the local sum's own type. For float/double
    values the per-partition offsets are accumulated with ``math.fsum``
    (error-free driver-side summation), so drift vs a serial scan is
    bounded to the final rounding of each offset — pass a decimal column
    when bit-exact running sums are required."""
    return _stitch(
        df, order_cols, num_partitions, F.sum(value_col), F.sum(value_col), out_col
    )
