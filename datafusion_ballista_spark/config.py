"""Config translation: Ballista session keys -> Spark SQL conf keys.

Reference: ballista/core/src/config.rs:32-171 defines the SET-able session
config surface; SURVEY.md §4.3 maps each key. Spark owns the runtime
behavior behind every one of these (AQE, broadcast threshold, partition
coalescing, shuffle codec), so translation is a pure key rename.
"""

from __future__ import annotations

# ballista key -> spark key
CONFIG_MAP: dict[str, str] = {
    # reference: core/src/config.rs:103
    "ballista.optimizer.broadcast_join_threshold_bytes": (
        "spark.sql.autoBroadcastJoinThreshold"
    ),
    # reference: core/src/config.rs:86
    "ballista.planner.adaptive.enabled": "spark.sql.adaptive.enabled",
    # reference: core/src/config.rs:134-148
    "ballista.planner.coalesce.enabled": (
        "spark.sql.adaptive.coalescePartitions.enabled"
    ),
    "ballista.planner.coalesce.target_partition_bytes": (
        "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    ),
    # reference: core/src/config.rs:168
    "ballista.shuffle.compression.codec": "spark.io.compression.codec",
    # DataFusion passthrough key Ballista honors (SURVEY.md §4.3)
    "datafusion.execution.target_partitions": "spark.sql.shuffle.partitions",
    # closest Spark knob: columnar batch size for parquet/arrow readers
    "datafusion.execution.batch_size": "spark.sql.parquet.columnarReaderBatchSize",
}

# Engine defaults: scale-oriented. These are what we would ship on a
# 1000-executor cluster as well as local[32]; AQE handles runtime re-plan,
# partition coalescing and skew-join mitigation (SURVEY.md §4.2).
SPARK_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Respect the advisory partition size when coalescing instead of
    # preserving max parallelism: Spark's own docs recommend false; the
    # default true spawns near-empty post-shuffle tasks whose scheduling
    # latency dominates small stages and whose tiny partitions are wrong
    # at 100 TB too (advisory-sized reducers are the scale story).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # testdata events.parquet carries TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as int64 nanos and convert in the registry shim.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Scan-split sizing: Spark plans file splits as
    # max(openCostInBytes, totalBytes/defaultParallelism) capped at
    # maxPartitionBytes. The 4 MiB openCost default models HDFS-era file
    # open latency and forces compact columnar tables (zstd parquet packs
    # ~600k lineitem rows into 11 MiB) onto 2-3 cores; local NVMe and
    # object-store range reads make opens cheap, so let small-but-dense
    # tables fan out to all cores. No effect at real scale, where
    # bytes-per-core far exceeds maxPartitionBytes anyway.
    "spark.sql.files.openCostInBytes": str(256 * 1024),
    # Throughput-oriented batch engine: ParallelGC beats G1's pause-time
    # goal on shuffle/agg-heavy stages in the single-JVM local harness
    # (measured ~10-20% on the sf1 stress queries; q18 4.3s -> 3.4s).
    # Pause-insensitive batch jobs are exactly ParallelGC's design point;
    # a real multi-executor deployment would set executor JVM opts the
    # same way.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # parity with reference defaults: sort-based shuffle + zstd IPC
    # compression (core/src/config.rs:168) — Spark's sort shuffle is native.
    "spark.io.compression.codec": "zstd",
    # The console progress bar redraws with \r and garbles lines printed
    # to stderr beside it (the gate tools' RUN and timing lines).
    "spark.ui.showConsoleProgress": "false",
}


def translate(key: str, value: object) -> tuple[str, object]:
    """Translate a ballista.*/datafusion.* config key to its Spark key.

    Unknown keys pass through unchanged (Spark ignores what it doesn't
    know; mirrors Ballista's extensible config, core/src/config.rs:860+).
    """
    return CONFIG_MAP.get(key, key), value
