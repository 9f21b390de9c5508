"""Structured Streaming inventory (beyond-reference; SURVEY §2.10).

The reference has no streaming surface at all, so these entries are pure
capability additions: the same event-time operators a continuously-fed
training-data pipeline needs, run here as bounded ``availableNow`` streams
(deterministic, DuckDB-checkable) — unchanged code would run against a live
file/kafka drop at scale.

Oracles are the batch-SQL equivalents; hash-equality proves the streaming
execution path (file-stream source → stateful operator → sink) computes
exactly the batch semantics on the same data.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_ballista_spark.inventory import QuerySpec
from datafusion_ballista_spark.inventory.util import tables
from datafusion_ballista_spark.sources.registry import scratch_dir
from datafusion_ballista_spark.streaming import read_events_stream, run_available_now


def stream_windowed_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time tumbling window + watermark over a file stream. The
    watermark ('1 hour') bounds state for late data on a live stream; with
    availableNow + complete mode every window is emitted, matching batch."""
    ev = read_events_stream(spark, sf)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("total"),
        )
    )
    out = run_available_now(agg, "complete")
    return out.select(
        F.col("w.start").cast("date").alias("day"), "event_type", "n", "total"
    ).orderBy("day", "event_type")


STREAM_WINDOWED_SQL = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
  COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM events GROUP BY 1, 2 ORDER BY day, event_type
"""


def stream_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Built-in gap-based session windows (session_window, 30 min gap) on a
    stream — sessionization as a native stateful operator. State is keyed
    (user, open-session) and merged as events arrive; the watermark expires
    closed sessions on a live stream."""
    ev = read_events_stream(spark, sf)
    sess = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_available_now(sess, "complete")
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


# Batch sessionization oracle: Spark's session_window range is
# [start, last_event + gap) — END-EXCLUSIVE — so an event arriving exactly
# `gap` after the previous one starts a NEW session. The oracle must break
# on gap >= 30 min (not >) to match.
STREAM_SESSION_SQL = """
WITH gaps AS (
  SELECT user_id, ts,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
              >= INTERVAL 30 MINUTE
         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
    THEN 1 ELSE 0 END AS is_start
  FROM events
)
SELECT user_id, CAST(SUM(is_start) AS BIGINT) AS n_sessions,
  COUNT(*) AS n_events
FROM gaps GROUP BY user_id ORDER BY user_id
"""


def stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    each purchase joins the same user's clicks from the preceding 30
    minutes. Both sides carry watermarks, so on a live stream the state
    store evicts rows older than the join window — the canonical bounded
    stream-stream join. Output is the per-user pair count (aggregated
    batch-side after the availableNow run; the join itself is the
    streaming operator under test)."""
    clicks = (
        read_events_stream(spark, sf)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    out = run_available_now(joined, "append")
    return (
        out.groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


STREAM_STREAM_JOIN_SQL = """
SELECT p.user_id, COUNT(*) AS n_pairs
FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
GROUP BY p.user_id
ORDER BY p.user_id
"""


def stream_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates keyed on (user_id, event_type)
    — the streaming face of the batch dedup_exact pipeline entry. At real
    scale use dropDuplicatesWithinWatermark so state stays bounded."""
    ev = read_events_stream(spark, sf)
    deduped = ev.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    out = run_available_now(deduped, "append")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs")
    ).orderBy("event_type")


STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_pairs
FROM events GROUP BY event_type ORDER BY event_type
"""


def stream_dedup_watermarked(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    keyed on (user_id, event_type) — the scale-correct variant of
    stream_dedup_exact (state for a key expires once the watermark passes
    it, so a live stream never accumulates unbounded dedup state). The
    fixture's event-time span is shorter than the delay here, so the
    bounded-state result equals the global dedup and the batch oracle is
    exact; on a live feed only the delay changes, not the code."""
    ev = read_events_stream(spark, sf)
    deduped = (
        ev.withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    out = run_available_now(deduped, "append")
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("event_type")
    )


STREAM_DEDUP_WM_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_pairs
FROM events GROUP BY event_type ORDER BY event_type
"""


def stream_stateful_counter(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a per-user
    accumulator (event count + running max value) kept in the state store
    across micro-batches. On a live stream each batch updates state and
    emits the new totals; under availableNow the final emission per key
    equals the batch aggregate, which is the oracle."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_events_stream(spark, sf)

    def track(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    counted = (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id long, n_events long, max_value double",
            stateStructType="n long, mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = run_available_now(counted, "update")
    # one emission per key per batch; availableNow = one batch -> totals
    return out.orderBy("user_id")


STREAM_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
FROM events GROUP BY user_id ORDER BY user_id
"""


def stream_foreach_batch_sink(spark: SparkSession, sf: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands as parquet through an
    arbitrary batch-DataFrame writer — the escape hatch for sinks
    Structured Streaming lacks natively (JDBC upserts, multi-table
    fan-out). The availableNow run drains the source into the sink dir;
    reading it back and aggregating hash-matches the batch oracle, which
    proves exactly-once delivery of the bounded run."""
    base = tempfile.mkdtemp(prefix="foreach_batch-", dir=scratch_dir(spark))
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    ev = read_events_stream(spark, sf).select("event_id", "event_type", "value")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink)

    q = (
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(sink)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total"),
        )
        .orderBy("event_type")
    )


STREAM_FOREACH_BATCH_SQL = """
SELECT event_type, COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM events GROUP BY event_type ORDER BY event_type
"""



def stream_static_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static join enrichment — the canonical streaming lookup: a
    live event stream joined against a batch dimension table (here the
    customer dim on user_id = c_custkey). The static side is re-resolved
    per micro-batch, so a refreshed dimension snapshot is picked up
    without restarting the query. Left join keeps unmatched events
    (coalesced to 'unknown'); no watermark is needed because the join adds
    no state — only the downstream complete-mode aggregate does. The dim
    is NOT broadcast-hinted: customer grows with scale, so the planner
    picks broadcast vs shuffled hash from its size per batch."""
    ev = read_events_stream(spark, sf)
    dim = tables(spark, sf, "customer").customer.select(
        "c_custkey", "c_mktsegment"
    )
    joined = ev.join(dim, ev.user_id == dim.c_custkey, "left")
    agg = joined.groupBy(
        "event_type",
        F.coalesce("c_mktsegment", F.lit("unknown")).alias("segment"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total"),
    )
    out = run_available_now(agg, "complete")
    return out.orderBy("event_type", "segment")


STREAM_STATIC_ENRICH_SQL = """
SELECT event_type, COALESCE(c_mktsegment, 'unknown') AS segment,
  COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""



def stream_checkpoint_resume(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpointed resume across two data drops — the production
    streaming semantic the other entries don't exercise: offsets live in
    the checkpoint, so a restarted query processes ONLY files that
    arrived since the last run. Drop 1 (even event_ids) is drained by an
    availableNow run; drop 2 (odd event_ids) lands in the monitored dir;
    a SECOND run with the SAME checkpoint resumes and must not reprocess
    drop 1 — if it did, the appended sink would double drop 1's rows and
    the hash against the plain batch oracle over the full table would
    fail. Each call stages in a fresh scratch dir; state is the
    file-source log only.

    EAGER by design: the two streaming drains + parquet writes execute at
    DataFrame-construction time (the resume semantic cannot be expressed
    lazily), so plan-audit/bench callers pay the full pipeline on build.
    The returned read-back of the sink stays lazy."""
    base = tempfile.mkdtemp(prefix="resume-", dir=scratch_dir(spark))
    src = os.path.join(base, "in")
    sink = os.path.join(base, "out")
    ckpt = os.path.join(base, "ck")
    ev = tables(spark, sf, "events").events.select(
        "event_id", "event_type", "value"
    )
    ev.where(F.col("event_id") % 2 == 0).write.parquet(src)

    def drain() -> None:
        q = (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    drain()
    back = spark.read.parquet(sink)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total"),
        )
        .orderBy("event_type")
    )


STREAM_RESUME_SQL = """
SELECT event_type, COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM events GROUP BY 1 ORDER BY 1
"""


def stream_sliding_counts(spark: SparkSession, sf: str) -> DataFrame:
    """SLIDING event-time windows (3h width, 1h slide) — the overlap
    case tumbling windows can't express: every event lands in 3
    concurrent windows, and the engine maintains all of them as
    overlapping state. With availableNow + complete mode the emitted
    set matches the batch semantics exactly (each event fanned into
    its 3 windows), which the oracle replays with an explicit 0..2
    hour-offset explode.

    At scale the watermark bounds how many overlapping windows stay
    open per key; the per-window state is a counter, so memory is
    (#open windows x #types), independent of event volume."""
    ev = read_events_stream(spark, sf)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "3 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_available_now(agg, "complete")
    return out.select(
        F.col("w.start").cast("timestamp").alias("win_start"),
        "event_type",
        "n",
    ).orderBy("win_start", "event_type")


# every event belongs to the 3 sliding windows starting at hb-2..hb
# (hour-aligned, epoch-anchored — Spark's window() alignment)
STREAM_SLIDING_SQL = """
SELECT TIMESTAMP '1970-01-01'
         + ((epoch_us(ts) // 3600000000 - o) * 3600) * INTERVAL 1 SECOND
         AS win_start,
  event_type, COUNT(*) AS n
FROM events CROSS JOIN range(0, 3) t(o)
GROUP BY 1, 2 ORDER BY win_start, event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "stream_windowed_counts": QuerySpec(stream_windowed_counts, STREAM_WINDOWED_SQL),
    "stream_sliding_counts": QuerySpec(
        stream_sliding_counts, STREAM_SLIDING_SQL
    ),
    "stream_session_windows": QuerySpec(stream_session_windows, STREAM_SESSION_SQL),
    "stream_stream_join": QuerySpec(stream_stream_join, STREAM_STREAM_JOIN_SQL),
    "stream_dedup_exact": QuerySpec(stream_dedup_exact, STREAM_DEDUP_SQL),
    "stream_dedup_watermarked": QuerySpec(
        stream_dedup_watermarked, STREAM_DEDUP_WM_SQL
    ),
    "stream_stateful_counter": QuerySpec(
        stream_stateful_counter, STREAM_STATEFUL_SQL
    ),
    "stream_foreach_batch_sink": QuerySpec(
        stream_foreach_batch_sink, STREAM_FOREACH_BATCH_SQL
    ),
    "stream_static_enrich": QuerySpec(
        stream_static_enrich, STREAM_STATIC_ENRICH_SQL
    ),
    "stream_checkpoint_resume": QuerySpec(
        stream_checkpoint_resume, STREAM_RESUME_SQL
    ),
}
