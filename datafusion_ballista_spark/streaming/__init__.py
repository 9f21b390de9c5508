"""Structured Streaming layer — beyond-reference capability.

The reference is batch-only (SURVEY §2.10: no watermark/window-on-event-time
operator anywhere; its stage-materializing shuffle architecture,
docs/source/contributors-guide/architecture.md:102-200, can't stream). This
layer adds the streaming shapes a continuously-ingesting training-data
pipeline needs, expressed as Structured Streaming over the same event
schema the batch inventory uses:

- file-stream source (the parquet-drop ingestion pattern),
- event-time windowed aggregation with a watermark for late data,
- built-in session windows (``session_window``) for sessionization,
- streaming exact dedup (``dropDuplicates`` keyed on event id).

Every query runs with ``Trigger.availableNow`` into a memory sink: all
existing files are processed as one bounded run, so results are
deterministic and DuckDB-checkable — the same operators then run unchanged
against a live stream at scale.

Scale notes (100 TB / continuous): the watermark bounds state (windows
older than watermark are dropped); session windows and dedup state live in
the state store keyed by (user, window)/(event_id) — at real scale back
them with RocksDB state store and key the dedup on a time-bounded
``dropDuplicatesWithinWatermark``. Memory sink is test-only; production
sinks are kafka/delta/parquet with checkpointing.
"""

from __future__ import annotations

import hashlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_ballista_spark.sources.registry import scratch_dir

# File streams need an explicit schema. The fixture's ts physical type has
# shifted across driver generations — TIMESTAMP(NANOS) (readable only as
# int64 under spark.sql.legacy.parquet.nanosAsLong) vs TIMESTAMP(µs,
# naive) (arriving as TIMESTAMP_NTZ) — so the ts field is chosen by
# inspecting the parquet footer, and both variants normalize to a
# session-TZ TIMESTAMP column (see sources/registry.py).
def _events_schema(ts_is_nanos: bool) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(
                "ts", T.LongType() if ts_is_nanos else T.TimestampNTZType()
            ),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _ts_is_nanos(path: str) -> bool:
    import pyarrow.parquet as pq

    t = pq.read_schema(path).field("ts").type
    return getattr(t, "unit", None) == "ns"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events fixture as a file source (parquet-drop ingestion).

    File streams watch a *directory* (new files = new data), so the fixture
    file is staged (symlinked) into an ingestion dir — exactly how a live
    pipeline would receive parquet drops.

    Session-level side effects (like ``sources/registry.py``, documented so
    callers aren't surprised): pins ``spark.sql.session.timeZone`` to UTC —
    windowed/session aggregations must bucket identically to the UTC-naive
    DuckDB oracle — and enables the legacy nanos-as-long parquet read path
    for nanos-era fixture files. Both persist on the shared session.
    """
    # nanos-era files need the legacy nanos-as-long read path; harmless
    # for µs files (see sources/registry.py).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Symlink the ABSOLUTE source path: a relative target resolves against
    # the link's own directory, not the caller's cwd. The staging dir is
    # keyed by that path, so two fixture dirs sharing a basename never
    # stream each other's data.
    target = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    digest = hashlib.md5(target.encode()).hexdigest()[:8]
    ingest = os.path.join(scratch_dir(spark), "stream", f"{base}-{digest}")
    link = os.path.join(ingest, "events.parquet")
    if not os.path.lexists(link):
        os.makedirs(ingest, exist_ok=True)
        os.symlink(target, link)
    nanos = _ts_is_nanos(link)
    raw = spark.readStream.schema(_events_schema(nanos)).parquet(ingest)
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_available_now(sdf: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming query over all currently-available input and
    return its result, a table over the memory sink (bounded run)."""
    name = "stream_out_" + uuid.uuid4().hex[:8]
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # The memory sink keeps its rows after the query terminates, so they
    # are read in place rather than sent through the driver.
    return sdf.sparkSession.table(name)
