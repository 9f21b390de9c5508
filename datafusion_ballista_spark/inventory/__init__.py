"""Operator inventory: one named query per SURVEY.md §2 capability row.

Each entry pairs a Spark DataFrame-API implementation with an equivalent
ANSI-SQL oracle string DuckDB can run on the same parquet fixtures. The
driver executes both at sf0.01 and hash-compares (CORRECTNESS_r{N}.json).

Determinism contract (so value hashes match across engines AND across Spark
partition orderings):
- money/double aggregates are summed in DECIMAL (exact, order-independent)
  and cast to double at the end;
- every computed column is explicitly aliased identically on both sides;
- floating outputs that involve genuine double math are rounded on both
  sides at a precision far above data noise;
- top-k queries always carry a unique tiebreaker key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB-runnable ANSI SQL


# The CORRECTNESS gate checks only the first 50 registry entries:
# WINDOW, then the pool order below. Rotation rule: ops whose code or
# oracle changed lead (new code is where hash blind spots live), then
# the families with the oldest CORRECTNESS evidence; past windows
# live in CORRECTNESS_r*.json. This is the round-14 window: its touched
# ops, the two queries the local AQE parallelismFirst flip moved most,
# then the sketches, events, multimodal and streaming families and the
# headline h2o grouper. Next sweep: the pool head (the r12/r13-checked
# text and vector greens), then h2o g3 onward, functions_cov,
# udf_surface and sql_surface.
WINDOW = [
    "text_winnow_fingerprint",
    "train_bpe_encode",
    "dedup_minhash_lsh",
    "dedup_incremental",
    "ann_pq_adc",
    "ann_ivfpq_topk",
    "ann_ivfpq_refine",
    "emb_pq_encode",
    "emb_kmeans_lloyd",
    "train_contamination_ngram",
    "ev_range_join_bucketed",
    "sketch_quantile_bottomk",
    "sketch_range_partition_cuts",
    "sketch_kll_quantiles",
    "sketch_theta_set_ops",
    "sketch_ams_f2",
    "sketch_moments_power_sums",
    "sketch_hll_distinct",
    "sketch_hll_merge_hourly",
    "sketch_hll_distinct_p12",
    "sketch_countmin_topk",
    "ev_hourly_rollup",
    "ev_funnel_steps",
    "ev_gap_fill",
    "ev_window_bucketing",
    "ev_sessionize",
    "ev_type_transitions",
    "ev_daily_retention",
    "ev_decayed_topk",
    "sketch_hll_sliding_3h",
    "ev_anomaly_mad",
    "multimodal_audio_vad",
    "multimodal_phash_neardup",
    "multimodal_featurize",
    "multimodal_wav_roundtrip",
    "multimodal_frame_sample",
    "multimodal_resize",
    "multimodal_audio_stats",
    "multimodal_video_keyframes",
    "stream_windowed_counts",
    "stream_sliding_counts",
    "stream_session_windows",
    "stream_stream_join",
    "stream_dedup_exact",
    "stream_dedup_watermarked",
    "stream_stateful_counter",
    "stream_foreach_batch_sink",
    "stream_static_enrich",
    "stream_checkpoint_resume",
    "h2o_g2_sum_by_id1_id2",
]


def all_queries() -> dict[str, QuerySpec]:
    from datafusion_ballista_spark.inventory import (
        events,
        functions_cov,
        h2o,
        io_ops,
        multimodal_cov,
        pipeline_text,
        pipeline_train,
        pipeline_vector,
        relational,
        sketches,
        sql_surface,
        streaming_cov,
        tpcds,
        tpcds_real,
        tpcds_real2,
        tpcds_real3,
        tpcds_real4,
        tpcds_real5,
        tpcds_real6,
        tpcds_real7,
        tpcds_real8,
        tpcds_real9,
        tpch,
        udf_surface,
        windows,
    )

    pool: dict[str, QuerySpec] = {}
    for mod in (
        pipeline_text,
        pipeline_vector,
        io_ops,
        events,
        sketches,
        multimodal_cov,
        streaming_cov,
        tpcds,
        tpcds_real,
        tpcds_real2,
        tpcds_real3,
        tpcds_real4,
        tpcds_real5,
        tpcds_real6,
        tpcds_real7,
        tpcds_real8,
        tpcds_real9,
        pipeline_train,
        functions_cov,
        h2o,
        udf_surface,
        sql_surface,
        tpch,
        relational,
        windows,
    ):
        for name, spec in mod.QUERIES.items():
            if name in pool:
                raise ValueError(f"duplicate query name: {name}")
            pool[name] = spec

    out: dict[str, QuerySpec] = {name: pool.pop(name) for name in WINDOW}
    out.update(pool)
    return out
