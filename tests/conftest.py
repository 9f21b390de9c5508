"""Shared fixtures: one SparkSession per test run + a DuckDB oracle.

The compare helper mirrors the driver's contract: run the Spark query and
the oracle SQL on the same parquet, compare row count, column names, and
(order-insensitively) values — through ``compare.compare_query`` and its
one verdict, ``compare.failures``.
"""

from __future__ import annotations

import os

import pytest

from datafusion_ballista_spark.compare import (
    compare_query,
    failures,
    oracle_connection,
)
from datafusion_ballista_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        master="local[8]",
        app_name="dbspark-tests",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    with oracle_connection(SF_DIR) as con:
        yield con


def assert_query_matches(spark_df, oracle_con, oracle_sql: str, name: str = "?"):
    rec = compare_query(spark_df, oracle_con, oracle_sql)
    fails = failures(rec, name in FLOAT_ULP_WHITELIST)
    assert not fails, f"[{name}] " + "\n".join(fails)


# Queries allowed to rely on the 9dp/12sg float normalization at the
# sf0.01 gate. Empty on purpose — round() in the query on BOTH sides is
# the contract: if floats match only after the normalization, it is
# load-bearing and the CORRECTNESS hash (which may not normalize) could
# diverge where this gate stays green, the same blind-spot class as the
# round-6 decimal reds. A new entry here needs the same justification bar
# as FLOAT_ULP_SF1_WHITELIST in tools/local_correctness.py.
FLOAT_ULP_WHITELIST: frozenset[str] = frozenset()


# Builders that collect while building. tests/test_plans.py leaves them out
# of the plan audit, and tests/test_inventory.py checks, with the fixture
# tables already loaded, that each still fires a Spark job then. The check
# is one way: nine unlisted builders also fire jobs while building,
# through a lazy localCheckpoint under AQE (ann_ivfpq_refine,
# ann_mmr_rerank, dedup_incremental, dedup_minhash_lsh,
# dedup_prefix_filter_join, dedup_semdedup, dedup_substring_exact,
# text_winnow_fingerprint, train_split_leakage); they stay in the audit.
EAGER_QUERIES = {
    "ctas_insert_sql",
    "dedup_clusters",  # iterative fixpoint: construction runs jobs per round
    "dedup_keep_best",  # same label-propagation fixpoint at construction
    "train_bpe_merges",  # iterative merge rounds collect at construction
    "train_bpe_encode",  # same merge learning collects at construction
    "emb_kmeans_lloyd",  # iterative Lloyd rounds: update jobs at construction
    "emb_pq_encode",  # 4 subspace codebooks train (collect) at construction
    "ann_pq_adc",  # same codebook training collects at construction
    "ann_ivfpq_topk",  # coarse k-means + codebooks train (collect) at construction
    "emb_pca_project",  # moment matrix + component sums collect at construction
    "train_curriculum_order",  # global row-number offsets collect at construction
    "win_global_rownumber_dist",  # offset cumulation collects per-part counts
    "win_global_rank_dist",  # same operator family
    "win_global_dense_rank_dist",  # same operator family
    "win_global_cumsum_dist",  # same operator family
    "h2o_w_sorted_rownum",  # same operator: offsets collect at construction
    "emb_kmeanspp_init",  # farthest-first rounds collect at construction
    "train_contamination_bloom",  # bloom set-bit positions collect at construction
    "sketch_theta_set_ops",  # two bounded KMV samples collect at construction
    "train_pack_concat_chunks",  # global cumsum offsets collect at construction
}

# Builders that once collected (from the build's thread or a thread pool
# of their own) and now build one lazy plan: tests/test_inventory.py checks
# that each fires no Spark job while building, with or without a job group.
LAZY_QUERIES = {
    "sketch_kll_quantiles",
    "sketch_quantile_bottomk",
    "sketch_range_partition_cuts",
}
