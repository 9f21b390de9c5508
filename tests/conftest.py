"""Shared fixtures: one SparkSession per test run, a DuckDB oracle and one
build per registry entry.

The compare helper mirrors the driver's contract: run the Spark query and
the oracle SQL on the same parquet, compare row count, column names, and
(order-insensitively) values — through ``compare.compare_query`` and its
one verdict, ``compare.failures``.

``builds`` builds each registry entry once per session. The oracle check
(tests/test_inventory.py) takes the built DataFrame; the plan audits
(tests/test_plans.py) read the record the same build left.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Iterable
from typing import NamedTuple

import pytest
from pyspark.sql import DataFrame, SparkSession

import datafusion_ballista_spark
from datafusion_ballista_spark.compare import (
    compare_query,
    failures,
    oracle_connection,
)
from datafusion_ballista_spark.inventory import all_queries
from datafusion_ballista_spark.inventory.tpcds_real import FIXTURE_TABLES, fixture_dir
from datafusion_ballista_spark.session import get_session
from datafusion_ballista_spark.sources.registry import tables

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")

REGISTRY = all_queries()


def module(name: str) -> str:
    """The inventory module that defines an entry's builder."""
    return REGISTRY[name].spark.__module__.rsplit(".", 1)[-1]


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


# Modules whose builders write files or run a stream while building, by
# design; the build-job guard skips them. A stream's jobs run under the
# stream's own job group, so a build's job count cannot see them: at
# sf0.01 on local[4], 8 of the 10 streaming_cov builders counted no job
# while running a stream at build, stream_checkpoint_resume counted 7, and
# 12 of the 14 io_ops builders counted 1-6.
EAGER_MODULES = {"io_ops", "streaming_cov"}

# Builders that fire a Spark job while building. Outside EAGER_MODULES
# tests/test_inventory.py checks both ways, with the fixture tables
# already loaded: a listed builder fires a job, an unlisted one fires none.
EAGER_QUERIES = {
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
    "train_pack_concat_chunks",  # global cumsum offsets collect at construction
    # Under AQE, a localCheckpoint(eager=False) runs the shuffle stages
    # beneath it while the builder builds:
    "ann_ivfpq_refine",
    "ann_mmr_rerank",
    "dedup_incremental",
    "dedup_minhash_lsh",
    "dedup_prefix_filter_join",
    "dedup_semdedup",
    "dedup_substring_exact",
    "text_winnow_fingerprint",
    "train_split_leakage",
}


_PACKAGE = os.path.dirname(datafusion_ballista_spark.__file__) + os.sep
_INVENTORY = os.path.join(_PACKAGE, "inventory") + os.sep

# Codegen and reuse wrappers: they say how a plan runs, not which operator
# code it exercises.
_PLAN_WRAPPERS = ("WholeStageCodegen", "InputAdapter", "ColumnarToRow", "Reused")


class Build(NamedTuple):
    """What one build of a registry entry leaves for the audits."""

    jobs: frozenset[int]  # Spark jobs the build fired, ungrouped ones too
    plan: str  # formatted static physical plan
    # plan classes, Scala objects, data-type kinds and PythonUDF names in
    # the toJSON() of the analyzed and static physical plans, plus the
    # package functions outside inventory/ that the build enters
    fingerprint: frozenset[str]
    # operator names of the static physical plan, subquery plans
    # included, wrappers dropped
    kinds: frozenset[str]
    # the analyzed plan calls assert_true; the optimized plan keeps raise_error
    guard: tuple[bool, bool]


class Builds:
    """One build per registry entry per session. ``take`` builds an entry
    and hands its DataFrame to the caller without keeping it, so the
    ContextCleaner still frees what the build checkpointed; the record
    stays, and indexing returns it, building the entry first if needed."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._records: dict[str, Build] = {}
        # A table's first load fires a job and enters the loader, which
        # would count for whichever entry builds first.
        tables(spark, SF_DIR)
        tables(spark, fixture_dir(), *FIXTURE_TABLES)

    def take(self, name: str) -> tuple[DataFrame, Build]:
        sc = self._spark.sparkContext
        tracker = sc.statusTracker()
        bus = sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()
        # jobs a builder submits from another thread carry no job group
        ungrouped = set(tracker.getJobIdsForGroup(None))
        group = f"build-{name}"
        found: set[str] = set()

        def profile(frame, event, arg):
            path = frame.f_code.co_filename
            if event == "call" and path.startswith(_PACKAGE) and not path.startswith(
                _INVENTORY
            ):
                found.add(f"fn:{path[len(_PACKAGE):]}:{frame.f_code.co_qualname}")

        sc.setJobGroup(group, group)
        sys.setprofile(profile)
        try:
            df = REGISTRY[name].spark(self._spark, SF_DIR)
        finally:
            sys.setprofile(None)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty()
        jobs = set(tracker.getJobIdsForGroup(group)) | (
            set(tracker.getJobIdsForGroup(None)) - ungrouped
        )
        record = Build(frozenset(jobs), *static_plan(self._spark, df, found))
        self._records[name] = record
        return df, record

    def __getitem__(self, name: str) -> Build:
        if name not in self._records:
            self.take(name)
        return self._records[name]


@pytest.fixture(scope="session")
def builds(spark):
    return Builds(spark)


def static_plan(
    spark: SparkSession, df: DataFrame, found: Iterable[str] = ()
) -> tuple[str, frozenset[str], frozenset[str], tuple[bool, bool]]:
    """Plan a built DataFrame's analyzed plan afresh with AQE off, so the
    physical plan is static rather than deferred to runtime, and leave the
    DataFrame's own plan to run under the session default. The analyzed
    plan keeps the relations the build bound: entries rebind the same
    temp-view names (TPC-H's and the star fixture's ``customer`` and
    ``orders``), so a re-resolved parsed plan could read another table.
    Returns the fields of ``Build`` after ``jobs``; ``found`` seeds the
    fingerprint."""
    jvm = spark._jvm
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        qe = spark._jsparkSession.sessionState().executePlan(
            df._jdf.queryExecution().analyzed(),
            jvm.org.apache.spark.sql.execution.CommandExecutionMode.SKIP(),
        )
        plan = qe.explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        elements = set(found)
        for tree in (qe.analyzed(), qe.executedPlan()):
            _plan_elements(json.loads(tree.toJSON()), elements)
        kinds, stack = set(), [qe.executedPlan()]
        while stack:
            node = stack.pop()
            kind = node.nodeName().strip()
            if not kind.startswith(_PLAN_WRAPPERS):
                kinds.add(kind)
            for seq in (node.children(), node.subqueries()):
                stack.extend(seq.apply(i) for i in range(seq.size()))
        guard = (
            "assert_true(" in qe.analyzed().toString(),
            "raise_error(" in qe.optimizedPlan().toString(),
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return plan, frozenset(elements), frozenset(kinds), guard


def _plan_elements(node, found: set[str]) -> None:
    if isinstance(node, list):
        for item in node:
            _plan_elements(item, found)
    elif isinstance(node, dict):
        for key, value in node.items():
            if key in ("class", "object"):
                found.add(f"{key}:{value}")
            elif key == "dataType":
                _type_kinds(value, found)
            else:
                _plan_elements(value, found)
        if node.get("class", "").endswith(".PythonUDF"):
            found.add(f"udf:{node['name']}")


def _type_kinds(dtype, found: set[str]) -> None:
    if isinstance(dtype, str):
        found.add("type:" + dtype.split("(", 1)[0])
        return
    found.add("type:" + dtype["type"])
    for key in ("elementType", "keyType", "valueType"):
        if key in dtype:
            _type_kinds(dtype[key], found)
    for field in dtype.get("fields", ()):
        _type_kinds(field["type"], found)
