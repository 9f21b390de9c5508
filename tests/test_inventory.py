"""Every inventory query runs on Spark and (when an oracle exists)
hash-matches DuckDB — the same gate the driver applies at sf0.01."""

from __future__ import annotations

import pytest

from datafusion_ballista_spark.inventory import WINDOW, all_queries
from datafusion_ballista_spark.sources.registry import tables
from tests.conftest import (
    EAGER_QUERIES,
    LAZY_QUERIES,
    SF_DIR,
    assert_query_matches,
)

_ALL = all_queries()


@pytest.mark.parametrize("name", sorted(_ALL))
def test_inventory_query(name, spark, oracle):
    spec = _ALL[name]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # load the fixture tables first: a table's first load fires a job of
    # its own, which would count for whichever builder loads it first
    tables(spark, SF_DIR)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # jobs a builder submits from another thread carry no job group
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"build-{name}"
    sc.setJobGroup(group, group)
    try:
        df = spec.spark(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    if name in EAGER_QUERIES or name in LAZY_QUERIES:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = set(tracker.getJobIdsForGroup(group)) | (
            set(tracker.getJobIdsForGroup(None)) - ungrouped
        )
        if name in EAGER_QUERIES:
            assert jobs, f"[{name}] listed as eager but fired no job while building"
        else:
            assert not jobs, f"[{name}] fired jobs {sorted(jobs)} while building"
    assert_query_matches(df, oracle, spec.oracle, name)


def test_rows_only_set_is_exactly_the_documented_exception():
    """oracle=None is the weaker driver check, so it must stay a loud,
    named exception (the decimal/float whitelist discipline). The set
    is EMPTY as of round 13: the last holdout, the KLL compaction
    cascade (whose ESTIMATE is a function of physical partition/batch
    order and therefore can never be replayed cross-engine), was made
    hash-provable by restructuring its output to deterministic order
    statistics with the sketch pinned by an in-plan assert_true —
    every registry entry now has a DuckDB oracle. A new rows-only
    entry must be argued here, not slipped in."""
    rows_only = {n for n, s in _ALL.items() if s.oracle is None}
    assert rows_only == set()


def test_driver_window_rotation():
    """The CORRECTNESS gate checks only the FIRST 50 registry entries:
    they are exactly WINDOW, in order, and the pool order continues
    where the r15 queue starts (the r12/r13-checked text greens)."""
    assert len(WINDOW) == 50 == len(set(WINDOW))
    assert set(WINDOW) <= set(_ALL)
    names = list(_ALL)
    assert names[:50] == WINDOW
    assert names[50] == "quality_token_entropy"
