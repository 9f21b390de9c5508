"""Unit tests of the benchmark's own arithmetic; no Spark session needed.

Run from the root of the checkout: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import math
import os
import statistics
from types import SimpleNamespace

import pytest

from perfbench import layers, stats


def test_median_and_quartiles_match_statistics_module():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    q1, q2, q3 = stats.quartiles(values)
    assert (q1, q2, q3) == tuple(statistics.quantiles(values, n=4))
    assert stats.median(values) == q2 == 5.5
    assert stats.spread(values) == pytest.approx((q3 - q1) / q2)


def test_quartiles_of_one_value_and_of_none():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert stats.spread([2.5]) == 0.0
    with pytest.raises(ValueError):
        stats.quartiles([])
    with pytest.raises(ValueError):
        stats.median([])


def test_geomean():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert stats.geomean(iter([2.0])) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_self_time_subtracts_union_of_children():
    span = (10.0, 20.0)
    # overlapping children count once; parts outside the span are clipped
    children = [(11.0, 13.0), (12.0, 14.0), (18.0, 25.0), (5.0, 6.0)]
    assert stats.covered(children, *span) == pytest.approx(5.0)
    assert stats.self_time(span, children) == pytest.approx(5.0)
    assert stats.self_time(span, []) == pytest.approx(10.0)
    assert stats.self_time(span, [(0.0, 30.0)]) == pytest.approx(0.0)


def _stage(status="COMPLETE", **kw):
    row = {k: 0 for k in stats.STAGE_SUMS}
    row.update(status=status, peak_exec_mem_bytes=0, submitted=None, completed=None)
    row.update(kw)
    return row


def test_sum_stages_skips_skipped_and_takes_peak_max():
    rows = [
        _stage(tasks=4, task_run_ms=100, peak_exec_mem_bytes=10, shuffle_write_bytes=7),
        _stage(tasks=2, task_run_ms=50, peak_exec_mem_bytes=30, failed_tasks=1),
        _stage("SKIPPED", tasks=99, task_run_ms=999, peak_exec_mem_bytes=999),
    ]
    out = stats.sum_stages(rows)
    assert out["stages"] == 2
    assert out["skipped_stages"] == 1
    assert out["tasks"] == 6
    assert out["failed_tasks"] == 1
    assert out["task_run_ms"] == 150
    assert out["shuffle_write_bytes"] == 7
    assert out["peak_exec_mem_bytes"] == 30


@pytest.mark.parametrize(
    "text, value",
    [
        ("3,021", 3021.0),
        ("544.0 B", 544.0),
        ("14.0 KiB", 14.0 * 1024),
        ("1.5 MiB", 1.5 * 1024**2),
        ("902 ms", 0.902),
        ("1.2 s", 1.2),
        ("2.0 m", 120.0),
        ("total (min, med, max (stageId: taskId))\n12.8 s (1.8 s, 1.8 s, 7.3 s (stage 1.0: task 2))", 12.8),
    ],
)
def test_parse_sql_metric(text, value):
    assert stats.parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_rejects_unknown_text():
    with pytest.raises(ValueError):
        stats.parse_sql_metric("n/a")
    with pytest.raises(ValueError):
        stats.parse_sql_metric("3 parsecs")


class FakeReader:
    """Status-store rows for two queries, as :class:`layers.StatusReader`
    returns them."""

    def __init__(self):
        # a's group ran job 0 in its build and job 1 in its execute; b ran
        # no job in its group: job 2 is its streaming batch (group run-7),
        # job 3 belongs to its SQL execution only
        self.groups = {"g-a": [0, 1], "g-b": [], "run-7": [2]}
        self.jobs = {0: [0], 1: [1, 2], 2: [3], 3: [4]}
        self.stages = {
            0: _stage(tasks=1, task_run_ms=400, submitted=1000.6, completed=1001.0),
            1: _stage("SKIPPED"),
            2: _stage(tasks=4, task_run_ms=2000, input_rows=60, submitted=1002.6, completed=1003.5),
            3: _stage(tasks=2, task_run_ms=800, output_bytes=512, submitted=1011.1, completed=1011.5),
            4: _stage(tasks=4, task_run_ms=400, submitted=1013.1, completed=1013.3),
        }

    def group_jobs(self, group):
        return self.groups.get(group, [])

    def job_stages(self, job_id):
        return self.jobs[job_id]

    def stage(self, stage_id):
        return self.stages[stage_id]


def _runs():
    """Spans on a monotonic clock that reads 900 s behind the wall clock."""
    a = layers.QueryRun("p1:a", "a", "g-a", wall0=1000.0, mono0=100.0)
    a.spans = [
        ("sources.load", 100.0, 100.2),
        ("build", 100.0, 101.5),
        ("execute", 101.5, 104.0),
    ]
    # the noop write's planning phases, stamped by Spark on the wall clock
    a.add_wall_spans("plan", [(1001.5, 1001.6), (1001.6, 1002.0)])
    a.marks = {"start": (50, 0), "build": (50, 0), "end": (52, 0)}
    a.build_group_jobs = [0]
    b = layers.QueryRun("p1:b", "b", "g-b", wall0=1010.0, mono0=110.0)
    b.spans = [
        ("streaming.run", 110.5, 112.0),
        ("build", 110.0, 112.5),
        ("execute", 112.5, 113.5),
    ]
    b.add_wall_spans("plan", [(1012.5, 1013.0)])
    b.marks = {"start": (52, 0), "build": (52, 1), "end": (53, 1)}
    return [a, b]


def test_pass_layers_aggregates_store_deltas_per_query():
    execs = [  # store indexes 50, 51, 52
        {"jobs": [1], "python": {"python_run_s": 1.5}},
        {"jobs": [], "python": {"python_run_s": 1.0, "python_bytes_sent": 64.0}},
        {"jobs": [3], "python": {}},
    ]
    state = [SimpleNamespace(commitTimeMs=300, numStateStoreInstances=4,
                             numShufflePartitions=4, memoryUsedBytes=1000,
                             numRowsTotal=50)]
    events = [
        SimpleNamespace(runId="run-7", durationMs={"addBatch": 250, "walCommit": 20},
                        stateOperators=state),
    ]
    m = layers.pass_layers(FakeReader(), _runs(), execs, 50, events, pass_s=4.0, cores=4)
    assert set(m) == set(layers.PASS_METRICS)
    assert m["inventory.build_s"] == pytest.approx(1.5 + 2.5)
    # a's build has a 0.2 s load child; b's build has a 1.5 s streaming child
    assert m["inventory.build_self_s"] == pytest.approx(1.3 + 1.0)
    assert m["inventory.build_jobs"] == 2  # job 0 (a) and job 2 (b's batch)
    assert m["plan.plan_s"] == pytest.approx(1.0)
    # the execute spans less the planning inside them
    assert m["execute.exec_s"] == pytest.approx(2.0 + 0.5)
    # a: 2.5 s minus planning 0.5 s and stage 2's 0.9 s; b: 1.0 s minus
    # planning 0.5 s and stage 4's 0.2 s
    assert m["execute.self_s"] == pytest.approx(1.1 + 0.3)
    assert m["execute.jobs"] == 4
    assert m["execute.stages"] == 4
    assert m["execute.skipped_stages"] == 1
    assert m["execute.tasks"] == 11
    assert m["execute.task_run_s"] == pytest.approx(3.6)
    assert m["execute.core_busy"] == pytest.approx(3.6 / (4.0 * 4))
    assert m["sources.input_rows"] == 60
    assert m["sources.output_bytes"] == 512
    assert m["sources.load_s"] == pytest.approx(0.2)
    assert m["streaming.run_s"] == pytest.approx(1.5)
    assert m["plan.sql_executions"] == 3
    assert m["udf.python_run_s"] == pytest.approx(2.5)
    assert m["udf.python_bytes_sent"] == 64.0
    assert m["streaming.batches"] == 1
    assert m["streaming.add_batch_s"] == pytest.approx(0.25)
    assert m["streaming.wal_commit_s"] == pytest.approx(0.02)
    assert m["streaming.state_commit_s"] == pytest.approx(0.3)
    assert m["streaming.state_instances"] == 4
    assert m["streaming.state_rows"] == 50
    assert m["streaming.state_mem_bytes"] == 1000
    assert m["inventory.build_share"] == pytest.approx(4.0 / 4.0)
    assert m["trace.accounted_frac"] == pytest.approx((4.0 + 1.0 + 2.5) / 4.0)
    assert all(math.isfinite(v) for v in m.values())


def test_input_rows_counts_each_path_once_per_query(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = tmp_path / "t.parquet"
    pq.write_table(pa.table({"x": list(range(7))}), f)
    d = tmp_path / "dir"
    d.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"x": list(range(3))}), d / f"part-{i}.parquet")
    execs = [  # store indexes 50, 51, 52
        {"paths": [str(f)]},
        {"paths": [str(f), str(d)]},  # f counted once for query a
        {"paths": [str(d)]},
    ]
    assert layers.input_rows(_runs(), execs, 50) == {"a": 7 + 6, "b": 6}


def test_every_layer_metric_names_what_it_moves():
    for name in (*layers.PASS_METRICS, "session.start_s", "compare.check_s"):
        metric, workload = layers.moves(name)
        assert metric and workload


def test_rewrite_replaces_scratch_root_in_nested_code():
    from perfbench import sandbox

    def outer():
        def inner():
            return os.path.join("/tmp/dbspark_io", "x")

        return inner(), "/tmp/dbspark_stream"

    code = sandbox._rewrite(
        outer.__code__, {"/tmp/dbspark_io": "/w/io", "/tmp/dbspark_stream": "/w/st"}
    )
    outer.__code__ = code
    assert outer() == ("/w/io/x", "/w/st")


def test_tree_cpu_counts_a_child_that_has_ended():
    import subprocess
    import sys

    from perfbench.run import tree_cpu_s

    before = tree_cpu_s(os.getpid())
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.25


def test_thread_cpu_counts_only_the_given_threads():
    import threading
    import time

    from perfbench.run import thread_cpu_s

    main = f"/proc/{os.getpid()}/task/{threading.get_native_id()}/stat"
    before = thread_cpu_s([main])
    t = time.thread_time()
    while time.thread_time() - t < 0.3:
        pass
    assert thread_cpu_s([main]) - before >= 0.25
    assert thread_cpu_s([]) == 0.0
