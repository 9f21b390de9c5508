"""Per-layer measurement from outside the program.

Three sources, all read by the benchmark's own code:

- spans: wall-clock intervals around calls into each layer's public
  functions (``QuerySpec.spark``, ``BallistaSession.sql``,
  ``sources.registry.load_table``, ``streaming.run_available_now`` and the
  noop write). :class:`Tracer` swaps wrappers in for the traced passes only
  and restores the originals after. The plan spans are the optimization
  and planning phases of the noop write's own ``QueryExecution``, which a
  ``QueryExecutionListener`` (:class:`PlanListener`) reads from its
  ``QueryPlanningTracker``; they lie inside the execute span.
- Spark's app and SQL status stores, read after the listener bus has
  drained. Each query runs under its own job group. One client runs one
  query at a time, so the SQL executions and streaming progress events
  that arrive between the drains at a query's start and end are that
  query's. Spans time with the monotonic clock: the wall clock of a
  virtual machine can jump, and only the stage and plan spans, which
  Spark stamps with it, are placed by it.
- a PySpark ``StreamingQueryListener`` for micro-batch and state-store
  progress.

Spark's ``pythonInitTime`` metric is not reported: a reused Python worker
stamps its boot time when it starts waiting for its next task, so the
metric counts the time the worker sat idle between tasks.

Which end-to-end metric each layer metric should move, and on which
workload, is recorded in :data:`MOVES`.
"""

from __future__ import annotations

import contextlib
import glob
import os
import re
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from perfbench import stats

# layer metric (or "layer.*") -> (end-to-end metric it should move, and on
# which workload); the traced run prints it beside each value
MOVES = {
    "session.start_s": ("setup_s", "both"),
    "session.sql_s": ("pass_s", "relational"),
    "inventory.*": ("pass_s, query_geomean_s", "pipeline"),
    "sources.load_s": ("cold_pass_s", "both"),
    "sources.*": ("input_rows_per_s", "both"),
    "sources.output_bytes": ("pass_s", "relational"),
    "plan.*": ("pass_s", "relational"),
    "execute.*": ("pass_s", "relational, then pipeline"),
    "execute.task_cpu_s": ("pass_cpu_s", "relational, then pipeline"),
    "execute.spill_disk_bytes": ("peak_rss_mb", "both"),
    "execute.peak_exec_mem_bytes": ("peak_rss_mb", "both"),
    "udf.python_boot_s": ("cold_pass_s", "pipeline"),
    "udf.*": ("pass_s", "pipeline"),
    "streaming.*": ("pass_s", "pipeline"),
    "compare.*": ("failed_frac", "both"),
    "trace.*": ("none: tracing itself", "both"),
}


def moves(metric: str) -> tuple[str, str]:
    """The end-to-end metric and workload a layer metric should move."""
    return MOVES.get(metric) or MOVES[metric.split(".")[0] + ".*"]


_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}
# Every metric :func:`pass_layers` reports, whether or not the workload
# exercises the layer.
PASS_METRICS = (
    "session.sql_s",
    "inventory.build_s",
    "inventory.build_self_s",
    "inventory.build_jobs",
    "inventory.build_share",
    "sources.load_s",
    "sources.input_bytes",
    "sources.input_rows",
    "sources.output_bytes",
    "plan.plan_s",
    "plan.sql_executions",
    "execute.exec_s",
    "execute.self_s",
    "execute.jobs",
    "execute.stages",
    "execute.skipped_stages",
    "execute.tasks",
    "execute.failed_tasks",
    "execute.task_run_s",
    "execute.task_cpu_s",
    "execute.gc_s",
    "execute.deserialize_s",
    "execute.core_busy",
    "execute.shuffle_write_bytes",
    "execute.shuffle_read_bytes",
    "execute.shuffle_write_s",
    "execute.shuffle_fetch_wait_s",
    "execute.spill_disk_bytes",
    "execute.peak_exec_mem_bytes",
    *("udf." + k for k in _PY_METRICS.values()),
    "streaming.run_s",
    "streaming.batches",
    "streaming.add_batch_s",
    "streaming.query_planning_s",
    "streaming.wal_commit_s",
    "streaming.state_commit_s",
    "streaming.state_instances",
    "streaming.state_rows",
    "streaming.state_mem_bytes",
    "trace.accounted_frac",
)
_PY_PLAN = re.compile(r"Python|Pandas|Arrow")
_SCAN_PATH = re.compile(r"file:(/[^,\]\s]+)")

_LAYER_CALLS = (
    ("session.sql", "datafusion_ballista_spark.session", "BallistaSession", "sql"),
    ("sources.load", "datafusion_ballista_spark.sources.registry", None, "load_table"),
    ("streaming.run", "datafusion_ballista_spark.streaming", None, "run_available_now"),
)


def _opt_time(opt) -> float | None:
    """Seconds since the epoch from a py4j ``Option[java.util.Date]``."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class QueryRun:
    """One query run. Spans are ``(name, start, end)`` on the
    ``time.perf_counter`` clock and share the run's ``qid``; ``marks`` hold
    the SQL-execution count, the streaming-event count and the count of
    finished query executions at the start of the run (``"start"``), after
    its build (``"build"``) and at its end (``"end"``), each read after the
    listener bus drained."""

    qid: str
    name: str
    group: str
    spans: list[tuple[str, float, float]] = field(default_factory=list)
    marks: dict[str, tuple[int, ...]] = field(default_factory=dict)
    build_group_jobs: list[int] = field(default_factory=list)
    wall0: float = field(default_factory=time.time)
    mono0: float = field(default_factory=time.perf_counter)

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e in self.spans if n == name)

    def interval(self, name: str) -> tuple[float, float]:
        for n, s, e in self.spans:
            if n == name:
                return s, e
        raise KeyError(name)

    def wall(self, t: float) -> float:
        """A ``perf_counter`` reading on the wall clock Spark stamps with."""
        return self.wall0 + (t - self.mono0)

    def add_wall_spans(self, name: str, intervals: list[tuple[float, float]]) -> None:
        """Add spans Spark stamped on the wall clock."""
        for s, e in intervals:
            self.spans.append((name, self.mono0 + (s - self.wall0), self.mono0 + (e - self.wall0)))

    def executions(self, execs: list[dict], base: int, upto: str = "end") -> list[dict]:
        """This run's share of ``execs``, a list starting at index ``base``."""
        return execs[self.marks["start"][0] - base : self.marks[upto][0] - base]

    def events(self, events: list, upto: str = "end") -> list:
        return events[self.marks["start"][1] : self.marks[upto][1]]


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress event, in arrival order."""

    def __init__(self) -> None:
        self.events: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _phases(qe) -> list[tuple[float, float]]:
    """``(start, end)`` in seconds since the epoch of each planning phase
    (analysis, optimization, planning) a ``QueryExecution`` recorded."""
    it = qe.tracker().phases().valuesIterator()
    out = []
    while it.hasNext():
        ph = it.next()
        out.append((ph.startTimeMs() / 1e3, ph.endTimeMs() / 1e3))
    return out


class PlanListener:
    """A ``QueryExecutionListener`` that keeps the planning phases of every
    query execution that finishes, in the order they finish."""

    def __init__(self) -> None:
        self.phases: list[list[tuple[float, float]]] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        self.phases.append(_phases(qe))

    def onFailure(self, func_name, qe, exception) -> None:
        self.phases.append(_phases(qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Records spans around the layer calls of the query that is running."""

    def __init__(self) -> None:
        self.current: QueryRun | None = None
        self._saved: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        start = time.perf_counter()
        try:
            yield
        finally:
            if self.current is not None:
                self.current.spans.append((name, start, time.perf_counter()))

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Swap span-recording wrappers in for every binding of the layer
        functions in the loaded package modules."""
        import importlib

        for name, module, cls, attr in _LAYER_CALLS:
            owner = getattr(importlib.import_module(module), cls) if cls else None
            if owner is not None:
                fn = vars(owner)[attr]
                self._saved.append((owner, attr, fn))
                setattr(owner, attr, self._wrap(name, fn))
                continue
            fn = getattr(sys.modules[module], attr)
            wrapped = self._wrap(name, fn)
            for mod_name, mod in list(sys.modules.items()):
                if mod_name.startswith("datafusion_ballista_spark") and (
                    getattr(mod, attr, None) is fn
                ):
                    self._saved.append((mod, attr, fn))
                    setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)


class StatusReader:
    """Reads Spark's app and SQL status stores through py4j."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def sql_count(self) -> int:
        return self._sql.executionsCount()

    def executions(self, lo: int, hi: int, *, python: bool) -> list[dict]:
        """SQL executions ``lo <= index < hi``, with their job ids, the
        parquet paths their plan scans and (if ``python``) the
        Python-worker metrics of plans that run Python."""
        seq = self._sql.executionsList(lo, hi - lo)
        out = []
        for i in range(seq.size()):
            e = seq.apply(i)
            plan = e.physicalPlanDescription()
            jobs = e.jobs().keys().toSeq()
            rec = {
                "jobs": [jobs.apply(k) for k in range(jobs.size())],
                "paths": sorted(set(_SCAN_PATH.findall(plan))),
                "python": {},
            }
            if python and _PY_PLAN.search(plan):
                rec["python"] = self._python_metrics(e)
            out.append(rec)
        return out

    def _python_metrics(self, e) -> dict[str, float]:
        """Totals of the Python-worker metrics of one execution; the SQL
        store aggregates them over that execution's own stages only. It can
        list one accumulator several times, so each is counted once."""
        values = self._sql.executionMetrics(e.executionId())
        ms = e.metrics()
        out: dict[str, float] = defaultdict(float)
        seen = set()
        for k in range(ms.size()):
            m = ms.apply(k)
            key = _PY_METRICS.get(m.name())
            acc = m.accumulatorId()
            if key and acc not in seen and values.contains(acc):
                seen.add(acc)
                out[key] += stats.parse_sql_metric(values.apply(acc))
        return dict(out)

    def group_jobs(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def job_stages(self, job_id: int) -> list[int]:
        sids = self._store.job(job_id).stageIds()
        return [sids.apply(k) for k in range(sids.size())]

    def stage(self, stage_id: int) -> dict:
        st = self._store.lastStageAttempt(stage_id)
        return {
            "status": st.status().toString(),
            "submitted": _opt_time(st.submissionTime()),
            "completed": _opt_time(st.completionTime()),
            "tasks": st.numCompleteTasks() + st.numFailedTasks(),
            "failed_tasks": st.numFailedTasks(),
            "task_run_ms": st.executorRunTime(),
            "task_cpu_ns": st.executorCpuTime(),
            "gc_ms": st.jvmGcTime(),
            "deserialize_ms": st.executorDeserializeTime(),
            "input_bytes": st.inputBytes(),
            "input_rows": st.inputRecords(),
            "output_bytes": st.outputBytes(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "shuffle_write_ns": st.shuffleWriteTime(),
            "shuffle_fetch_wait_ms": st.shuffleFetchWaitTime(),
            "spill_disk_bytes": st.diskBytesSpilled(),
            "peak_exec_mem_bytes": st.peakExecutionMemory(),
        }


def footer_rows(path: str) -> int:
    """Rows in a parquet file, or in all parquet files under a directory,
    read from the footers."""
    import pyarrow.parquet as pq

    files = (
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isdir(path)
        else [path]
    )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def input_rows(runs: list[QueryRun], executions: list[dict], base: int) -> dict[str, int]:
    """Rows each query reads, counting every scanned parquet path once per
    query from its footers."""
    out = {}
    for r in runs:
        paths = {p for e in r.executions(executions, base) for p in e["paths"]}
        out[r.name] = sum(footer_rows(p) for p in paths if os.path.exists(p))
    return out


def _query_jobs(reader, group_jobs: list[int], execs: list[dict], events: list) -> set[int]:
    """Jobs of a query: those of its job group, of its SQL executions and of
    the job groups (run ids) of its streaming runs."""
    jobs = set(group_jobs)
    for e in execs:
        jobs.update(e["jobs"])
    for p in events:
        jobs.update(reader.group_jobs(str(p.runId)))
    return jobs


def pass_layers(
    reader,
    runs: list[QueryRun],
    executions: list[dict],
    base: int,
    events: list,
    pass_s: float,
    cores: int,
) -> dict[str, float]:
    """Per-layer totals of one traced pass, read after the pass ended.
    ``executions`` are the pass's SQL executions from store index ``base``
    on, ``events`` the streaming progress events of the pass."""
    m = dict.fromkeys(PASS_METRICS, 0.0)
    stage_rows: list[dict] = []
    for r in runs:
        build = r.interval("build")
        execute = r.interval("execute")
        q_execs = r.executions(executions, base)
        q_events = r.events(events)
        job_ids = _query_jobs(reader, reader.group_jobs(r.group), q_execs, q_events)
        m["inventory.build_jobs"] += len(
            _query_jobs(
                reader,
                r.build_group_jobs,
                r.executions(executions, base, "build"),
                r.events(events, "build"),
            )
        )
        for e in q_execs:
            for k, v in e["python"].items():
                m["udf." + k] += v
        stage_ids = {s for j in job_ids for s in reader.job_stages(j)}
        rows = [reader.stage(s) for s in sorted(stage_ids)]
        stage_rows += rows
        ran = [(s["submitted"], s["completed"]) for s in rows if s["submitted"] and s["completed"]]
        build_children = [
            (s, e) for n, s, e in r.spans if n in ("session.sql", "sources.load", "streaming.run")
        ]
        m["inventory.build_s"] += build[1] - build[0]
        m["inventory.build_self_s"] += stats.self_time(build, build_children)
        # planning runs inside the noop write; exec_s is the rest of it
        plans = [(r.wall(s), r.wall(e)) for n, s, e in r.spans if n == "plan"]
        m["plan.plan_s"] += r.total("plan")
        m["execute.exec_s"] += execute[1] - execute[0] - r.total("plan")
        m["execute.self_s"] += stats.self_time(
            (r.wall(execute[0]), r.wall(execute[1])), ran + plans
        )
        m["execute.jobs"] += len(job_ids)
        m["plan.sql_executions"] += len(q_execs)
        for name in ("session.sql", "sources.load", "streaming.run"):
            m[name + "_s"] += r.total(name)
        _add_progress(m, q_events)
    st = stats.sum_stages(stage_rows)
    m.update(
        {
            "execute.stages": st["stages"],
            "execute.skipped_stages": st["skipped_stages"],
            "execute.tasks": st["tasks"],
            "execute.failed_tasks": st["failed_tasks"],
            "execute.task_run_s": st["task_run_ms"] / 1e3,
            "execute.task_cpu_s": st["task_cpu_ns"] / 1e9,
            "execute.gc_s": st["gc_ms"] / 1e3,
            "execute.deserialize_s": st["deserialize_ms"] / 1e3,
            # over the whole pass, not exec_s: the summed task time also
            # holds the jobs that builds fire eagerly
            "execute.core_busy": st["task_run_ms"] / 1e3 / (pass_s * cores),
            "execute.shuffle_write_bytes": st["shuffle_write_bytes"],
            "execute.shuffle_read_bytes": st["shuffle_read_bytes"],
            "execute.shuffle_write_s": st["shuffle_write_ns"] / 1e9,
            "execute.shuffle_fetch_wait_s": st["shuffle_fetch_wait_ms"] / 1e3,
            "execute.spill_disk_bytes": st["spill_disk_bytes"],
            "execute.peak_exec_mem_bytes": st["peak_exec_mem_bytes"],
            "sources.input_bytes": st["input_bytes"],
            "sources.input_rows": st["input_rows"],
            "sources.output_bytes": st["output_bytes"],
        }
    )
    m["inventory.build_share"] = m["inventory.build_s"] / pass_s
    m["trace.accounted_frac"] = (
        m["inventory.build_s"] + m["plan.plan_s"] + m["execute.exec_s"]
    ) / pass_s
    return m


def _add_progress(m: dict[str, float], progress: list) -> None:
    """Micro-batch and state-store totals of one query's streaming runs."""
    last_rows: dict[str, float] = {}
    for p in progress:
        d = p.durationMs or {}
        m["streaming.batches"] += 1
        m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        m["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        m["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        ops = p.stateOperators or []
        m["streaming.state_commit_s"] += sum(o.commitTimeMs for o in ops) / 1e3
        m["streaming.state_instances"] = max(
            m["streaming.state_instances"],
            sum(o.numStateStoreInstances or o.numShufflePartitions for o in ops),
        )
        m["streaming.state_mem_bytes"] = max(
            m["streaming.state_mem_bytes"], sum(o.memoryUsedBytes for o in ops)
        )
        last_rows[str(p.runId)] = sum(o.numRowsTotal for o in ops)
    m["streaming.state_rows"] += sum(last_rows.values())
