"""Benchmark of the datafusion_ballista_spark engine.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload relational --seed 1 --seconds 13 --trace 0
    python3 -m pytest perfbench/tests -q      # the benchmark's own arithmetic

One process drives a closed loop with one client against
``local[<cores>]`` (``spark.sql.shuffle.partitions`` = cores, where cores
is the CPU count this process may use). The queries read the ten sf0.01
testdata tables committed under ``perfbench/data/`` (TPC-DS queries read
the package's ``fixtures/tpcds_star``); ``--seed`` fixes the order of the
queries in every pass. The workloads and why each was chosen are in
:mod:`perfbench.workloads`. A run:

1. sets up: JVM launch, ``get_session``, the inventory import and the
   ``tpch_q6`` warm-up query (``setup_s``);
2. runs one cold pass that collects every query's output, then checks each
   output against the query's DuckDB oracle with ``compare.compare_query``
   (``cold_pass_s``; the check itself is not timed into it);
3. runs ``WARMUP_PASSES`` untimed warm-up passes, then as many timed
   passes as fill ``--seconds`` at the workload's typical pass time, and at
   least ``MIN_TIMED``, each query through a ``noop`` sink.

End-to-end metrics (``--trace 0``), medians over the timed passes. The
result line holds the ones ``BENCHMARK.json`` bounds: ``setup_s`` (wall
clock), ``cold_pass_cpu_s`` and ``pass_cpu_s`` (CPU seconds, user plus
system, that the JVM, its Python workers and this Python process spend on
the cold pass and on a timed pass, less the JVM's JIT compiler threads: see
:meth:`Bench.clock`) and ``peak_rss_mb`` (peak PSS of the JVM and its
Python workers). The report above it adds, unbounded, ``query_cpu_geomean_s``
(the geometric mean of each query's median CPU time) and the wall-clock
``cold_pass_s``, ``pass_s``, ``query_geomean_s`` and ``input_rows_per_s``
(parquet-footer rows the queries scan per pass, over ``pass_s``). On a
shared 4-vCPU host, CPU steal spread the wall-clock figures by 9-61%
(quartiles over ten runs of the same code, as a share of the median), and
the CPU times by 5-20%: the kernel does not charge stolen time to a
process, though busy neighbours still slow the vCPU itself. ``failed_frac``
is ``failed / attempted`` of the result line: query runs that raised or
failed the output check.

With ``--trace 1`` untraced and traced passes alternate, and the run
reports the per-layer metrics of the traced passes (:mod:`perfbench.layers`)
and the tracing overhead, traced minus untraced ``pass_s``; the spans go to
``.perfbench/spans-<workload>-seed<seed>.json``. The last stdout line is
the JSON result; everything above it is a readable report. Every file the
run writes stays under ``.perfbench/`` (:mod:`perfbench.sandbox`).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "datafusion_ballista_spark"
SCALE = "sf0.01"
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", SCALE)
# Passes after the cold one run slower while the JIT compiles; their times
# fall by a third over the first four and swing most from run to run there,
# as the compiler threads compete with the queries for the cores. Warm-up
# passes are run and checked for failures but left out of the timings.
WARMUP_PASSES = 4
MIN_TIMED = 4


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the parent pid follows the parenthesised command name
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds, user and system, spent so far by ``pid`` and every
    process under it. A process's reaped children count in its own
    ``cutime``/``cstime``, so a Python worker that ends between two
    readings is still counted in the second."""
    ticks = 0
    for p in (pid, *descendants(pid)):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_threads(pid: int) -> list[str]:
    """The ``/proc`` stat files of the JIT compiler threads of every JVM
    under ``pid``."""
    paths = []
    for p in descendants(pid):
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/comm") as f:
                    if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        paths.append(f"/proc/{p}/task/{t}/stat")
            except OSError:
                continue
    return paths


def thread_cpu_s(stat_paths: list[str]) -> float:
    """CPU seconds, user and system, spent so far by the given threads."""
    ticks = 0
    for path in stat_paths:
        try:
            with open(path) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident memory with each shared page
    split among the processes mapping it, so the Python workers forked from
    one daemon do not count their shared pages once each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (PSS) of this process's descendants: the
    JVM and its Python workers, sampled from /proc every ``interval``
    seconds."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._interval):
            self.peak = max(self.peak, sum(_pss(p) for p in descendants(me)))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Collected:
    """A DataFrame whose ``collect()`` returns rows already collected, so
    the output check reuses the cold pass's result instead of re-running
    the query."""

    def __init__(self, df, rows) -> None:
        self._df = df
        self._rows = rows

    def collect(self):
        return self._rows

    def __getattr__(self, name):
        return getattr(self._df, name)


def parse_args(argv: list[str]) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    """One benchmark run: a session, its data and the queries of a workload."""

    def __init__(self, args: argparse.Namespace) -> None:
        from perfbench import sandbox
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.workload = WORKLOADS[args.workload]
        self.queries = self.workload.queries
        self.rng = random.Random(args.seed)
        self.work = os.path.join(ROOT, ".perfbench")
        self.data = DATA
        os.environ.update(sandbox.environment(ROOT, self.work))
        tmp = os.environ["TMPDIR"]
        # a fixed set of JIT compiler threads, so that the ones found after
        # set-up carry all compilation CPU to the end of the run
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        )
        self.jit: list[str] = []
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}
        self.traced_runs: list = []
        self.duckdb_s: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> dict[str, float]:
        t0 = time.perf_counter()
        from datafusion_ballista_spark.inventory import all_queries
        from datafusion_ballista_spark.session import get_session
        from perfbench import sandbox

        sandbox.redirect_scratch_roots(self.work)
        self.specs = all_queries()
        t1 = time.perf_counter()
        self.spark = get_session(
            master=f"local[{self.cores}]",
            app_name="perfbench",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
            },
        )
        t2 = time.perf_counter()
        self.jit = jit_threads(os.getpid())
        self._noop(self.specs["tpch_q6"].spark(self.spark, self.data))
        return {"setup_s": time.perf_counter() - t0, "session.start_s": t2 - t1}

    def teardown(self) -> None:
        """Stop Spark, its gateway JVM and every process under them."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass

    def write_spans(self) -> None:
        """Write the traced passes' spans, one record per query run; times
        are seconds on the monotonic clock."""
        path = os.path.join(
            self.work, f"spans-{self.args.workload}-seed{self.args.seed}.json"
        )
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": r.qid,
                        "query": r.name,
                        "spans": [{"name": n, "start": a, "end": b} for n, a, b in r.spans],
                    }
                    for r in self.traced_runs
                ],
                f,
            )

    def clock(self) -> tuple[float, float]:
        """Wall time, and the CPU time of this process's tree less the JIT
        compiler threads', in seconds. Compilation is a cost of the JVM's
        age, not of the pass at hand: C2 compiles in bursts of 0-4 CPU-s a
        pass long after warm-up, the widest swing in a pass's CPU time."""
        wall = time.perf_counter()
        return wall, tree_cpu_s(os.getpid()) - thread_cpu_s(self.jit)

    @staticmethod
    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _order(self) -> list[str]:
        return self.rng.sample(self.queries, len(self.queries))

    def _fail(self, name: str, ex: BaseException) -> None:
        self.failed += 1
        self.errors.setdefault(name, f"{type(ex).__name__}: {ex}"[:300])

    # -- cold pass and output check ------------------------------------------
    def cold_pass(self) -> dict[str, float]:
        from datafusion_ballista_spark.compare import compare_query
        from perfbench import layers

        reader = layers.StatusReader(self.spark)
        reader.drain()
        base = reader.sql_count()
        runs, outputs = [], {}
        cold = cold_cpu = 0.0
        for name in self._order():
            self.attempted += 1
            run = layers.QueryRun(f"cold:{name}", name, "")
            run.marks["start"] = (reader.sql_count(), 0)
            t0, c0 = self.clock()
            try:
                df = self.specs[name].spark(self.spark, self.data)
                outputs[name] = Collected(df, df.collect())
            except Exception as ex:  # a failing query is counted, not fatal
                self._fail(name, ex)
            t1, c1 = self.clock()
            cold += t1 - t0
            cold_cpu += c1 - c0
            reader.drain()
            run.marks["end"] = (reader.sql_count(), 0)
            runs.append(run)
        execs = reader.executions(base, reader.sql_count(), python=False)
        self.input_rows = sum(layers.input_rows(runs, execs, base).values())

        t0 = time.perf_counter()
        mismatches = 0
        with self._oracle() as con:
            for name, out in outputs.items():
                oracle = self.specs[name].oracle
                rec = compare_query(out, con, oracle)
                ok = rec["hash_match"] if oracle else rec["rows_match"]
                if rec.get("err") or not ok:
                    mismatches += 1
                    self.failed += 1
                    self.errors.setdefault(name, json.dumps(rec)[:300])
                elif oracle:
                    # context only: the same query on DuckDB, warm
                    d0 = time.perf_counter()
                    con.execute(oracle).fetchall()
                    self.duckdb_s[name] = time.perf_counter() - d0
        return {
            "cold_pass_s": cold,
            "cold_pass_cpu_s": cold_cpu,
            "compare.check_s": time.perf_counter() - t0,
            "compare.mismatches": mismatches,
        }

    @contextlib.contextmanager
    def _oracle(self):
        """A DuckDB connection with the fixture tables as views."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {self.cores}")
            con.execute("SET memory_limit = '2GB'")
            for f in sorted(os.listdir(self.data)):
                path = os.path.join(self.data, f)
                con.execute(
                    f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{path}')"
                )
            yield con
        finally:
            con.close()

    # -- timed passes --------------------------------------------------------
    def plain_pass(self) -> tuple[float, dict[str, tuple[float, float]]]:
        """One untraced pass: its wall time, and each query's wall time and
        the CPU time the whole process tree spent on it."""
        per_query = {}
        t0 = time.perf_counter()
        for name in self._order():
            self.attempted += 1
            q0, c0 = self.clock()
            try:
                self._noop(self.specs[name].spark(self.spark, self.data))
            except Exception as ex:  # a failing query is counted, not fatal
                self._fail(name, ex)
                continue
            q1, c1 = self.clock()
            per_query[name] = (q1 - q0, c1 - c0)
        return time.perf_counter() - t0, per_query

    def traced_pass(self, index: int) -> tuple[float, dict[str, float]]:
        from pyspark.java_gateway import ensure_callback_server_started

        from perfbench import layers

        sc = self.spark.sparkContext
        reader = layers.StatusReader(self.spark)
        tracer = layers.Tracer()
        listener = layers.ProgressListener()
        plans = layers.PlanListener()
        manager = self.spark._jsparkSession.listenerManager()

        def mark(run, phase: str) -> None:
            reader.drain()
            run.marks[phase] = (
                reader.sql_count(), len(listener.events), len(plans.phases)
            )

        reader.drain()
        base = reader.sql_count()
        runs = []
        self.spark.streams.addListener(listener)
        ensure_callback_server_started(sc._gateway)
        manager.register(plans)
        tracer.install()
        t0 = time.perf_counter()
        try:
            for name in self._order():
                self.attempted += 1
                qid = f"p{index}:{name}"
                run = layers.QueryRun(qid, name, f"perfbench-{qid}")
                mark(run, "start")
                sc.setJobGroup(run.group, run.group)
                tracer.current = run
                try:
                    with tracer.span("build"):
                        df = self.specs[name].spark(self.spark, self.data)
                    mark(run, "build")
                    run.build_group_jobs = reader.group_jobs(run.group)
                    with tracer.span("execute"):
                        self._noop(df)
                except Exception as ex:  # a failing query is counted, not fatal
                    self._fail(name, ex)
                    continue
                mark(run, "end")
                # the noop write is the one query execution that finishes
                # between the build and end marks
                for phases in plans.phases[run.marks["build"][2] : run.marks["end"][2]]:
                    run.add_wall_spans("plan", phases)
                runs.append(run)
            pass_s = time.perf_counter() - t0
        finally:
            tracer.current = None
            tracer.uninstall()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.traced_runs += runs
        reader.drain()
        manager.unregister(plans)
        self.spark.streams.removeListener(listener)
        execs = reader.executions(base, reader.sql_count(), python=True)
        return pass_s, layers.pass_layers(
            reader, runs, execs, base, listener.events, pass_s, self.cores
        )

    def timed_passes(
        self,
    ) -> tuple[list[float], list[float], dict[str, list[tuple[float, float]]], list[dict]]:
        """The warm-up passes, then the timed passes that fill ``--seconds``
        at the workload's typical pass time; with tracing, the warm-up
        passes and then untraced and traced passes in ABBA order."""
        plain, cpu, per_query, traced = [], [], {q: [] for q in self.queries}, []
        timed = max(MIN_TIMED, round(self.args.seconds / self.workload.pass_s))
        for i in range(WARMUP_PASSES + (4 if self.args.trace else timed)):
            # after the warm-up passes: untraced, traced, traced, untraced;
            # the order cancels a linear warm-up trend out of the overhead
            if self.args.trace and (i - WARMUP_PASSES) % 4 in (1, 2):
                dt, layer = self.traced_pass(i)
                traced.append(dict(layer, **{"trace.pass_s": dt}))
            else:
                dt, pq = self.plain_pass()
                if i >= WARMUP_PASSES:
                    plain.append(dt)
                    cpu.append(sum(c for _, c in pq.values()))
                    for q, s in pq.items():
                        per_query[q].append(s)
        return plain, cpu, per_query, traced


def _query_geomean(per_query, which: int) -> float:
    from perfbench import stats

    return stats.geomean(
        stats.median([q[which] for q in v]) for v in per_query.values() if v
    )


def end_to_end(setup, cold, cpu, per_query, rss) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics BENCHMARK.json bounds: set-up time, CPU time
    and memory. The others are in :func:`unbounded`."""
    from perfbench import stats

    return {
        "setup_s": (setup["setup_s"], "s"),
        "cold_pass_cpu_s": (cold["cold_pass_cpu_s"], "s"),
        "pass_cpu_s": (stats.median(cpu), "s"),
        "peak_rss_mb": (rss / 1e6, "MB"),
    }


def unbounded(bench: Bench, cold, plain, per_query) -> dict[str, tuple[float, str]]:
    """End-to-end figures printed in the report but not bounded. On a shared
    host, CPU steal spreads the wall-clock ones several times wider than the
    CPU times between runs of the same code (see the module docstring); the
    per-query CPU geomean weights the small queries, whose CPU swings most,
    as much as the large ones."""
    from perfbench import stats

    pass_s = stats.median(plain)
    return {
        "cold_pass_s": (cold["cold_pass_s"], "s"),
        "pass_s": (pass_s, "s"),
        "query_geomean_s": (_query_geomean(per_query, 0), "s"),
        "query_cpu_geomean_s": (_query_geomean(per_query, 1), "s"),
        "input_rows_per_s": (bench.input_rows / pass_s, "rows/s"),
    }


def per_layer(setup, cold, plain, traced) -> dict[str, tuple[float, str]]:
    from perfbench import stats

    names = sorted({k for t in traced for k in t})
    out = {k: stats.median([t.get(k, 0.0) for t in traced]) for k in names}
    out["session.start_s"] = setup["session.start_s"]
    out["compare.check_s"] = cold["compare.check_s"]
    out["compare.mismatches"] = cold["compare.mismatches"]
    out["trace.untraced_pass_s"] = stats.median(plain)
    out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
    return {k: (v, _unit(k)) for k, v in sorted(out.items())}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "_bytes" in name:
        return "bytes"
    if name.endswith(("_share", "_busy", "_frac")):
        return "ratio"
    return "count"


def main(argv: list[str]) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    started = time.perf_counter()
    sys.path.insert(0, ROOT)
    from perfbench import layers, stats
    args = parse_args(argv)
    # SIGTERM ends the run through the teardown below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    bench = Bench(args)
    marks = [time.perf_counter()]
    with RssSampler() as rss:
        try:
            setup = bench.setup()
            marks.append(time.perf_counter())
            cold = bench.cold_pass()
            marks.append(time.perf_counter())
            plain, cpu, per_query, traced = bench.timed_passes()
            marks.append(time.perf_counter())
        finally:
            bench.teardown()
    marks.append(time.perf_counter())
    if args.trace:
        bench.write_spans()
    failed_frac = bench.failed / bench.attempted
    metrics = (
        per_layer(setup, cold, plain, traced)
        if args.trace
        else end_to_end(setup, cold, cpu, per_query, rss.peak)
    )
    print(
        f"perfbench {args.workload} seed={args.seed} cores={bench.cores} "
        f"{SCALE} passes={len(plain)}+{len(traced)} traced "
        f"run={time.perf_counter() - started:.1f}s"
    )
    print(
        "  phases (s): setup, cold pass and check, warm-up and timed passes, "
        "teardown: " + " ".join(f"{b - a:.1f}" for a, b in zip(marks, marks[1:]))
    )
    for name, (value, unit) in metrics.items():
        target = "moves %s on %s" % layers.moves(name) if args.trace else ""
        print(f"  {name:32s} {value:14.6g} {unit:6s} {target}")
    if not args.trace:
        for name, (value, unit) in unbounded(bench, cold, plain, per_query).items():
            print(f"  {name:32s} {value:14.6g} {unit:6s} not bounded")
    q1, q2, q3 = stats.quartiles(plain)
    print(
        f"  timed passes (s): {' '.join(f'{p:.3f}' for p in plain)}; "
        f"quartiles {q1:.3f} {q2:.3f} {q3:.3f}, spread {stats.spread(plain):.3f}"
    )
    print(f"  timed passes CPU (s): {' '.join(f'{c:.2f}' for c in cpu)}")
    for name, runs in per_query.items():
        if runs:
            duck = bench.duckdb_s.get(name)
            print(
                f"  query {name:30s} median {stats.median([w for w, _ in runs]):8.4f} s, "
                f"CPU {stats.median([c for _, c in runs]):8.4f} s of {len(runs)}"
                + (f"  (DuckDB {duck:.4f} s)" if duck else "")
            )
    print(f"  {'failed_frac':32s} {failed_frac:14.6g} ratio")
    for name, err in sorted(bench.errors.items()):
        print(f"  FAILED {name}: {err}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
