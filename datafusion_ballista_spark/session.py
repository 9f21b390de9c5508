"""Session facade mirroring Ballista's client session surface on Spark.

Reference surfaces reproduced (SURVEY.md §3):
- ``SessionContext::remote()/standalone()`` (ballista/client/src/extension.rs:64-127)
  -> ``BallistaSession.standalone()`` / ``.remote(master_url)``
- PyBallista ``SessionContext`` methods ``sql/read_parquet/read_csv/read_json/
  register_*`` (python/python/ballista/extension.py:38-120)
- ``SET``-able config keys (ballista/core/src/config.rs:32-171) translated to
  Spark confs via :mod:`datafusion_ballista_spark.config`.

Spark provides parse/optimize/schedule/shuffle/AQE natively, so this layer is
deliberately thin: its job is API parity, config translation, and SQL-dialect
rewrites, not execution.

Flight SQL / JDBC endpoint (reference: the scheduler proxies Arrow Flight
SQL so BI tools connect over JDBC, docs/source/contributors-guide/
architecture.md:74-78): Spark's native equivalents are the Thrift JDBC/ODBC
server (``sbin/start-thriftserver.sh`` against the same catalog this facade
populates) and Spark Connect (``spark-submit --class
org.apache.spark.sql.connect.service.SparkConnectServer`` /
``spark.api.mode=connect``), both serving the exact SQL surface
``BallistaSession.sql`` exposes. Distribution plumbing is a SURVEY §0
non-goal, so the facade documents the mapping rather than wrapping the
server lifecycle; nothing in this repo assumes a particular endpoint.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from datafusion_ballista_spark.config import SPARK_DEFAULTS, translate
from datafusion_ballista_spark.sql import parse_copy, rewrite_sql

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SET_RE = re.compile(r"^\s*SET\s+(\S+)\s*(?:=|\s+TO\s+)\s*(.+?)\s*;?\s*$", re.IGNORECASE)

# SHOW FUNCTIONS [LIKE 'pattern'] — reference CLI ListFunctions
# (ballista-cli/src/command.rs:44-45,93,123).
_SHOW_FUNCS_RE = re.compile(
    r"^\s*SHOW\s+FUNCTIONS\s*(?:LIKE\s+'([^']*)')?\s*;?\s*$", re.IGNORECASE
)

# information_schema.{tables,columns,...} -> backing temp views
# (ballista/core/src/planner.rs:167-199 enables the same surface locally).
_INFO_SCHEMA_RE = re.compile(
    r"\binformation_schema\.(tables|columns|schemata|df_settings)\b",
    re.IGNORECASE,
)


def _scala_keys(scala_map) -> list:
    """Keys of a py4j-wrapped scala Map."""
    it = scala_map.keysIterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def get_session(
    master: str | None = None,
    app_name: str = "datafusion-ballista-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    b = SparkSession.builder.master(master).appName(app_name)
    conf = dict(SPARK_DEFAULTS)
    if master == "local" or master.startswith("local["):
        # AQE sizes coalesced reducers to 64 MiB — right for network
        # shuffle on a cluster, but in local mode shuffle reads are
        # memory/disk-local and parallelism is the scarce resource: 64 MiB
        # collapses e.g. a 1.5M-group aggregate's output onto one core.
        # Single-process local mode ONLY — the exact match deliberately
        # excludes local-cluster[...] (multi-executor with real shuffle),
        # which keeps Spark's default like any cluster deployment.
        conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = "8m"
        # Same local-only reasoning for coalesce policy (round 14):
        # SPARK_DEFAULTS keeps parallelismFirst=false (the Spark-docs
        # recommendation — advisory-sized reducers are the cluster
        # story, where a near-empty post-shuffle task costs real
        # scheduler/network overhead). In ONE local JVM a task costs
        # ~5 ms, and false serializes every 1-8 MiB exchange onto one
        # core (e.g. ev_range_join_bucketed's 2.6 MiB pair-dedup
        # exchange ran as ONE 250 ms task at sf1). Measured: flipping
        # to true is neutral at sf0.1 (28-query same-JVM alternating
        # A/B, geomean 0.997) and -11..-29% on the sf1 stress queries
        # (plans/r14/confab_pf_*.json).
        conf["spark.sql.adaptive.coalescePartitions.parallelismFirst"] = (
            "true"
        )
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Python UDF workers unpickle functions that reference this package
    # by module name; put its root on their path so they import it
    # whatever the working directory is (Spark merges this with the
    # driver's own PYTHONPATH).
    conf["spark.executorEnv.PYTHONPATH"] = _PACKAGE_ROOT
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tool_sizing_conf() -> dict[str, str]:
    """Driver heap and scan-split ceiling for the standalone tools' larger
    one-off runs, from SPARK_GRAFT_DRIVER_MEM (spark.driver.memory) and
    SPARK_GRAFT_MAXPART (spark.sql.files.maxPartitionBytes); an unset
    variable keeps Spark's default.

    A 1g default driver heap fails on broadcast *materialization* at sf1,
    a harness limit rather than a plan defect. The sf1 and scaled star
    fixtures are ~50 MB single files, so the 128 MB default split makes
    each scan one task; 16m restores the multi-task scans a cluster has."""
    env = {
        "spark.driver.memory": "SPARK_GRAFT_DRIVER_MEM",
        "spark.sql.files.maxPartitionBytes": "SPARK_GRAFT_MAXPART",
    }
    return {k: os.environ[v] for k, v in env.items() if os.environ.get(v)}


class BallistaSession:
    """API-parity facade over ``SparkSession``.

    Mirrors the reference's dual SQL/DataFrame entry points
    (examples/examples/remote-sql.rs, remote-dataframe.rs) — both drive the
    same Catalyst logical plan here, exactly as both drive the same
    DataFusion LogicalPlan there.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # -- constructors mirroring SessionContextExt (extension.rs:64-127) -----
    @classmethod
    def standalone(cls, cpus: int | None = None, **conf: str) -> "BallistaSession":
        master = f"local[{cpus}]" if cpus else None
        return cls(get_session(master=master, extra_conf=conf or None))

    @classmethod
    def remote(cls, master_url: str, **conf: str) -> "BallistaSession":
        return cls(get_session(master=master_url, extra_conf=conf or None))

    # -- SQL entry point -----------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """Run SQL after dialect rewrites; handles SET key=value inline
        (reference test: ballista/client/tests/context_checks.rs:239-340)."""
        m = _SET_RE.match(query)
        if m:
            k, v = translate(m.group(1), m.group(2).strip("'\""))
            self.spark.conf.set(k, str(v))
            return self.spark.sql("SELECT 1 AS ok").limit(0)
        mf = _SHOW_FUNCS_RE.match(query)
        if mf:
            return self._show_functions(mf.group(1))
        cp = parse_copy(query)
        if cp is not None:
            return self._copy_to(cp)
        if _INFO_SCHEMA_RE.search(query):
            self._refresh_information_schema()
            query = _INFO_SCHEMA_RE.sub(
                lambda m: f"information_schema_{m.group(1).lower()}", query
            )
        return self.spark.sql(rewrite_sql(query))

    def _show_functions(self, like: str | None) -> DataFrame:
        """``SHOW FUNCTIONS [LIKE '...']`` — the reference CLI's
        ListFunctions command (ballista-cli/src/command.rs:44-45,93,123
        lists registered scalar + aggregate UDFs). Output is an
        information_schema.routines-style table over the DataFusion-name
        compat surface (functions.py FUNCTIONS): the name, its kind
        (scalar/aggregate), and whether Spark's live catalog resolves the
        name natively (``spark_native``) or through a compat shim —
        recomputed via ``catalog.functionExists`` per call, so a Spark
        builtin-surface drift shows up here (and in the oracle gate)
        rather than silently changing resolution.

        Scale: driver-side metadata only (a ~127-row literal DataFrame);
        no jobs, no scans."""
        import fnmatch

        from datafusion_ballista_spark.functions import (
            AGGREGATE_NAMES,
            FUNCTIONS,
        )

        cat = self.spark.catalog
        names = sorted(FUNCTIONS)
        if like is not None:
            # SQL LIKE wildcards -> fnmatch (%/_ -> */?). Glob
            # metacharacters already in the LIKE pattern are literals in
            # SQL, so escape them ([..]-wrap) before substituting, else a
            # literal '*'/'?'/'[' would get glob semantics.
            pat = "".join(
                "*" if ch == "%"
                else "?" if ch == "_"
                else f"[{ch}]" if ch in "*?[]"
                else ch
                for ch in like
            )
            names = [n for n in names if fnmatch.fnmatchcase(n, pat)]
        rows = [
            (
                n,
                "aggregate" if n in AGGREGATE_NAMES else "scalar",
                "YES" if cat.functionExists(n) else "NO",
            )
            for n in names
        ]
        return self.spark.createDataFrame(
            rows,
            "function_name string, function_type string, spark_native string",
        ).orderBy("function_name")

    def _refresh_information_schema(self) -> None:
        """Materialize information_schema.{schemata,tables,columns,
        df_settings} as temp views from the live catalog — the reference
        enables DataFusion's information_schema for local runs
        (ballista/core/src/planner.rs:167-199) and exposes SET values as
        df_settings. Spark can't host views inside a literal
        ``information_schema`` database, so ``sql()`` rewrites the dotted
        names to these views transparently.

        Scale: catalog enumeration is driver-side metadata only (no jobs);
        views are rebuilt per query so results track the live catalog."""
        spark = self.spark
        cat = spark.catalog
        catalog_name = cat.currentCatalog()
        schemata = [(catalog_name, db.name) for db in cat.listDatabases()]
        spark.createDataFrame(
            schemata, "catalog_name string, schema_name string"
        ).createOrReplaceTempView("information_schema_schemata")

        tbls, cols = [], []
        for t in cat.listTables():
            schema = t.namespace[0] if t.namespace else "session"
            ttype = (
                "TEMPORARY VIEW"
                if t.isTemporary
                else ("VIEW" if t.tableType == "VIEW" else "BASE TABLE")
            )
            tbls.append((catalog_name, schema, t.name, ttype))
            # Qualify the lookup for catalog tables: an unqualified name is
            # resolved temp-view-first, so a temp view shadowing a catalog
            # table would return the view's columns for both rows (and
            # global_temp entries can fail resolution entirely).
            qualified = (
                t.name
                if t.isTemporary and not t.namespace
                else ".".join([*t.namespace, t.name])
            )
            for i, c in enumerate(cat.listColumns(qualified), start=1):
                cols.append(
                    (
                        catalog_name,
                        schema,
                        t.name,
                        c.name,
                        i,
                        c.dataType,
                        "YES" if c.nullable else "NO",
                    )
                )
        spark.createDataFrame(
            tbls,
            "table_catalog string, table_schema string, table_name string, "
            "table_type string",
        ).createOrReplaceTempView("information_schema_tables")
        spark.createDataFrame(
            cols,
            "table_catalog string, table_schema string, table_name string, "
            "column_name string, ordinal_position int, data_type string, "
            "is_nullable string",
        ).createOrReplaceTempView("information_schema_columns")
        # df_settings: explicitly-set session confs (DataFusion's SET dump).
        spark.sql("SET").selectExpr(
            "key AS name", "value"
        ).createOrReplaceTempView("information_schema_df_settings")

    def _copy_to(self, cp) -> DataFrame:
        """Execute a parsed COPY statement (datafusion.proto:269-278 CopyTo;
        client test context_checks.rs:657 write-read roundtrip): distributed
        ``df.write`` of the source query, then a 1-row count result —
        DataFusion's COPY output shape.

        Scale: the write is the plain distributed writer (one file per
        partition); the count-back is parquet-footer metadata for parquet
        (no data scan) and validates the written output exists."""
        df = self.spark.sql(rewrite_sql(cp.source_sql))
        writer = df.write.mode("overwrite").format(cp.fmt)
        if cp.fmt == "csv":
            # DataFusion's CSV writer emits a header row by default.
            writer = writer.option("header", True)
        if cp.options:
            writer = writer.options(**cp.options)
        if cp.partition_by:
            writer = writer.partitionBy(*cp.partition_by)
        writer.save(cp.path)
        back = self.spark.read.format(cp.fmt)
        if cp.fmt == "csv":
            back = back.option("header", True)
        n = back.load(cp.path).count()
        return self.spark.createDataFrame([(n,)], "count bigint")

    # -- EXPLAIN parity (context_checks.rs:1072,1129,1213) --------------------
    def explain(self, query: str, analyze: bool = False) -> str:
        """Plan text for a SQL query, mirroring the reference's EXPLAIN /
        EXPLAIN ANALYZE (DistributedExplainAnalyzeExec). ``analyze=True``
        executes the query (noop-sinked) and returns the final AQE plan with
        per-operator runtime metrics — the same information the reference
        aggregates from task metrics."""
        df = self.sql(query)
        if not analyze:
            jvm = self.spark._jvm
            return df._jdf.queryExecution().explainString(
                jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        # collect() drives THIS DataFrame's QueryExecution (a write would
        # spawn a separate one, leaving this plan unfinalized/metric-less)
        df.collect()
        exec_plan = df._jdf.queryExecution().executedPlan()
        return exec_plan.toString() + "\n" + self._metrics_table(exec_plan)

    @staticmethod
    def _metrics_table(exec_plan) -> str:
        """Per-operator runtime metrics, the DistributedExplainAnalyzeExec
        output shape: one line per plan node with its recorded SQL metrics
        (rows output, spill sizes, build/probe times, ...)."""
        lines: list[str] = ["== Operator Metrics =="]

        def walk(node, depth: int) -> None:
            mets = dict(
                (k, node.metrics().get(k).get().value())
                for k in _scala_keys(node.metrics())
            )
            shown = ", ".join(
                f"{k}={v}" for k, v in sorted(mets.items()) if v not in (0, -1)
            )
            lines.append(f"{'  ' * depth}{node.nodeName()}: {shown or '-'}")
            # AQE wrappers (AdaptiveSparkPlan, query stages) hide the real
            # subtree from children(); unwrap to their materialized plan.
            # Probe the accessor ONLY (its absence is the expected failure),
            # then recurse outside the except so a real error deep in the
            # subtree propagates instead of triggering a duplicate re-walk.
            child = None
            for meth in ("executedPlan", "plan"):
                try:
                    child = getattr(node, meth)()
                    break
                except Exception:
                    continue
            if child is not None:
                walk(child, depth + 1)
                return
            for i in range(node.children().size()):
                walk(node.children().apply(i), depth + 1)

        walk(exec_plan, 0)
        return "\n".join(lines)

    def analyze_table(
        self, name: str, columns: bool | list[str] | None = None
    ) -> None:
        """ANALYZE parity (datafusion.proto:224-228): compute the statistics
        the optimizer's size/selectivity estimates read. ``columns=True``
        adds per-column min/max/null-count/NDV (the reference's ColumnStats,
        datafusion_common.proto:655-681, which drive its stats-based join
        selection, scheduler/src/physical_optimizer/join_selection.rs:17-56);
        a list analyzes only those columns."""
        stmt = f"ANALYZE TABLE {name} COMPUTE STATISTICS"
        if columns is True:
            stmt += " FOR ALL COLUMNS"
        elif columns:
            stmt += " FOR COLUMNS " + ", ".join(columns)
        self.spark.sql(stmt)

    # -- config (core/src/config.rs) ------------------------------------------
    def set(self, key: str, value: object) -> None:
        if key == "ballista.job.name":
            # BALLISTA_JOB_NAME (core/src/config.rs:32) labels the job in the
            # scheduler UI; Spark's equivalent is the job description.
            self.spark.sparkContext.setJobDescription(str(value))
            return
        k, v = translate(key, value)
        self.spark.conf.set(k, str(v))

    def get(self, key: str, default: str | None = None) -> str | None:
        k, _ = translate(key, None)
        return self.spark.conf.get(k, default)

    # -- readers (python/python/ballista/extension.py:60-120) ----------------
    def read_parquet(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    def read_csv(self, path: str, **options) -> DataFrame:
        options.setdefault("header", True)
        options.setdefault("inferSchema", True)
        return self.spark.read.options(**options).csv(path)

    def read_json(self, path: str, **options) -> DataFrame:
        return self.spark.read.options(**options).json(path)

    def read_avro(self, path: str, **options) -> DataFrame:
        # Prefer the native spark-avro module when its jar is on the
        # classpath; otherwise fall back to the pure-Python OCF data source
        # (sources/avro_datasource.py, one task per file). Reference Avro scan:
        # datafusion.proto:1155-1158 (AvroScanExecNode).
        #
        # CI note: this sandbox has no spark-avro jar, so only the OCF
        # fallback is exercised here (tests/test_avro.py, driver-green
        # round 4). A deployment that adds the jar
        # (--packages org.apache.spark:spark-avro_2.13:<spark-version>)
        # takes the first branch, which is intentionally a plain
        # spark.read.format("avro") — nothing engine-specific to retest
        # beyond the dispatch itself, which test_avro.py pins.
        try:
            return self.spark.read.format("avro").options(**options).load(path)
        except Exception as ex:
            # Spark 4.x raises error class DATA_SOURCE_NOT_FOUND with message
            # "Failed to find the data source: avro"; match the class when
            # exposed, else a substring tolerant of both 3.x/4.x phrasings.
            probe = getattr(
                ex, "getCondition", getattr(ex, "getErrorClass", lambda: None)
            )
            klass = probe()
            if klass == "DATA_SOURCE_NOT_FOUND" or re.search(
                r"Failed to find (?:the )?data source: avro", str(ex)
            ):
                from datafusion_ballista_spark.sources.datasource import register

                register(self.spark)
                return self.spark.read.format("avro_ocf").load(path)
            raise

    def read_arrow(self, path: str) -> DataFrame:
        """Arrow IPC file(s), file or stream format: a file, a directory of
        ``.arrow`` files or a glob, one task per file."""
        from datafusion_ballista_spark.sources.datasource import register

        register(self.spark)
        return self.spark.read.format("arrow_ipc").load(path)

    # -- register as table (extension.py register_* methods) -----------------
    def register_parquet(self, name: str, path: str) -> None:
        self.read_parquet(path).createOrReplaceTempView(name)

    def register_csv(self, name: str, path: str, **options) -> None:
        self.read_csv(path, **options).createOrReplaceTempView(name)

    def register_json(self, name: str, path: str, **options) -> None:
        self.read_json(path, **options).createOrReplaceTempView(name)

    def register_arrow(self, name: str, path: str) -> None:
        self.read_arrow(path).createOrReplaceTempView(name)

    def register_view(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    # -- catalog parity (SHOW TABLES / information_schema, SURVEY §2.2) ------
    def tables(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()]

    # -- serving endpoint (reference Flight SQL / JDBC entry point) ----------
    def serve(self, port: int = 15002) -> str:
        """Start a Spark Connect gRPC endpoint inside this session's JVM —
        the analogue of the reference scheduler's Flight SQL service that
        JDBC clients dial (docs/source/contributors-guide/architecture.md:
        74-78, ballista/scheduler/src/flight_sql.rs): remote clients get a
        network SQL entry point into the SAME running session, seeing its
        registered views and settings.

        Returns the client URL (``sc://localhost:<port>``). Any Spark
        Connect client (``SparkSession.builder.remote(url)`` from a
        machine with grpcio, JDBC via the Connect driver, etc.) can
        attach. NOTE: ``spark.connect.grpc.binding.port`` is a static
        conf — it must be set when the session is BUILT (pass it to
        ``standalone()``/``get_session``); an already-running session
        serves on the port it was built with, and this method raises if
        a different ``port`` is requested so the mismatch is loud
        instead of a silent wrong-port bind."""
        built = int(self.spark.conf.get("spark.connect.grpc.binding.port", "15002"))
        if port != built:
            raise ValueError(
                f"session was built with spark.connect.grpc.binding.port="
                f"{built}; pass that conf at session build time to serve "
                f"on {port}"
            )
        jsc = self.spark._sc._jsc.sc()
        self.spark._sc._jvm.org.apache.spark.sql.connect.service.SparkConnectService.start(jsc)
        return f"sc://localhost:{built}"

    def stop_serving(self) -> None:
        """Stop the Spark Connect endpoint started by :meth:`serve` (the
        session itself stays alive — mirrors the reference scheduler
        shutting its Flight SQL listener without killing executors)."""
        jvm = self.spark._sc._jvm
        none = jvm.scala.Option.empty()
        jvm.org.apache.spark.sql.connect.service.SparkConnectService.stop(
            none, none
        )

    # -- runtime introspection (reference scheduler REST api/routes.rs) ------
    def status(self) -> dict:
        """Job/stage/executor counts from the live statusTracker — the
        honest single-process analogue of the reference scheduler's REST
        introspection surface (ballista/scheduler/src/api/routes.rs
        /api/jobs, /api/executors; health.rs). Driver-side metadata only,
        no jobs launched."""
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        jst = self.spark._sc._jsc.sc().statusTracker()
        return {
            "app_id": sc.applicationId,
            "master": sc.master,
            "executor_count": len(jst.getExecutorInfos()),
            "default_parallelism": sc.defaultParallelism,
            "active_job_count": len(st.getActiveJobsIds()),
            "active_stage_count": len(st.getActiveStageIds()),
        }

    def metrics(self) -> dict:
        """CUMULATIVE job/stage/task/query counters plus per-query wall
        time — the analogue of the reference scheduler's
        SchedulerMetricsCollector (ballista/scheduler/src/metrics/
        mod.rs:30-45: job submitted/completed/failed events; the
        optional Prometheus exporter in metrics/prometheus.rs renders
        the same counters). Spark's own always-on listeners
        (AppStatusListener, SQLAppStatusListener) already accumulate
        these into the driver's status stores; this reads those stores
        directly — no callback server, no extra listener registration,
        and unlike :meth:`status` (instantaneous counts, the REST
        /api/jobs analogue) the totals never reset while the session
        lives. Driver-side metadata only; no jobs launched.

        Eviction semantics: the stores retain only the last
        ``spark.ui.retainedJobs`` / ``spark.sql.ui.retainedExecutions``
        entries (1000 each by default), so per-entry counters
        (failed/running splits, task counts, wall-time sums) are
        WINDOWED by that retention — the Spark UI's own semantics. The
        headline totals are eviction-proof: completed job/stage counts
        come from the store's appSummary (a plain counter), and
        ``queries.submitted_total`` derives from the monotonically
        increasing SQL execution id."""
        store = self.spark._sc._jsc.sc().statusStore()
        summary = store.appSummary()
        jobs = store.jobsList(None)
        job_counts = {
            # true cumulative total, survives store eviction
            "succeeded": summary.numCompletedJobs(),
            "failed": 0,
            "running": 0,
        }
        tasks_completed = tasks_failed = 0
        stage_counts = {
            "complete": summary.numCompletedStages(),  # eviction-proof
            "failed": 0,
            "active": 0,
            "skipped": 0,
        }
        for i in range(jobs.size()):
            j = jobs.apply(i)
            key = {
                "SUCCEEDED": "succeeded",
                "FAILED": "failed",
            }.get(j.status().toString(), "running")
            if key != "succeeded":
                job_counts[key] += 1
            tasks_completed += j.numCompletedTasks()
            tasks_failed += j.numFailedTasks()
            stage_counts["failed"] += j.numFailedStages()
            stage_counts["active"] += j.numActiveStages()
            stage_counts["skipped"] += j.numSkippedStages()
        # per-SQL-execution wall clock from the SQL status store (the
        # SQLAppStatusListener feed behind the Spark UI's SQL tab)
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        q_completed = q_failed = q_running = 0
        max_exec_id = -1
        wall_ms: list[int] = []
        for i in range(execs.size()):
            e = execs.apply(i)
            max_exec_id = max(max_exec_id, e.executionId())
            err = e.errorMessage()
            if err.isDefined() and err.get():
                q_failed += 1
            elif e.completionTime().isDefined():
                q_completed += 1
                wall_ms.append(
                    e.completionTime().get().getTime() - e.submissionTime()
                )
            else:
                q_running += 1
        return {
            "jobs": job_counts,
            "stages": stage_counts,
            "tasks": {"completed": tasks_completed, "failed": tasks_failed},
            "queries": {
                # execution ids are assigned monotonically, so the max id
                # counts every SQL execution ever submitted — eviction-proof
                "submitted_total": max_exec_id + 1,
                "completed": q_completed,
                "failed": q_failed,
                "running": q_running,
                "total_wall_ms": int(sum(wall_ms)),
                "max_wall_ms": int(max(wall_ms)) if wall_ms else 0,
            },
        }

    def stop(self) -> None:
        self.spark.stop()
