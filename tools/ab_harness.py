"""Interactive A/B measurement harness for optimization work.

Run under `python -i tools/ab_harness.py` (or exec in tmux): builds a
local[SPARK_GRAFT_CPUS] session over SPARK_GRAFT_SF_DIR, then exposes:

  t(name, n=3)     -> cold + n steady noop-sink timings for one query
  plan(name, path) -> write .explain("formatted") to path
  ab(names)        -> time several queries

Importing inventory fresh each call (reload=True) lets an edited module
be re-measured without restarting the JVM: pass reload=True to t().
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

from datafusion_ballista_spark.session import get_session  # noqa: E402

spark = get_session(
    master=f"local[{CPUS}]",
    app_name="ab-harness",
    shuffle_partitions=int(CPUS),
)


def _specs(reload: bool = False):
    import datafusion_ballista_spark.inventory as inv

    if reload:
        for modname in list(sys.modules):
            if modname.startswith("datafusion_ballista_spark.inventory"):
                importlib.reload(sys.modules[modname])
        importlib.reload(inv)
    return inv.all_queries()


def t(name: str, n: int = 3, reload: bool = False):
    specs = _specs(reload)
    spark.sparkContext.setJobDescription(f"ab:{name}")
    samples = []
    for i in range(n + 1):
        t0 = time.perf_counter()
        specs[name].spark(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = round(time.perf_counter() - t0, 3)
        samples.append(dt)
    spark.sparkContext.setJobDescription(None)
    cold, steady = samples[0], samples[1:]
    med = statistics.median(steady)
    print(f"{name}: cold={cold} steady={steady} median={med}")
    return med


def plan(name: str, path: str, reload: bool = False):
    specs = _specs(reload)
    df = specs[name].spark(spark, SF_DIR)
    # Prefer the public-ish explainString on the query execution; the
    # PythonSQLUtils helper used before is a private JVM entry point
    # that moves across PySpark versions (r13 ADVICE).
    try:
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    except Exception:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
    with open(path, "w") as f:
        f.write(txt)
    print(f"wrote {path} ({len(txt)} bytes)")


def ab(names, n: int = 3, reload: bool = False):
    return {name: t(name, n, reload) for name in names}


print("ab harness ready: t(name), plan(name, path), ab(names)")


import datetime as _dt
import json as _json
import urllib.request as _ur

_UI = None


def _ui_base():
    global _UI
    if _UI is None:
        port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[-1]
        apps = _json.load(
            _ur.urlopen(f"http://localhost:{port}/api/v1/applications")
        )
        _UI = f"http://localhost:{port}/api/v1/applications/{apps[0]['id']}"
    return _UI


def jobs(desc=None, k=40):
    js = _json.load(_ur.urlopen(f"{_ui_base()}/jobs?status=succeeded"))
    tot = 0.0
    for j in js[:k][::-1]:
        d = j.get("description") or ""
        if desc and desc not in d:
            continue
        st = _dt.datetime.fromisoformat(
            j["submissionTime"].replace("GMT", "+00:00")
        )
        en = _dt.datetime.fromisoformat(
            j["completionTime"].replace("GMT", "+00:00")
        )
        sec = (en - st).total_seconds()
        tot += sec
        print(j["jobId"], round(sec, 3), "s", j["numTasks"], "tasks |", d[:90])
    print("sum", round(tot, 3))


def warm():
    specs = _specs()
    specs["tpch_q6"].spark(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
