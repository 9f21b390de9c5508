"""Star-schema stress bench: heavy verbatim TPC-DS queries at a scaled
star fixture, Spark vs same-scale DuckDB.

A scale point of its own, like BENCH_local_sf1.json in round 5 (the
repo benchmark is perfbench/). Measurement discipline: one warmup
query, then per query 1 cold + 3 timed iterations
with the median reported; the identical verbatim SQL text runs on DuckDB
(same thread count, same parquet) for the ratio. The query set is the
expensive tier of the 99 verbatim texts: multi-channel CTE monsters
(q4/q14/q23/q78), the fact-to-fact self-join (q64), the windowed rollup
sweep (q67), the returns-chain join (q95), and the 8-subquery cross join
(q88).

Usage:
  SPARK_GRAFT_STAR_DIR=fixtures/tpcds_star_x100 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_DRIVER_MEM=8g SPARK_GRAFT_MAXPART=16m \
  python tools/bench_star.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

# Shared stamp helper (round-9 ADVICE: one implementation, no drift).
from datafusion_ballista_spark.stamp import git_sha as _git_sha

# The heavy verbatim tier: the 8 most expensive TPC-DS texts at x100
# (multi-channel CTEs, the q64 fact self-join DuckDB degrades on).
# Restored in round 11 — the stamp refactor dropped this list, which is
# why the r10 star bench could not be refreshed (NameError).
HEAVY = [
    "tpcds_real_q4",
    "tpcds_real_q14",
    "tpcds_real_q23",
    "tpcds_real_q64",
    "tpcds_real_q67",
    "tpcds_real_q78",
    "tpcds_real_q88",
    "tpcds_real_q95",
]


def main() -> int:
    from datafusion_ballista_spark.compare import oracle_connection
    from datafusion_ballista_spark.inventory import all_queries
    from datafusion_ballista_spark.session import get_session, tool_sizing_conf

    star_dir = os.environ.get("SPARK_GRAFT_STAR_DIR", "fixtures/tpcds_star")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_local_star.json"
    spark = get_session(
        master=f"local[{cpus}]",
        app_name="dbspark-bench-star",
        shuffle_partitions=int(cpus),
        extra_conf=tool_sizing_conf(),
    )
    specs = all_queries()
    names = [n for n in HEAVY if n in specs]

    # warmup: smallest verbatim query primes JVM/codegen/footer caches
    specs["tpcds_real_q3"].spark(spark, star_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    iterations = 3
    cold: dict[str, float] = {}
    steady: dict[str, float] = {}
    for name in names:
        samples: list[float] = []
        for it in range(1 + iterations):
            t0 = time.perf_counter()
            specs[name].spark(spark, star_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = round(time.perf_counter() - t0, 3)
            if it == 0:
                cold[name] = dt
            else:
                samples.append(dt)
        steady[name] = sorted(samples)[len(samples) // 2]

    duck: dict[str, float] = {}
    with oracle_connection(star_dir) as con:
        con.execute(f"SET threads = {int(cpus)}")
        for name in names:
            sql = specs[name].oracle
            if not sql:
                continue
            con.execute(sql).fetchall()  # warm
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            duck[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(steady.values()), 3)
    duck_total = round(sum(duck.values()), 3) if duck else None
    out = {
        "metric": "star_heavy_total_steady",
        "value": total,
        "unit": "sec",
        "queries": steady,
        "star_dir": star_dir,
        "iterations": iterations,
        "queries_cold": cold,
        "duckdb": duck,
        "bench_vs_duckdb": round(total / duck_total, 3) if duck_total else None,
        "sha": _git_sha(),
    }
    line = json.dumps(out)
    print(line)
    with open(out_path, "w") as f:
        f.write(line + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
