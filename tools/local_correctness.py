"""Full-inventory correctness artifact: the driver's 50-query CORRECTNESS
gate, replicated over EVERY registry entry at sf0.01 and written to
LOCAL_CORRECTNESS.json — so each query's hash-match claim is backed by a
committed artifact, not just a green pytest run. The artifact records
the git SHA it was generated from so it binds to a commit without
reading the log.

Usage: python tools/local_correctness.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from datafusion_ballista_spark.compare import (  # noqa: E402
    compare_query,
    failures,
    oracle_connection,
)
from datafusion_ballista_spark.inventory import all_queries  # noqa: E402
from datafusion_ballista_spark.session import (  # noqa: E402
    get_session,
    tool_sizing_conf,
)
from datafusion_ballista_spark.stamp import git_sha as _git_sha  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
# Defaults replicate the driver's sf0.01 gate (local[8]). Larger one-off
# runs (e.g. the sf1 stress gate) size up via env: SPARK_GRAFT_GATE_CPUS
# here, driver heap and scan splits through session.tool_sizing_conf.
GATE_CPUS = os.environ.get("SPARK_GRAFT_GATE_CPUS", "8")
# Comma-separated query names to skip, recorded in the artifact. Used by
# the sf1 stress gate to exclude the two WHITELISTED quadratic ground-truth
# baselines (ann_bruteforce_topk, emb_neardup_cosine): they are documented
# O(N^2)-by-design oracle paths, never the scale path (their LSH/IVF
# counterparts ARE gated at sf1), and at 200k embeddings the all-pairs
# space is ~4e9 dot products — hours of compute proving nothing new.
GATE_EXCLUDE = {
    s for s in os.environ.get("SPARK_GRAFT_GATE_EXCLUDE", "").split(",") if s
}
# Restrict the gate to names matching any of these comma-separated
# prefixes (empty = whole inventory). Used by the star-schema stress gate
# to run just the 99 verbatim tpcds_real_* rows against a scaled fixture.
GATE_ONLY_PREFIXES = [
    s for s in os.environ.get("SPARK_GRAFT_GATE_ONLY_PREFIX", "").split(",") if s
]

# Float-strict whitelist, ASSERTED (round-9 VERDICT Next #4): a row
# whose value hash matches only after the 9dp/12sg normalization
# (float_strict_match: false) FAILS the gate (compare.failures) unless
# named here. Exactly
# two entries, both sf1-stress-scale 1-ULP artifacts of the documented
# decimal->double contract (tests/conftest.py FLOAT_ULP_WHITELIST keeps
# the sf0.01 pytest gate empty-whitelist):
# - tpch_q1: sum_charge = SUM over 6M rows of decimal(18,2)-exact
#   products cast to double at output; Spark and DuckDB round the SAME
#   exact decimal to double with one final-bit difference on one group
#   at sf1 (hash green, 12sg green) — the representation edge the
#   decimal-output ban exists for, surfacing at the last cast.
# - sql_unpivot: same class — the unpivoted measure column re-rounds a
#   decimal-exact sum to double per row; one 1-ULP cell at sf1.
# A THIRD appearance is a regression and fails loudly.
FLOAT_ULP_SF1_WHITELIST = frozenset({"tpch_q1", "sql_unpivot"})


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "LOCAL_CORRECTNESS.json"
    spark = get_session(
        master=f"local[{GATE_CPUS}]",
        app_name="local-correctness",
        shuffle_partitions=int(GATE_CPUS),
        extra_conf=tool_sizing_conf(),
    )
    results: dict[str, dict] = {}
    n_failed = 0
    with oracle_connection(SF_DIR) as con:
        for name, spec in all_queries().items():
            if name in GATE_EXCLUDE:
                continue
            if GATE_ONLY_PREFIXES and not any(
                name.startswith(p) for p in GATE_ONLY_PREFIXES
            ):
                continue
            # progress line BEFORE the run (round 11: a runaway oracle
            # spilled 50 GB with no way to tell which query from the log)
            # and timing after — flush so a stuck run shows its culprit.
            print(f"RUN {name}", file=sys.stderr, flush=True)
            t0 = time.time()
            try:
                df = spec.spark(spark, SF_DIR)
                rec = compare_query(df, con, spec.oracle)
            except Exception as ex:
                rec = {"err": f"{type(ex).__name__}: {ex}"[:500]}
            rec["secs"] = round(time.time() - t0, 2)
            print(f"  {name} {rec['secs']}s", file=sys.stderr, flush=True)
            results[name] = rec
            fails = failures(rec, name in FLOAT_ULP_SF1_WHITELIST)
            if fails:
                rec["failures"] = fails
                n_failed += 1
                print(f"FAIL {name}: {rec}", file=sys.stderr)
    meta = {"sf_dir": SF_DIR, "n": len(results), "failures": n_failed,
            "excluded": sorted(GATE_EXCLUDE), "sha": _git_sha(),
            "results": results}
    if os.environ.get("SPARK_GRAFT_STAR_DIR"):
        meta["star_dir"] = os.environ["SPARK_GRAFT_STAR_DIR"]
    if GATE_ONLY_PREFIXES:
        meta["only_prefixes"] = GATE_ONLY_PREFIXES
    with open(out_path, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    print(f"{len(results) - n_failed}/{len(results)} green -> {out_path}")
    spark.stop()
    return 1 if n_failed else 0


if __name__ == "__main__":
    sys.exit(main())
