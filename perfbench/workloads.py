"""The benchmark's workloads: which inventory queries each runs, and why.

Every workload is a closed loop with one client: each query runs to
completion before the next one starts. A pass runs every query of the
workload once, in an order drawn from the run's seed.

A run starts a fresh JVM (about 12 s of set-up) and makes one cold pass
that also checks every output, then warm-up passes before the timed ones,
so each workload runs the subset of its inventory family that covers the
layers it stresses, and keeps a pass near 3 s so that a run holds several
passes. The shares of a pass named in each ``why`` are from traced runs on
a 4-core machine.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    why: str
    queries: tuple[str, ...]
    # Typical warm pass time on a 4-core machine. A run times
    # round(seconds / pass_s) passes, and at least perfbench.run.MIN_TIMED,
    # a number fixed by the workload and --seconds alone: pass time still
    # drifts down as the JIT warms, so a run that fitted more passes into
    # the same seconds would report a lower median for the same code.
    pass_s: float


WORKLOADS: dict[str, Workload] = {
    "relational": Workload(
        why=(
            "TPC-H/TPC-DS joins, aggregates and a parquet write round-trip on "
            "sf0.01: execution and planning are about 70% of a pass, query build 30%; "
            "UDF and state-store layers stay idle"
        ),
        queries=(
            "tpch_q1",
            "tpch_q5",
            "tpch_q18_large_volume",
            "h2o_g2_sum_by_id1_id2",
            "tpcds_q64_shape",
            "ev_range_join_bucketed",
            "write_parquet_roundtrip",
        ),
        pass_s=3.2,
    ),
    "pipeline": Workload(
        why=(
            "An LLM-pipeline sketch op on pandas UDFs and an availableNow "
            "session-window stream on sf0.01: build, with its eager jobs and "
            "the stream, is 75% of a pass; the only UDF and state-store workload"
        ),
        queries=(
            "sketch_kll_quantiles",
            "stream_session_windows",
        ),
        pass_s=3.2,
    ),
}
