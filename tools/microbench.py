#!/usr/bin/env python
"""Micro-benchmarks for the two pure-Python hot loops — the analogue of
the reference's criterion benches (benchmarks/benches/sort_shuffle.rs
posture: component-level timing beside the query-level bench).

Targets:
- KllSketch absorb (streaming batch insert) and merge — operators/kll.py,
  the per-partition loop of sketch_kll_quantiles;
- Avro OCF encode/decode — sources/avro_ocf.py, the per-partition codec
  of scan_avro / write_avro_ocf_dist (both codecs).

Prints ONE JSON line: {"metric": "microbench", "unit": "mb_per_sec",
"cases": {...}} — throughput, so bigger is better; deterministic inputs
(seeded numpy), min of N draws.

Usage: python tools/microbench.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

DRAWS = int(os.environ.get("SPARK_GRAFT_MICRO_DRAWS", "3"))
N_ITEMS = int(os.environ.get("SPARK_GRAFT_MICRO_ITEMS", "2000000"))
N_ROWS = int(os.environ.get("SPARK_GRAFT_MICRO_ROWS", "200000"))


def _best(fn, *args) -> float:
    """Min wall-clock of DRAWS runs (noise floor, not the mean)."""
    best = float("inf")
    for _ in range(DRAWS):
        t0 = time.perf_counter()
        fn(*args)
        best = min(best, time.perf_counter() - t0)
    return best


def bench_kll() -> dict[str, float]:
    from datafusion_ballista_spark.operators.kll import KllSketch

    rng = np.random.default_rng(20260816)
    data = rng.normal(1000.0, 250.0, N_ITEMS)
    mb = data.nbytes / 1e6

    def absorb():
        s = KllSketch(200)
        # 10k-item batches: the Arrow-batch shape mapInPandas feeds it
        for i in range(0, N_ITEMS, 10_000):
            s.absorb(data[i : i + 10_000])
        return s

    t_absorb = _best(absorb)

    # merge: 32 partial sketches (the local[32] partition count) pairwise.
    # KllSketch.merge folds into the accumulator IN PLACE, so each draw
    # must start from fresh copies or draws 2..N would re-merge an
    # already-compressed accumulator (a cheaper workload) and bias the
    # min-of-draws upward.
    import copy

    parts = []
    for pid in range(32):
        s = KllSketch(200)
        s.absorb(data[pid::32])
        parts.append(s)

    def copy_only():
        return [copy.deepcopy(p) for p in parts]

    def copy_and_merge():
        fresh = copy_only()
        acc = fresh[0]
        for p in fresh[1:]:
            acc = acc.merge(p)
        return acc

    # subtract the copy baseline so the reported figure times the same
    # fresh 31-way merge every draw, not the deepcopy overhead
    t_merge = max(1e-9, _best(copy_and_merge) - _best(copy_only))
    return {
        "kll_absorb_mb_per_sec": round(mb / t_absorb, 2),
        "kll_merge32_sketches_per_sec": round(31 / t_merge, 2),
    }


def bench_avro(tmp_dir: str) -> dict[str, float]:
    from datafusion_ballista_spark.sources.avro_ocf import (
        _iter_file_records,
        write_avro_ocf,
    )

    rng = np.random.default_rng(20260816)
    rows = [
        {
            "id": int(i),
            "name": f"name-{i % 997:05d}",
            "score": float(rng.integers(0, 1 << 20)) / 64.0,
            "ok": bool(i % 3),
        }
        for i in range(N_ROWS)
    ]
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "score", "type": "double"},
            {"name": "ok", "type": "boolean"},
        ],
    }
    out: dict[str, float] = {}
    for codec in ("null", "deflate"):
        path = os.path.join(tmp_dir, f"micro_{codec}.avro")
        t_w = _best(write_avro_ocf, rows, schema, path, codec)
        mb = os.path.getsize(path) / 1e6

        def read(p=path):
            n = 0
            for _ in _iter_file_records(p):
                n += 1
            assert n == N_ROWS

        t_r = _best(read)
        out[f"avro_{codec}_encode_mb_per_sec"] = round(mb / t_w, 2)
        out[f"avro_{codec}_decode_mb_per_sec"] = round(mb / t_r, 2)
        os.remove(path)
    return out


def main() -> None:
    import tempfile

    cases: dict[str, float] = {}
    cases.update(bench_kll())
    with tempfile.TemporaryDirectory() as d:
        cases.update(bench_avro(d))
    payload = {
        "metric": "microbench",
        "unit": "mb_per_sec",
        "draws": DRAWS,
        "cases": cases,
    }
    line = json.dumps(payload)
    print(line)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
