#!/usr/bin/env python
"""Micro-benchmark for the pure-Python Avro codec — the analogue of the
reference's criterion benches (benchmarks/benches/sort_shuffle.rs
posture: component-level timing beside the query-level bench).

Target: Avro OCF encode/decode — sources/avro_ocf.py, the per-file codec
of the ``avro_ocf`` data source that scan_avro reads and writes through
(both codecs).

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
N_ROWS = int(os.environ.get("SPARK_GRAFT_MICRO_ROWS", "200000"))


def _best(fn, *args) -> float:
    """Min wall-clock of DRAWS runs (noise floor, not the mean)."""
    best = float("inf")
    for _ in range(DRAWS):
        t0 = time.perf_counter()
        fn(*args)
        best = min(best, time.perf_counter() - t0)
    return best


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
            n = sum(len(block) for block in _iter_file_records(p))
            if n != N_ROWS:
                raise RuntimeError(f"decoded {n} rows from {p}, wrote {N_ROWS}")

        t_r = _best(read)
        out[f"avro_{codec}_encode_mb_per_sec"] = round(mb / t_w, 2)
        out[f"avro_{codec}_decode_mb_per_sec"] = round(mb / t_r, 2)
        os.remove(path)
    return out


def main() -> None:
    import tempfile

    cases: dict[str, float] = {}
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
