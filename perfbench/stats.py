"""Arithmetic of the benchmark, kept free of Spark so it can be unit-tested.

Spans are ``(start, end)`` pairs in seconds. Status-store rows are plain
dicts of numbers, one per stage, as :mod:`perfbench.layers` reads them.
"""

from __future__ import annotations

import math
import re
import statistics
from collections.abc import Iterable, Sequence

# Stage counters summed per query; times in the store are ms unless noted.
STAGE_SUMS = (
    "tasks",
    "failed_tasks",
    "task_run_ms",
    "task_cpu_ns",
    "gc_ms",
    "deserialize_ms",
    "input_bytes",
    "input_rows",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_write_ns",
    "shuffle_fetch_wait_ms",
    "spill_disk_bytes",
)


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """First quartile, median and third quartile, with the same method as
    ``statistics.quantiles(values, n=4)``; a single value is its own
    quartiles."""
    if not values:
        raise ValueError("quartiles of no values")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: Sequence[float]) -> float:
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals or any(v <= 0 for v in vals):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)
    )
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    start, end = span
    return (end - start) - covered(children, start, end)


def sum_stages(rows: Iterable[dict]) -> dict[str, float]:
    """Sum per-stage status-store rows into one record. Skipped stages ran no
    tasks, so they are counted and otherwise ignored; peak execution memory
    is a high-water mark, so it takes the maximum."""
    out = {k: 0.0 for k in STAGE_SUMS}
    out.update(stages=0, skipped_stages=0, peak_exec_mem_bytes=0.0)
    for r in rows:
        if r.get("status") == "SKIPPED":
            out["skipped_stages"] += 1
            continue
        out["stages"] += 1
        for k in STAGE_SUMS:
            out[k] += r.get(k, 0)
        out["peak_exec_mem_bytes"] = max(
            out["peak_exec_mem_bytes"], r.get("peak_exec_mem_bytes", 0)
        )
    return out


_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_TOTAL = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of one SQL-store metric as rendered by Spark: ``'14.0 KiB'``,
    ``'1.2 s'``, ``'3,021'``, or the multi-task form whose second line
    starts with the total (``'total (min, med, max ...)\\n12.8 s (...)'``).
    Sizes come back in bytes and times in seconds."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _TOTAL.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit in SQL metric {text!r}")
    return num * _UNITS.get(unit, 1)
