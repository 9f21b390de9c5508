"""Mergeable quantile sketches + range-partition cuts (SURVEY §2.5
approx-agg family; the last reference-native sketch family unmatched
after round 9's HLL/CMS).

Reference parity: Ballista implements a KLL sketch
(``ballista/core/src/kll.rs:17-122``) and t-digest-backed runtime
statistics (``ballista/core/src/execution_plans/runtime_stats.rs``)
whose one consumer is the scheduler's choice of global range-partition
boundaries. This module re-expresses that capability Spark-first as
three operators over ``lineitem.l_extendedprice``:

* ``sketch_quantile_bottomk`` — deterministic bottom-k (md5-hash-order)
  uniform sample quantiles, ORACLE-PAIRED: the per-partition top-k by
  hash IS the mergeable sketch (merge = top-k of the union — Spark
  executes it as TakeOrderedAndProject, O(k) state per partition,
  communication independent of N), and DuckDB replays it bit-identically
  (ORDER BY hash LIMIT k). Exact-rank witness columns on every row.
* ``sketch_range_partition_cuts`` — the runtime_stats.rs use case: cut
  the value domain into P buckets at the sketch's i/P quantiles and
  report each bucket's EXACT population and skew, all from one
  conditional-aggregation corpus pass. Oracle-paired.
* ``sketch_kll_quantiles`` — a true compactor-stack KLL
  (operators/kll.py, deterministic coins) run executor-side over Arrow
  batches and merged in one bounded task — the exact
  executor-sketch -> scheduler-merge topology of the reference. The
  compaction cascade consumes items in physical partition/batch order,
  so the ESTIMATE is a function of the execution layout — no
  cross-engine replay of the estimate can exist even in principle.
  Round 13 made the entry hash-provable anyway by restructuring the
  OUTPUT (the verdict-blessed alternative to a recursive replay):
  every returned column is a deterministic function of the DATA — the
  md5-bottom-k sample quantiles with their exact corpus ranks, raw
  data values and exact integers only — and the sketch estimate is
  pinned INSIDE the plan by an assert_true that fails the whole query
  if any estimate's exact rank drifts outside the 33000-ppm envelope.
  DuckDB replays the identical sample and ranks; the sketch's
  correctness is enforced (a broken sketch errors, never returns).

Determinism contract: md5-hash sample membership and every ppm division
are exact integers in both engines; quantile estimates are exact data
values (no float arithmetic), so value hashes match with no rounding.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_ballista_spark.inventory import QuerySpec
from datafusion_ballista_spark.inventory.util import tables

_QK = 1024  # bottom-k sample size
_PHIS = [1, 5, 10, 25, 50, 75, 90, 95, 99]  # percent
_CUT_P = 16  # range-partition fan-out for the cuts operator
_KLL_K = 200  # KLL top-level capacity (the DataSketches default)
# Asserted normalized-rank-error envelope for the KLL entry, in ppm.
# Apache DataSketches quotes ~1.65% (99% conf) single-sketch rank error
# at k=200; the deterministic-coin variant plus a cross-partition merge
# measured <= 0.9% worst-case on the adversarial-stream property suite
# (tests/test_sketch_quantiles.py), so 2x the published figure is a
# conservative in-plan bound that still fails loudly on real breakage.
_KLL_BOUND_PPM = 33000


def _hash48_sql_spark() -> str:
    """48-bit md5 fold of the lineitem primary key (Spark dialect)."""
    return (
        "cast(conv(substring(md5(concat_ws(':', l_orderkey, l_linenumber)), "
        "1, 12), 16, 10) as bigint)"
    )


_HASH48_SQL_DUCK = (
    "('0x' || substr(md5(l_orderkey || ':' || l_linenumber), 1, 12))::BIGINT"
)


def _bottomk_sample(spark: SparkSession, sf: str) -> list[float]:
    """The sketch itself: values of the _QK rows with the smallest
    md5-fold of the primary key, returned sorted by (value, hash).

    Per-partition state is O(k) (Spark plans the orderBy+limit as
    TakeOrderedAndProject: partial top-k per partition, one bounded
    merge — the sketch merge IS the partial agg). The collect is
    bounded driver metadata (_QK rows at ANY corpus size) — the
    kmeans-centroid precedent. md5 order is independent of the value,
    so the sample is uniform and the classical sample-quantile bound
    stderr = sqrt(phi*(1-phi)/k) applies (witnessed per row)."""
    li = tables(spark, sf, "lineitem").lineitem
    rows = (
        li.select(
            F.col("l_extendedprice").alias("v"),
            F.expr(_hash48_sql_spark()).alias("h"),
        )
        .orderBy("h", "v")
        .limit(_QK)
        .collect()
    )
    return [r.v for r in sorted(rows, key=lambda r: (r.v, r.h))]


def _sample_quantile(vals: list[float], num: int, den: int) -> float:
    """Sample value at rank ceil(num/den * k) (1-indexed)."""
    return vals[math.ceil(num * len(vals) / den) - 1]


def sketch_quantile_bottomk(spark: SparkSession, sf: str) -> DataFrame:
    """Bottom-k-sample quantile sketch with exact-rank witnesses: for
    each phi in {1,5,10,25,50,75,90,95,99}%, the estimate is the sample
    value at rank ceil(phi*k); one conditional-aggregation corpus pass
    computes every estimate's EXACT rank, and each row reports the
    signed rank error against the 3-sigma sampling bound
    3*sqrt(phi*(1-phi)/k) + 1/k (both in ppm).

    Scale (100 TB): the sample is one TakeOrderedAndProject (O(k) per
    partition, merge independent of N); the witness is ONE map-side-
    combining pass producing a 1-row aggregate; output is 9 rows of
    driver-scale metadata. true_rank*1e6 stays in int64 up to 9.2e12
    corpus rows (~2 PB of lineitem) — past that, lift to DECIMAL(38,0)
    like the Kneser-Ney counters. Reference: kll.rs's consumer computes
    exactly these boundary quantiles for the scheduler."""
    vals = _bottomk_sample(spark, sf)
    ests = {p: _sample_quantile(vals, p, 100) for p in _PHIS}
    li = tables(spark, sf, "lineitem").lineitem
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.when(F.col("l_extendedprice") <= F.lit(q), 1).otherwise(0)
            ).alias(f"r{p}")
            for p, q in ests.items()
        ],
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(p).cast("int").alias("phi_pct"),
                F.lit(ests[p]).cast("double").alias("est_q"),
                F.col(f"r{p}").cast("bigint").alias("true_rank"),
                F.lit(
                    int(3 * math.sqrt(p / 100 * (1 - p / 100) / _QK) * 1e6)
                    + 1_000_000 // _QK
                ).cast("bigint").alias("bound_ppm"),
            )
            for p in _PHIS
        ]
    )
    return (
        agg.select(F.col("n"), F.explode(entries).alias("e"))
        .select(
            F.col("e.phi_pct").alias("phi_pct"),
            F.col("e.est_q").alias("est_q"),
            F.lit(_QK).cast("int").alias("k"),
            F.col("n"),
            F.col("e.true_rank").alias("true_rank"),
            F.expr("e.true_rank * 1000000 div n - e.phi_pct * 10000")
            .cast("bigint")
            .alias("err_ppm"),
            F.col("e.bound_ppm").alias("bound_ppm"),
        )
        .orderBy("phi_pct")
    )


def _duck_sample_cte() -> str:
    return f"""
s AS (
  SELECT l_extendedprice AS v, {_HASH48_SQL_DUCK} AS h
  FROM lineitem ORDER BY h, v LIMIT {_QK}),
r AS (SELECT v, row_number() OVER (ORDER BY v, h) AS rk FROM s),
nn AS (SELECT COUNT(*) AS n FROM lineitem)"""


def _bottomk_bound_ppm(p: int) -> int:
    return int(3 * math.sqrt(p / 100 * (1 - p / 100) / _QK) * 1e6) + (
        1_000_000 // _QK
    )


SKETCH_BOTTOMK_SQL = f"""
WITH {_duck_sample_cte()},
phis(phi_pct, bound_ppm) AS (VALUES {", ".join(
    f"({p}, {_bottomk_bound_ppm(p)})" for p in _PHIS)}),
est AS (
  SELECT p.phi_pct, p.bound_ppm, r.v AS est_q
  FROM phis p JOIN r
    ON r.rk = CAST(ceil(p.phi_pct * {_QK} / 100.0) AS BIGINT))
SELECT e.phi_pct,
  e.est_q,
  {_QK} AS k,
  nn.n,
  (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= e.est_q)
    AS true_rank,
  CAST((SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= e.est_q)
       * 1000000 // nn.n - e.phi_pct * 10000 AS BIGINT) AS err_ppm,
  CAST(e.bound_ppm AS BIGINT) AS bound_ppm
FROM est e CROSS JOIN nn
ORDER BY phi_pct
"""


def sketch_range_partition_cuts(spark: SparkSession, sf: str) -> DataFrame:
    """Range-partition boundary cuts from the bottom-k quantile sketch —
    the reference's ONE consumer of its KLL/t-digest machinery
    (runtime_stats.rs gathers executor sketches; the scheduler cuts the
    sort domain into equal-mass ranges). P=16 buckets: cut i is the
    sample quantile at rank ceil(i*k/P); ONE conditional-aggregation
    corpus pass then counts each bucket's exact population, and every
    output row reports its share and signed deviation from the ideal
    1/P (ppm) — the balance evidence a scheduler would act on.

    Scale (100 TB): sample = one TakeOrderedAndProject; bucket counts
    come from rank differences inside a single 1-row aggregate (NO
    per-row bucket assignment, no join, no second shuffle); output is
    P rows of metadata. A skewed domain shows up as dev_ppm, not as a
    straggler task."""
    vals = _bottomk_sample(spark, sf)
    cuts = [_sample_quantile(vals, i, _CUT_P) for i in range(1, _CUT_P)]
    li = tables(spark, sf, "lineitem").lineitem
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.when(
                    F.col("l_extendedprice") <= F.lit(cuts[i - 1]), 1
                ).otherwise(0)
            ).alias(f"r{i}")
            for i in range(1, _CUT_P)
        ],
    )

    def _entry(i: int):
        lo = (
            F.lit(None).cast("double")
            if i == 1
            else F.lit(cuts[i - 2]).cast("double")
        )
        hi = (
            F.lit(None).cast("double")
            if i == _CUT_P
            else F.lit(cuts[i - 1]).cast("double")
        )
        if i == 1:
            n_rows = F.col("r1")
        elif i == _CUT_P:
            n_rows = F.col("n") - F.col(f"r{_CUT_P - 1}")
        else:
            n_rows = F.col(f"r{i}") - F.col(f"r{i - 1}")
        return F.struct(
            F.lit(i).cast("int").alias("bucket"),
            lo.alias("lo"),
            hi.alias("hi"),
            n_rows.cast("bigint").alias("n_rows"),
        )

    entries = F.array(*[_entry(i) for i in range(1, _CUT_P + 1)])
    return (
        agg.select(F.col("n"), F.explode(entries).alias("e"))
        .select(
            F.col("e.bucket").alias("bucket"),
            F.col("e.lo").alias("lo"),
            F.col("e.hi").alias("hi"),
            F.col("e.n_rows").alias("n_rows"),
            F.expr("e.n_rows * 1000000 div n").cast("bigint").alias(
                "share_ppm"
            ),
            F.expr(
                f"e.n_rows * 1000000 div n - {1_000_000 // _CUT_P}"
            ).cast("bigint").alias("dev_ppm"),
        )
        .orderBy("bucket")
    )


SKETCH_CUTS_SQL = f"""
WITH {_duck_sample_cte()},
cuts AS (
  SELECT CAST(i AS INTEGER) AS i,
    (SELECT v FROM r WHERE rk = CAST(ceil(i * {_QK} / {_CUT_P}.0) AS BIGINT))
      AS cut
  FROM range(1, {_CUT_P}) t(i)),
rk AS (
  SELECT i, cut,
    (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= cut) AS r
  FROM cuts),
b AS (
  SELECT i AS bucket, LAG(cut) OVER (ORDER BY i) AS lo, cut AS hi,
    r - COALESCE(LAG(r) OVER (ORDER BY i), 0) AS n_rows
  FROM rk
  UNION ALL
  SELECT {_CUT_P}, (SELECT cut FROM rk WHERE i = {_CUT_P - 1}), NULL,
    (SELECT n FROM nn) - (SELECT r FROM rk WHERE i = {_CUT_P - 1}))
SELECT CAST(bucket AS INTEGER) AS bucket, lo, hi,
  CAST(n_rows AS BIGINT) AS n_rows,
  CAST(n_rows * 1000000 // nn.n AS BIGINT) AS share_ppm,
  CAST(n_rows * 1000000 // nn.n - {1_000_000 // _CUT_P} AS BIGINT)
    AS dev_ppm
FROM b CROSS JOIN nn
ORDER BY bucket
"""


def sketch_kll_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """True compactor-stack KLL (operators/kll.py; reference parity
    kll.rs:17-122) over l_extendedprice, run as the reference runs it:
    every partition streams its Arrow batches into a local k=200 sketch
    (bounded ~3k retained items regardless of stream length), partial
    sketches serialize to (level, item) rows, and ONE bounded merge
    task unions them (concatenate same-height compactors + re-compress
    — kll.rs's own merge) and reads off the 9 quantile estimates.

    The compaction cascade consumes items in physical partition/batch
    order, so the ESTIMATE is a function of the execution layout, not
    of the data alone — no cross-engine replay of the estimate can
    exist even in principle (unlike train_pack_bestfit's deterministic
    fold, which got a WITH RECURSIVE oracle in round 12). The entry is
    hash-provable regardless (round 13, closing the last rows-only row
    of the registry): the RETURNED columns are all deterministic
    functions of the data — for each phi, the md5-bottom-k sample
    quantile (the module's deterministic, oracle-replayable sample:
    hash-order top-k IS a mergeable sketch, TakeOrderedAndProject)
    and its EXACT corpus rank from one conditional-aggregation pass —
    while the KLL sketch is pinned IN-PLAN: the same single aggregate
    also reads each KLL estimate's exact rank, and an assert_true
    fails the whole query if any estimate's rank error exceeds the
    33000-ppm envelope (sketch_ok can never reach the output as
    false). Every hashed value is either a raw data value or an exact
    integer, so the oracle replays bit-identically with no float
    arithmetic at all. (A first r13 cut computed exact quantiles via a
    distinct-value global cumsum instead — correct, but the extra
    groupBy + range shuffle + checkpoint cost ~4 s at sf1 on a 1.7 s
    query; the sample witness pins the sketch equally hard for ~0.5 s.)

    Scale (100 TB): sketching is one corpus pass with O(k) state per
    partition and NO shuffle of raw rows; the merge stage moves ~3k
    rows per partition (metadata at any N — with 10^5 partitions,
    tree-merge in two hops before the final task). The witness is one
    bounded top-k (O(k)=1024 state per partition, merge independent
    of N) + ONE map-side-combining corpus pass producing a 1-row
    aggregate. The absorb loop is Python over Arrow batches —
    per-executor, off the shuffle path, bounded by scan bandwidth at
    cluster scale. rank*1e6 stays in int64 up to 9.2e12 corpus rows
    (~2 PB of lineitem) — past that, lift to DECIMAL(38,0) like the
    Kneser-Ney counters."""
    from datafusion_ballista_spark.operators.kll import (
        MIN_LEVEL_WIDTH,
        KllSketch,
    )

    li = tables(spark, sf, "lineitem").lineitem

    def _sketch_parts(batches):
        import pandas as pd
        from pyspark import TaskContext

        s = KllSketch(_KLL_K)
        for pdf in batches:
            s.absorb(pdf.v.to_numpy())
        if s.n == 0:
            return
        pid = TaskContext.get().partitionId()
        rows = s.to_rows()
        yield pd.DataFrame(
            {
                "pid": [pid] * len(rows),
                "lvl": [h for h, _ in rows],
                "item": [x for _, x in rows],
                "pn": [s.n] * len(rows),
                "mn": [s.min] * len(rows),
                "mx": [s.max] * len(rows),
            }
        )

    partials = li.select(F.col("l_extendedprice").alias("v")).mapInPandas(
        _sketch_parts,
        "pid int, lvl int, item double, pn bigint, mn double, mx double",
    )

    def _merge(key, pdf):
        import pandas as pd

        n = int(pdf.groupby("pid").pn.first().sum())
        s = KllSketch.from_rows(
            _KLL_K,
            list(zip(pdf.lvl.tolist(), pdf.item.tolist())),
            n,
            float(pdf.mn.min()),
            float(pdf.mx.max()),
        )
        return pd.DataFrame(
            {
                "phi_pct": _PHIS,
                "est_q": [s.quantile(p / 100) for p in _PHIS],
                "n": [s.n] * len(_PHIS),
                "retained": [s.retained()] * len(_PHIS),
            }
        )

    # The KLL sketch+merge job and the bottom-k sample job are
    # independent single-pass scans of lineitem — run them as
    # concurrent Spark jobs (round 13, the ivfpq thread-pool
    # precedent): the shorter job's wall time disappears entirely.
    # Caveat (r13 ADVICE): thread-submitted jobs don't inherit the
    # caller's job group/description, so UI attribution and group
    # cancellation differ from the serial form, and a failure in one
    # job surfaces only after the other also runs to completion —
    # acceptable for two bounded single-pass scans.
    from concurrent.futures import ThreadPoolExecutor

    merged = partials.groupBy(F.lit(1).alias("g")).applyInPandas(
        _merge, "phi_pct int, est_q double, n bigint, retained int"
    )
    with ThreadPoolExecutor(2) as _ex:
        _f_est = _ex.submit(merged.collect)
        _f_vals = _ex.submit(_bottomk_sample, spark, sf)
        est_rows, vals = _f_est.result(), _f_vals.result()
    ests = {r.phi_pct: r.est_q for r in est_rows}
    n = int(est_rows[0].n) if est_rows else 0
    retained = int(est_rows[0].retained) if est_rows else 0
    # driver-side integrity on the bounded merge result (9 rows):
    # compactor-capacity bound and a non-degenerate corpus
    if n <= 0:
        raise RuntimeError("KLL over an empty corpus")
    if retained > 3 * _KLL_K + 10 * MIN_LEVEL_WIDTH:
        raise RuntimeError(f"KLL retained {retained} items past capacity")

    # deterministic witness values: the module's md5-bottom-k sample
    # quantiles (replayed bit-identically by the oracle's ORDER BY
    # hash LIMIT k)
    sample_qs = {p: _sample_quantile(vals, p, 100) for p in _PHIS}

    # ONE conditional-aggregation corpus pass: exact ranks of the
    # deterministic sample quantiles (hashed) AND of this run's KLL
    # estimates (feeds only the asserted sketch_ok flag)
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.when(
                    F.col("l_extendedprice") <= F.lit(sample_qs[p]), 1
                ).otherwise(0)
            ).alias(f"sr{p}")
            for p in _PHIS
        ],
        *[
            F.sum(
                F.when(F.col("l_extendedprice") <= F.lit(ests[p]), 1)
                .otherwise(0)
            ).alias(f"tr{p}")
            for p in _PHIS
        ],
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(p).cast("int").alias("phi_pct"),
                F.lit(sample_qs[p]).cast("double").alias("sample_q"),
                F.col(f"sr{p}").cast("bigint").alias("sample_rank"),
                F.expr(f"abs(tr{p} * 1000000 div n - {p * 10000})")
                .cast("bigint")
                .alias("kll_err"),
            )
            for p in _PHIS
        ]
    )
    out = (
        agg.select(F.col("n"), F.explode(entries).alias("e"))
        .select(
            F.col("e.phi_pct").alias("phi_pct"),
            F.col("e.sample_q").alias("sample_q"),
            F.lit(_QK).cast("int").alias("sample_k"),
            F.col("e.sample_rank").alias("sample_rank"),
            F.col("n"),
            F.lit(_KLL_K).cast("int").alias("kll_k"),
            F.lit(_KLL_BOUND_PPM).cast("bigint").alias("bound_ppm"),
            (F.col("e.kll_err") <= F.lit(_KLL_BOUND_PPM)).alias(
                "sketch_ok"
            ),
        )
        .orderBy("phi_pct")
    )
    # self-validation: the sketch estimate's exact rank must sit inside
    # the documented envelope, or the query FAILS loudly — sketch_ok
    # can therefore never reach the output as false, which is what
    # makes the column deterministic and hashable
    guard = F.assert_true(
        F.col("sketch_ok"),
        F.concat_ws(
            " ",
            F.lit("KLL rank error outside envelope at phi_pct"),
            F.col("phi_pct").cast("string"),
        ),
    )
    return out.withColumn("__g", guard).drop("__g")


SKETCH_KLL_SQL = f"""
WITH {_duck_sample_cte()},
phis(phi_pct) AS (VALUES {", ".join(f"({p})" for p in _PHIS)}),
est AS (
  SELECT p.phi_pct, r.v AS sample_q
  FROM phis p JOIN r
    ON r.rk = CAST(ceil(p.phi_pct * {_QK} / 100.0) AS BIGINT))
SELECT CAST(e.phi_pct AS INTEGER) AS phi_pct,
  e.sample_q,
  CAST({_QK} AS INTEGER) AS sample_k,
  CAST((SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= e.sample_q)
       AS BIGINT) AS sample_rank,
  nn.n,
  CAST({_KLL_K} AS INTEGER) AS kll_k,
  CAST({_KLL_BOUND_PPM} AS BIGINT) AS bound_ppm,
  TRUE AS sketch_ok
FROM est e CROSS JOIN nn
ORDER BY phi_pct
"""


# ---------------------------------------------------------------------------
# Theta/KMV set-operation sketch (Beyer et al. 2007 k-minimum-values;
# Dasgupta et al. 2016 theta-sketch framework) — corpus-overlap estimation

_THETA_K = 256  # KMV sample size per slice; rel. stderr ~ 1/sqrt(k-2) ~ 6.3%
_H48_SPAN = 1 << 48  # md5 folds are uniform on [0, 2^48)


def sketch_theta_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Theta/KMV sketch set operations over document shingles: how much
    CONTENT two corpus slices share (the dedup-planning question a
    pipeline asks before committing to a full cross-slice join). Slices
    A/B = doc_id parity; elements = distinct 3-gram shingle md5-folds.
    Each slice keeps its k=256 SMALLEST distinct hash values (KMV):
    distinct-count estimate (k-1)*2^48/h_k, union = bottom-k of the
    merged samples (the KMV merge), intersection via the theta
    framework (theta = min of the two k-th values; count sample hashes
    below it in BOTH sketches, scale by 1/theta). Exact counterparts
    from ONE distinct-aggregation pass sit beside every estimate with
    signed err_ppm (inclusion-exclusion gives the exact intersection
    for free). Estimates are computed IN-PLAN from the deterministic
    integer inputs (h_k thresholds, intersection tally), so the oracle
    replays the identical IEEE division + ROUND — the HLL discipline.

    Scale (100 TB): each bottom-k is a partial-agg dedup (map-side
    combine collapses repeats) + TakeOrderedAndProject (O(k) state,
    merge independent of N); exact side is one countDistinct shuffle.
    A production theta sketch replaces the dedup shuffle with bounded
    per-partition KMV state — the mapInPandas shape sketch_kll_quantiles
    demonstrates; this entry trades that for full oracle replay."""
    from datafusion_ballista_spark.inventory.pipeline_text import (
        _h48,
        _shingles,
        _spread_for_explode,
        _tokens,
    )

    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    arr = _tokens(F.col("text"))
    base = (
        d.where(F.size(arr) >= 3)
        .select(
            (F.col("doc_id") % 2).alias("sl"),
            F.explode(_shingles(arr)).alias("s"),
        )
        .select("sl", _h48(F.col("s")).alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Two sequential per-slice bottom-k collects, kept deliberately
    # (round-13 A/B): a single unionAll action was tried to merge the
    # two driver round-trips, but it ran BOTH TakeOrdered branches over
    # the not-yet-materialized lazy checkpoint inside one job —
    # duplicating the post-shuffle dedup work that the sequential form
    # amortizes (job 1 materializes base, job 2 reads it back) — and
    # measured +17% on the 4-draw min (1.25 -> 1.46 s); reverted.
    samples = {}
    for sl in (0, 1):
        samples[sl] = [
            r.h
            for r in base.where(F.col("sl") == sl)
            .select("h")
            .orderBy("h")
            .limit(_THETA_K)
            .collect()
        ]
    sa, sb = set(samples[0]), set(samples[1])
    union_k = sorted(sa | sb)[:_THETA_K]
    theta_hk = min(max(samples[0]), max(samples[1]))
    inter_cnt = sum(1 for h in sa & sb if h < theta_hk)

    def _est(sample: list[int], exact_col: str):
        # fewer than k distinct values -> the sketch IS the exact set
        if len(sample) < _THETA_K:
            return F.col(exact_col).cast("double")
        return F.round(
            F.lit(float(_THETA_K - 1)) * _H48_SPAN / F.lit(max(sample)), 4
        )

    exact = base.agg(
        F.count_distinct(F.when(F.col("sl") == 0, F.col("h"))).alias(
            "exact_a"
        ),
        F.count_distinct(F.when(F.col("sl") == 1, F.col("h"))).alias(
            "exact_b"
        ),
        F.count_distinct(F.col("h")).alias("exact_union"),
    ).withColumn(
        "exact_inter",
        F.col("exact_a") + F.col("exact_b") - F.col("exact_union"),
    )

    def _err(est: str, exact: str):
        return F.expr(
            f"CAST(ROUND(({est} - {exact}) / {exact} * 1000000) AS BIGINT)"
        )

    return (
        exact.select(
            F.lit(_THETA_K).cast("int").alias("k"),
            _est(samples[0], "exact_a").alias("est_a"),
            F.col("exact_a"),
            _est(samples[1], "exact_b").alias("est_b"),
            F.col("exact_b"),
            _est(union_k, "exact_union").alias("est_union"),
            F.col("exact_union"),
            F.round(
                F.lit(float(inter_cnt)) * _H48_SPAN / F.lit(theta_hk), 4
            ).alias("est_inter"),
            F.col("exact_inter"),
        )
        .select(
            "k",
            "est_a",
            "exact_a",
            _err("est_a", "exact_a").alias("err_a_ppm"),
            "est_b",
            "exact_b",
            _err("est_b", "exact_b").alias("err_b_ppm"),
            "est_union",
            "exact_union",
            _err("est_union", "exact_union").alias("err_union_ppm"),
            "est_inter",
            "exact_inter",
            _err("est_inter", "exact_inter").alias("err_inter_ppm"),
        )
    )


SKETCH_THETA_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr FROM documents),
sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(arr)-1),
      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingles
  FROM toks WHERE len(arr) >= 3),
base AS (
  SELECT DISTINCT doc_id % 2 AS sl,
    ('0x' || substr(md5(s), 1, 12))::BIGINT AS h
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
sa AS (SELECT h FROM base WHERE sl = 0 ORDER BY h LIMIT {_THETA_K}),
sb AS (SELECT h FROM base WHERE sl = 1 ORDER BY h LIMIT {_THETA_K}),
su AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
       ORDER BY h LIMIT {_THETA_K}),
th AS (SELECT LEAST((SELECT MAX(h) FROM sa), (SELECT MAX(h) FROM sb))
         AS theta_hk),
ic AS (SELECT COUNT(*) AS icnt
       FROM sa JOIN sb USING (h) CROSS JOIN th WHERE sa.h < th.theta_hk),
ex AS (
  SELECT
    COUNT(DISTINCT CASE WHEN sl = 0 THEN h END) AS exact_a,
    COUNT(DISTINCT CASE WHEN sl = 1 THEN h END) AS exact_b,
    COUNT(DISTINCT h) AS exact_union
  FROM base),
est AS (
  SELECT {_THETA_K} AS k,
    CASE WHEN (SELECT COUNT(*) FROM sa) < {_THETA_K}
         THEN CAST(exact_a AS DOUBLE)
         ELSE ROUND({float(_THETA_K - 1)} * {_H48_SPAN}
                    / (SELECT MAX(h) FROM sa), 4) END AS est_a,
    exact_a,
    CASE WHEN (SELECT COUNT(*) FROM sb) < {_THETA_K}
         THEN CAST(exact_b AS DOUBLE)
         ELSE ROUND({float(_THETA_K - 1)} * {_H48_SPAN}
                    / (SELECT MAX(h) FROM sb), 4) END AS est_b,
    exact_b,
    CASE WHEN (SELECT COUNT(*) FROM su) < {_THETA_K}
         THEN CAST(exact_union AS DOUBLE)
         ELSE ROUND({float(_THETA_K - 1)} * {_H48_SPAN}
                    / (SELECT MAX(h) FROM su), 4) END AS est_union,
    exact_union,
    ROUND(CAST((SELECT icnt FROM ic) AS DOUBLE) * {_H48_SPAN}
          / (SELECT theta_hk FROM th), 4) AS est_inter,
    exact_a + exact_b - exact_union AS exact_inter
  FROM ex)
SELECT k,
  est_a, exact_a,
  CAST(ROUND((est_a - exact_a) / exact_a * 1000000) AS BIGINT) AS err_a_ppm,
  est_b, exact_b,
  CAST(ROUND((est_b - exact_b) / exact_b * 1000000) AS BIGINT) AS err_b_ppm,
  est_union, exact_union,
  CAST(ROUND((est_union - exact_union) / exact_union * 1000000) AS BIGINT)
    AS err_union_ppm,
  est_inter, exact_inter,
  CAST(ROUND((est_inter - exact_inter) / exact_inter * 1000000) AS BIGINT)
    AS err_inter_ppm
FROM est
"""


_AMS_R = 5  # independent estimator rows (median/mean taken across them)
_AMS_B = 64  # buckets per row; relative stderr ~ sqrt(2/B) ~ 17.7%
# Reported-per-row assertion envelope: 5 sigma of the AMS variance bound
# Var(est) <= 2*F2^2/B (Alon-Matias-Szegedy 1996, Thm 2.2), in ppm.
_AMS_BOUND_PPM = int(5 * math.sqrt(2 / _AMS_B) * 1e6)


def sketch_ams_f2(spark: SparkSession, sf: str) -> DataFrame:
    """AMS/tug-of-war second-frequency-moment (F2) sketch over the
    events stream (item = user_id): R=5 independent estimator rows x
    B=64 buckets of md5-derived Rademacher signs; each event adds its
    sign to one cell, est_r = sum_b cell^2, and the query reports every
    row's estimate plus their mean against the EXACT F2 (one
    per-user-count pass) with signed err_ppm and the 5-sigma AMS bound.

    F2 = sum_u f_u^2 is the self-join size / skew statistic a scheduler
    uses to pick between hash- and skew-handling join strategies — the
    reference's runtime_stats.rs collects exactly this class of
    statistic executor-side (alongside its t-digest) for re-planning.
    Alon-Matias-Szegedy (STOC 1996) is the construction; the
    Count-Sketch bucket refinement is Charikar-Chen-Farach-Colton 2002.

    Scale (100 TB): the sketch IS a partial agg — each event maps to
    (r, bucket, sign) and cell sums combine map-side, so ONE corpus
    pass shuffles exactly R*B = 320 groups (communication independent
    of N); squares and row sums are a 320-row driver-scale reduction.
    The exact-F2 witness is the only N-dependent shuffle (per-user
    counts) and exists solely to ground the error columns. Cell values
    stay int64 until a single cell absorbs > 9.2e18 events; cell^2
    accumulates in DECIMAL(38,0) and the fixture-scale estimates are
    exact BIGINTs (lift est columns to DECIMAL past F2 ~ 9.2e18, the
    bottomk true_rank precedent).

    Determinism: signs and buckets are md5-derived on both engines;
    every arithmetic step is integer-exact, so value hashes match with
    no rounding anywhere."""
    e = tables(spark, sf, "events").events
    cells = (
        e.select("user_id", F.explode(F.array(*[F.lit(r) for r in range(_AMS_R)])).alias("r"))
        .select(
            "r",
            F.expr(
                "cast(conv(substring(md5(concat_ws(':', user_id, r, 'b')), "
                f"1, 12), 16, 10) as bigint) % {_AMS_B}"
            ).alias("bucket"),
            F.expr(
                "cast(conv(substring(md5(concat_ws(':', user_id, r, 's')), "
                "1, 1), 16, 10) as bigint) % 2 * 2 - 1"
            ).alias("sign"),
        )
        .groupBy("r", "bucket")
        .agg(F.sum("sign").alias("cell"))
    )
    ests = cells.groupBy("r").agg(
        F.sum(F.col("cell").cast("decimal(38,0)") * F.col("cell"))
        .cast("bigint")
        .alias("est_f2")
    )
    exact = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(
            F.sum(F.col("f").cast("decimal(38,0)") * F.col("f"))
            .cast("bigint")
            .alias("exact_f2")
        )
    )
    mean = ests.agg(
        F.avg(F.col("est_f2").cast("double")).alias("est_mean")
    )
    return (
        ests.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(mean))
        .select(
            F.col("r").cast("int").alias("r"),
            "est_f2",
            F.round(F.col("est_mean"), 4).alias("est_mean"),
            "exact_f2",
            F.expr(
                "cast((est_f2 - exact_f2) * 1000000 div exact_f2 as bigint)"
            ).alias("err_ppm"),
            F.lit(_AMS_BOUND_PPM).cast("bigint").alias("bound_ppm"),
        )
        .orderBy("r")
    )


SKETCH_AMS_SQL = f"""
WITH ev AS (
  SELECT user_id, r
  FROM events CROSS JOIN range(0, {_AMS_R}) t(r)),
cells AS (
  SELECT r,
    ('0x' || substr(md5(user_id || ':' || r || ':b'), 1, 12))::BIGINT
      % {_AMS_B} AS bucket,
    SUM(('0x' || substr(md5(user_id || ':' || r || ':s'), 1, 1))::BIGINT
        % 2 * 2 - 1) AS cell
  FROM ev GROUP BY 1, 2),
ests AS (
  SELECT r, CAST(SUM(cell::HUGEINT * cell) AS BIGINT) AS est_f2
  FROM cells GROUP BY r),
exact AS (
  SELECT CAST(SUM(f::HUGEINT * f) AS BIGINT) AS exact_f2
  FROM (SELECT COUNT(*) AS f FROM events GROUP BY user_id)),
m AS (SELECT AVG(CAST(est_f2 AS DOUBLE)) AS est_mean FROM ests)
SELECT CAST(r AS INTEGER) AS r, est_f2,
  ROUND(m.est_mean, 4) AS est_mean, exact_f2,
  CAST((est_f2 - exact_f2) * 1000000 // exact_f2 AS BIGINT) AS err_ppm,
  CAST({_AMS_BOUND_PPM} AS BIGINT) AS bound_ppm
FROM ests CROSS JOIN exact CROSS JOIN m
ORDER BY r
"""


def sketch_moments_power_sums(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed column statistics — mean / stddev / skewness / excess
    kurtosis of l_extendedprice — via EXACT integer power sums: the
    value is lifted to cents (int64), and S1..S4 = sum(c^p) accumulate
    in DECIMAL(38,0), the mergeable sketch (merge = add the vectors).
    Central moments come from the raw sums at the very end, in double,
    from a single 1-row aggregate.

    This is the reference's runtime-statistics surface (column stats in
    runtime_stats.rs feed its re-planner) done Spark-first. The classic
    pitfall — catastrophic cancellation when raw float power sums are
    differenced (the reason Pebay 2008 derives streaming central-moment
    updates) — does not apply here because the sums are EXACT decimals:
    cancellation only loses digits the inputs never had.

    Scale (100 TB): ONE map-side-combining corpus pass, 1-row output,
    zero joins. c = round(price*100) <= ~1e7, so c^4 <= 1e28 and the
    DECIMAL(38,0) accumulators hold exactly up to ~1e10 rows (sf1000
    lineitem is 6e9); past that, split the sum into two DECIMAL lanes
    or shard-and-sum, same plan shape.

    Determinism: every accumulator is an exact integer on both engines
    (HUGEINT on the oracle); the final double formulas consume
    identical exact inputs in identical order, and outputs are rounded
    at 6 significant decimals of slack below double precision."""
    li = tables(spark, sf, "lineitem").lineitem
    c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    d = c.cast("decimal(38,0)")
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).alias("s1"),
        F.sum(d * c).alias("s2"),
        F.sum(d * c * c).alias("s3"),
        F.sum(d * c * c * c).alias("s4"),
    )
    # exact decimal sums -> double only here, identical formula both sides
    mu = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n") - mu * mu
    m3 = (
        F.col("s3").cast("double") / F.col("n")
        - 3 * mu * (F.col("s2").cast("double") / F.col("n"))
        + 2 * mu * mu * mu
    )
    m4 = (
        F.col("s4").cast("double") / F.col("n")
        - 4 * mu * (F.col("s3").cast("double") / F.col("n"))
        + 6 * mu * mu * (F.col("s2").cast("double") / F.col("n"))
        - 3 * mu * mu * mu * mu
    )
    return agg.select(
        "n",
        F.round(mu / 100, 4).alias("mean"),
        F.round(F.sqrt(m2) / 100, 4).alias("stddev"),
        # sqrt is IEEE-exactly-rounded (pow is not): m2^1.5 as sqrt cubed
        # guarantees the JVM and libm produce the same double here.
        F.round(m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2)), 6).alias(
            "skewness"
        ),
        F.round(m4 / (m2 * m2) - 3, 6).alias("kurtosis_excess"),
    )


SKETCH_MOMENTS_SQL = """
WITH s AS (
  SELECT COUNT(*) AS n,
    SUM(c::HUGEINT) AS s1, SUM(c::HUGEINT * c) AS s2,
    SUM(c::HUGEINT * c * c) AS s3, SUM(c::HUGEINT * c * c * c) AS s4
  FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        FROM lineitem)),
m AS (
  SELECT n,
    s1::DOUBLE / n AS mu,
    s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n) AS m2,
    s3::DOUBLE / n - 3 * (s1::DOUBLE / n) * (s2::DOUBLE / n)
      + 2 * (s1::DOUBLE / n) * (s1::DOUBLE / n) * (s1::DOUBLE / n) AS m3,
    s4::DOUBLE / n - 4 * (s1::DOUBLE / n) * (s3::DOUBLE / n)
      + 6 * (s1::DOUBLE / n) * (s1::DOUBLE / n) * (s2::DOUBLE / n)
      - 3 * (s1::DOUBLE / n) * (s1::DOUBLE / n) * (s1::DOUBLE / n)
        * (s1::DOUBLE / n) AS m4
  FROM s)
SELECT n, ROUND(mu / 100, 4) AS mean,
  ROUND(sqrt(m2) / 100, 4) AS stddev,
  ROUND(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)), 6) AS skewness,
  ROUND(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
FROM m
"""


QUERIES: dict[str, QuerySpec] = {
    "sketch_quantile_bottomk": QuerySpec(
        sketch_quantile_bottomk, SKETCH_BOTTOMK_SQL
    ),
    "sketch_range_partition_cuts": QuerySpec(
        sketch_range_partition_cuts, SKETCH_CUTS_SQL
    ),
    "sketch_kll_quantiles": QuerySpec(sketch_kll_quantiles, SKETCH_KLL_SQL),
    "sketch_theta_set_ops": QuerySpec(sketch_theta_set_ops, SKETCH_THETA_SQL),
    "sketch_ams_f2": QuerySpec(sketch_ams_f2, SKETCH_AMS_SQL),
    "sketch_moments_power_sums": QuerySpec(
        sketch_moments_power_sums, SKETCH_MOMENTS_SQL
    ),
}
