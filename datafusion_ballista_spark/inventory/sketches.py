"""Mergeable quantile sketches + range-partition cuts (SURVEY §2.5
approx-agg family; the last reference-native sketch family unmatched
after round 9's HLL/CMS).

Reference parity: Ballista implements a KLL sketch
(``ballista/core/src/kll.rs:17-122``) and t-digest-backed runtime
statistics (``ballista/core/src/execution_plans/runtime_stats.rs``)
whose one consumer is the scheduler's choice of global range-partition
boundaries. This module re-expresses that capability Spark-first as
three operators over ``lineitem.l_extendedprice``. Each is one lazy
``spark.sql`` text over the lineitem DataFrame: building one runs no
Spark job, and no value travels through the driver.

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
* ``sketch_kll_quantiles`` — Spark's built-in DataSketches KLL
  (``kll_sketch_agg_double``): a partial sketch per partition, merged in
  one task — the executor-sketch -> scheduler-merge topology of the
  reference, run inside the JVM. DataSketches compacts with random
  coins, so the ESTIMATE varies between runs and no engine can replay
  it. The OUTPUT does not vary: every returned column is a
  deterministic function of the data — the md5-bottom-k sample
  quantiles with their exact corpus ranks, raw data values and exact
  integers only — and the sketch is pinned INSIDE the plan by a
  filter on ``assert_true`` that fails the whole query if any
  estimate's exact rank drifts outside the 33000-ppm envelope or the
  sketch's count differs from the corpus. DuckDB replays the identical
  sample and ranks; a broken sketch errors, never returns.

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
# at k=200; 2x the published figure is a conservative in-plan bound that
# still fails loudly on real breakage (the adversarial-stream suite in
# tests/test_sketch_quantiles.py measures the built-in sketch against it).
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


def _rank(num: int, den: int) -> int:
    """1-indexed sample rank of quantile num/den: ceil(num/den * k)."""
    return -(-num * _QK // den)


def _spark_sample_sql(name: str, ranks: dict[str, int]) -> str:
    """The sketch itself, as CTEs over the ``{li}`` DataFrame argument
    (Spark twin of _duck_sample_cte): the _QK rows with the smallest
    md5-fold of the primary key, ranked by (value, hash), and a one-row
    CTE ``name`` holding the sample value at each requested rank.

    Per-partition state is O(k) (Spark plans the ORDER BY+LIMIT as
    TakeOrderedAndProject: partial top-k per partition, one bounded
    merge — the sketch merge IS the partial agg). md5 order is
    independent of the value, so the sample is uniform and the classical
    sample-quantile bound stderr = sqrt(phi*(1-phi)/k) applies."""
    picks = ",\n    ".join(
        f"max(CASE WHEN rk = {rk} THEN v END) AS {col}"
        for col, rk in ranks.items()
    )
    return f"""
s AS (
  SELECT l_extendedprice AS v, {_hash48_sql_spark()} AS h
  FROM {{li}} ORDER BY h, v LIMIT {_QK}),
r AS (SELECT v, row_number() OVER (ORDER BY v, h) AS rk FROM s),
{name} AS (
  SELECT {picks}
  FROM r)"""


def _rank_sums(cols: list[str]) -> str:
    """Exact corpus rank r<c> (count of values <= c) of each broadcast
    column c, as conditional sums of one aggregation pass."""
    return ",\n    ".join(
        f"sum(CASE WHEN l_extendedprice <= {c} THEN 1 ELSE 0 END) AS r{c}"
        for c in cols
    )


def _lineitem_sql(spark: SparkSession, sf: str, text: str) -> DataFrame:
    return spark.sql(text, li=tables(spark, sf, "lineitem").lineitem)


def sketch_quantile_bottomk(spark: SparkSession, sf: str) -> DataFrame:
    """Bottom-k-sample quantile sketch with exact-rank witnesses: for
    each phi in {1,5,10,25,50,75,90,95,99}%, the estimate is the sample
    value at rank ceil(phi*k); one conditional-aggregation corpus pass
    computes every estimate's EXACT rank, and each row reports the
    signed rank error against the 3-sigma sampling bound
    3*sqrt(phi*(1-phi)/k) + 1/k (both in ppm).

    Scale (100 TB): the sample is one TakeOrderedAndProject (O(k) per
    partition, merge independent of N); the witness is ONE map-side-
    combining pass over lineitem x the broadcast 1-row quantile CTE,
    producing a 1-row aggregate; output is 9 rows of driver-scale
    metadata. true_rank*1e6 stays in int64 up to 9.2e12 corpus rows
    (~2 PB of lineitem) — past that, lift to DECIMAL(38,0) like the
    Kneser-Ney counters. Reference: kll.rs's consumer computes exactly
    these boundary quantiles for the scheduler."""
    qs = [f"q{p}" for p in _PHIS]
    rows = ", ".join(
        f"{p}, {q}, r{q}, CAST({_bottomk_bound_ppm(p)} AS BIGINT)"
        for p, q in zip(_PHIS, qs)
    )
    return _lineitem_sql(spark, sf, f"""
WITH {_spark_sample_sql("sq", {q: _rank(p, 100) for p, q in zip(_PHIS, qs)})},
a AS (
  SELECT /*+ BROADCAST(sq) */ count(1) AS n,
    {", ".join(f"max({q}) AS {q}" for q in qs)},
    {_rank_sums(qs)}
  FROM {{li}} CROSS JOIN sq)
SELECT phi_pct, est_q, CAST({_QK} AS INT) AS k, n, true_rank,
  CAST(true_rank * 1000000 div n - phi_pct * 10000 AS BIGINT) AS err_ppm,
  bound_ppm
FROM a LATERAL VIEW stack({len(_PHIS)}, {rows}) t
  AS phi_pct, est_q, true_rank, bound_ppm
ORDER BY phi_pct
""")


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
    come from rank differences inside a single 1-row aggregate over
    lineitem x the broadcast 1-row cut CTE (NO per-row bucket
    assignment, no second shuffle); output is P rows of metadata. A
    skewed domain shows up as dev_ppm, not as a straggler task."""
    cs = [f"c{i}" for i in range(1, _CUT_P)]
    # bucket i spans (cut i-1, cut i]; the open ends hold ranks 0 and n
    bounds = ["CAST(NULL AS DOUBLE)", *cs, "CAST(NULL AS DOUBLE)"]
    ranks = ["0", *(f"r{c}" for c in cs), "n"]
    buckets = ", ".join(
        f"{i}, {bounds[i - 1]}, {bounds[i]}, {ranks[i]} - {ranks[i - 1]}"
        for i in range(1, _CUT_P + 1)
    )

    return _lineitem_sql(spark, sf, f"""
WITH {_spark_sample_sql("cq", {c: _rank(i, _CUT_P) for i, c in enumerate(cs, 1)})},
a AS (
  SELECT /*+ BROADCAST(cq) */ count(1) AS n,
    {", ".join(f"max({c}) AS {c}" for c in cs)},
    {_rank_sums(cs)}
  FROM {{li}} CROSS JOIN cq)
SELECT bucket, lo, hi, n_rows,
  CAST(n_rows * 1000000 div n AS BIGINT) AS share_ppm,
  CAST(n_rows * 1000000 div n - {1_000_000 // _CUT_P} AS BIGINT) AS dev_ppm
FROM a LATERAL VIEW stack({_CUT_P}, {buckets}) t AS bucket, lo, hi, n_rows
ORDER BY bucket
""")


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
    """KLL quantile sketch (reference parity kll.rs:17-122) over
    l_extendedprice on Spark's built-in DataSketches aggregate: every
    partition folds its rows into a partial k=200 sketch (bounded state
    regardless of stream length), ONE merge task unions them, and
    kll_sketch_get_quantile_double reads off the 9 estimates.

    DataSketches compacts with random coins, so the ESTIMATE varies
    between runs — no cross-engine replay of it can exist. The entry is
    hash-provable regardless: the RETURNED columns are all deterministic
    functions of the data — for each phi, the md5-bottom-k sample
    quantile (the module's oracle-replayable sample) and its EXACT
    corpus rank — while the KLL sketch is pinned IN-PLAN: the same
    single aggregate also reads each KLL estimate's exact rank, and a
    filter on assert_true fails the whole query if any estimate's rank
    error exceeds the 33000-ppm envelope, if the sketch's n differs from
    the corpus count, or if the corpus is empty (sketch_ok can never
    reach the output as false). Every hashed value is either a raw data
    value or an exact integer, so the oracle replays bit-identically
    with no float arithmetic at all.

    Scale (100 TB): sketching is one corpus pass with O(k) state per
    partition and NO shuffle of raw rows; the merge moves one sketch per
    partition. The witness is one bounded top-k (O(k)=1024 state per
    partition, merge independent of N) + ONE map-side-combining corpus
    pass over lineitem x the two broadcast 1-row CTEs, producing a 1-row
    aggregate. rank*1e6 stays in int64 up to 9.2e12 corpus rows (~2 PB
    of lineitem) — past that, lift to DECIMAL(38,0) like the Kneser-Ney
    counters."""
    qs = [f"q{p}" for p in _PHIS]
    ks = [f"k{p}" for p in _PHIS]
    rows = ", ".join(
        f"{p}, {q}, r{q}, r{k}" for p, q, k in zip(_PHIS, qs, ks)
    )
    return _lineitem_sql(spark, sf, f"""
WITH {_spark_sample_sql("sq", {q: _rank(p, 100) for p, q in zip(_PHIS, qs)})},
kq AS (
  SELECT kll_sketch_get_n_double(sk) AS kn,
    {", ".join(f"kll_sketch_get_quantile_double(sk, {p / 100}) AS {k}"
               for p, k in zip(_PHIS, ks))}
  FROM (SELECT kll_sketch_agg_double(l_extendedprice, {_KLL_K}) AS sk
        FROM {{li}})),
a AS (
  SELECT /*+ BROADCAST(sq, kq) */ count(1) AS n, max(kn) AS kn,
    {", ".join(f"max({q}) AS {q}" for q in qs)},
    {_rank_sums(qs + ks)}
  FROM {{li}} CROSS JOIN sq CROSS JOIN kq),
e AS (
  SELECT phi_pct, sample_q, sample_rank, n, kn,
    abs(kll_rank * 1000000 div n - phi_pct * 10000) <= {_KLL_BOUND_PPM}
      AS sketch_ok
  FROM a LATERAL VIEW stack({len(_PHIS)}, {rows}) t
    AS phi_pct, sample_q, sample_rank, kll_rank)
SELECT phi_pct, sample_q, CAST({_QK} AS INT) AS sample_k, sample_rank, n,
  CAST({_KLL_K} AS INT) AS kll_k,
  CAST({_KLL_BOUND_PPM} AS BIGINT) AS bound_ppm, sketch_ok
FROM e
WHERE assert_true(sketch_ok AND kn = n AND n > 0, concat(
  'KLL estimate outside the rank-error envelope, or its n off the corpus ',
  'count, at phi_pct ', phi_pct)) IS NULL
ORDER BY phi_pct
""")


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

    Scale (100 TB): the shingle hashes are deduplicated once, by one
    partial-agg shuffle on the hash that also records the slices each
    hash occurs in; each slice's bottom-k is a row_number() <= k, which
    Spark runs as a partial WindowGroupLimit before its shuffle (O(k)
    rows per partition, merge independent of N); the exact counts and
    the intersection tally are one more aggregate over the deduplicated
    hashes. A production theta sketch replaces the dedup shuffle with
    bounded per-partition KMV state — a partial aggregate, as the
    built-in KLL in sketch_kll_quantiles keeps its state; this entry
    trades that for full oracle replay.

    One lazy ``spark.sql`` text over the deduplicated hashes, so
    building runs no Spark job and no sample travels through the
    driver. Its CTEs follow SKETCH_THETA_SQL: ``samp`` holds both
    per-slice samples, ``st`` each sample's size and k-th value and
    their union bottom-k, ``th`` theta (the lesser k-th value), and the
    exact pass ``ex`` tallies the hashes of both slices below theta:
    each of them is in both samples, since it lies below both k-th
    values."""
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
        .groupBy(_h48(F.col("s")).alias("h"))
        # bit 1: the hash occurs in slice A, bit 2: in slice B
        .agg(F.bit_or(F.when(F.col("sl") == 0, 1).otherwise(2)).alias("slices"))
    )

    def est(part: str, n: str, hk: str) -> str:
        # fewer than k distinct values -> the sketch IS the exact set
        return f"""CASE WHEN (SELECT {n} FROM st) < {_THETA_K}
         THEN CAST(exact_{part} AS DOUBLE)
         ELSE ROUND({float(_THETA_K - 1)}D * {_H48_SPAN}
                    / (SELECT {hk} FROM st), 4) END AS est_{part}"""

    def err(part: str) -> str:
        return (
            f"est_{part}, exact_{part},\n  CAST(ROUND((est_{part} - exact_{part})"
            f" / exact_{part} * 1000000) AS BIGINT) AS err_{part}_ppm"
        )

    return spark.sql(
        f"""
WITH samp AS (
  SELECT sl, h FROM (
    SELECT sl, h, row_number() OVER (PARTITION BY sl ORDER BY h) AS rn
    FROM {{base}}
    LATERAL VIEW explode(IF(slices = 3, array(0, 1), array(slices - 1))) t AS sl)
  WHERE rn <= {_THETA_K}),
st AS (
  SELECT count_if(sl = 0) AS na, max(IF(sl = 0, h, NULL)) AS ha,
    count_if(sl = 1) AS nb, max(IF(sl = 1, h, NULL)) AS hb,
    slice(array_sort(collect_set(h)), 1, {_THETA_K}) AS su
  FROM samp),
th AS (SELECT least(ha, hb) AS theta_hk FROM st),
ex AS (
  SELECT count_if(slices & 1 = 1) AS exact_a,
    count_if(slices & 2 = 2) AS exact_b, count(h) AS exact_union,
    count_if(slices = 3 AND h < (SELECT theta_hk FROM th)) AS icnt
  FROM {{base}}),
est AS (
  SELECT CAST({_THETA_K} AS INT) AS k,
    {est("a", "na", "ha")},
    exact_a,
    {est("b", "nb", "hb")},
    exact_b,
    {est("union", "size(su)", "array_max(su)")},
    exact_union,
    ROUND(CAST(icnt AS DOUBLE) * {_H48_SPAN}
          / (SELECT theta_hk FROM th), 4) AS est_inter,
    exact_a + exact_b - exact_union AS exact_inter
  FROM ex)
SELECT k,
  {err("a")},
  {err("b")},
  {err("union")},
  {err("inter")}
FROM est
""",
        base=base,
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
