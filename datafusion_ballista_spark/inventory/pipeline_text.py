"""LLM training-data text pipeline: dedup + text analysis (beyond-reference).

The reference has no data-curation layer; this module supplies the text half
of the pipeline a 100 TB training-data run needs (the driver's north-star
ask): exact dedup, n-gram Jaccard near-dup, MinHash-LSH banded near-dup,
SimHash near-dup, token/char statistics, language-ID heuristics, quality
scoring, and document fingerprinting — all over the ``documents`` fixture.

Cross-engine hashing: every hash in an oracle-matched query derives from
``md5`` (identical in Spark and DuckDB) folded to a 48-bit integer, so the
DuckDB oracle can replay the exact pipeline — no engine-specific hash
(xxhash/murmur) is load-bearing.

Scale notes (100 TB):
- Dedup joins are SHINGLE-BUCKETED (explode → join on shingle / band key),
  never all-pairs crossJoin: candidate generation cost is Σ per-bucket
  pairs, controlled by the hot-shingle frequency cap (drop shingles whose
  doc-frequency exceeds a bound — standard near-dup practice; without it a
  boilerplate shingle at 100 TB creates a quadratic bucket).
- MinHash signatures are one explode + one groupBy(doc_id) with K min()
  aggregates — map-side combinable, one shuffle.
- Everything is built-in expressions (codegen); no Python in the data path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_ballista_spark.inventory import QuerySpec
from datafusion_ballista_spark.inventory.util import tables

# ---------------------------------------------------------------------------
# shared building blocks

# MinHash parameters: K hash functions h_i(x) = (a_i*x + b_i) mod P over the
# 48-bit md5-folded shingle value. Deterministic constants (seeded once);
# a_i < 2^12 keeps a_i*x < 2^60 (no int64 overflow).
_P = 999_999_937
_MINHASH_AB = [
    (1543, 308157696), (2741, 37662949), (3433, 553544276), (1361, 430813133),
    (2027, 754274301), (3931, 136490505), (1117, 84267862), (2357, 680192524),
    (3697, 292079922), (1733, 498817302), (2963, 910353322), (3259, 17442715),
    (1913, 618951291), (2221, 769408169), (3581, 457253399), (1231, 205096609),
]
_K = len(_MINHASH_AB)
_BANDS = 4
_ROWS = _K // _BANDS

# hot-shingle cap: a shingle present in more than this many docs is dropped
# from candidate generation (see module docstring).
_MAX_SHINGLE_DF = 100

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _norm_text(c: Column) -> Column:
    return F.lower(F.trim(c))


def _tokens(c: Column) -> Column:
    return F.split(_norm_text(c), " ")


def _shingles(arr: Column) -> Column:
    """Distinct word 3-grams (requires >= 3 tokens; callers filter).

    Built as zip_with over three shifted slices rather than
    transform(sequence, i -> element_at(arr, i)...): the per-index
    element_at lookups run on the interpreted expression path and cost
    ~6x more wall time on the shared shingle pipeline (measured at sf0.1);
    zip_with's lambdas touch only the zipped elements.
    """
    n = F.size(arr) - 2
    a1 = F.slice(arr, F.lit(1), n)
    a2 = F.slice(arr, F.lit(2), n)
    a3 = F.slice(arr, F.lit(3), n)
    return F.array_distinct(
        F.zip_with(
            a1,
            F.zip_with(a2, a3, lambda x, y: F.concat_ws(" ", x, y)),
            lambda x, yz: F.concat_ws(" ", x, yz),
        )
    )


def _h48(c: Column) -> Column:
    """md5 folded to a 48-bit int — identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("bigint")


_SHINGLE_CTE_SQL = """
toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr FROM documents),
sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(arr)-1),
      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingles
  FROM toks WHERE len(arr) >= 3),
ex_all AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
ex AS (
  SELECT doc_id, s FROM ex_all
  WHERE s IN (SELECT s FROM ex_all GROUP BY s
              HAVING COUNT(*) <= {max_df})),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
""".replace("{max_df}", str(_MAX_SHINGLE_DF))


def _parse_size_bytes(v: str) -> int:
    """Parse a Spark size conf value ('134217728', '128m', '16MB', '1g')."""
    s = v.strip().lower()
    for suffix, mult in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("b", 1),
    ):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)])) * mult
    return int(s)


# (applicationId, files, cores) -> whether the source needs spreading.
# Keyed by applicationId so a restarted context never reuses a decision.
_SPREAD_CACHE: dict[tuple, bool] = {}


def _spread_for_explode(spark: SparkSession, d: DataFrame) -> DataFrame:
    """Rebalance the documents scan before a ~100x explode amplification.

    Shingling multiplies each input row into hundreds of output rows, so
    scan-split granularity — sized for reading bytes, not for exploding
    them — under-parallelizes the CPU-heavy tokenize+shingle stage when
    the table has fewer splits than cores (the fixtures' documents table
    is one small file = one split).  The round-robin exchange costs one
    pass over the *compressed input* bytes but balances the 100x larger
    downstream work.  At real scale a 100 TB documents table already
    scans as thousands of splits, and this is a no-op.

    The split estimate comes from the FILE SOURCE (inputFiles + the
    maxPartitionBytes splitting rule Spark itself applies), not from
    ``d.rdd.getNumPartitions()`` — the RDD conversion forced a second
    physical planning of the scan on every query construction and read
    the pre-AQE partitioning (round-6 ADVICE). Decisions are cached per
    (applicationId, file set, cores) so repeated builds in a gate/bench
    session plan the listing once.
    """
    import math
    import os as _os
    from urllib.parse import unquote, urlparse

    cores = spark.sparkContext.defaultParallelism
    try:
        files = tuple(sorted(d.inputFiles()))
    except Exception:
        files = ()
    if not files:
        # Non-file source (in-memory, stream): no split metadata — spread.
        return d.repartition(cores)
    key = (spark.sparkContext.applicationId, files, cores)
    spread = _SPREAD_CACHE.get(key)
    if spread is None:
        max_part = _parse_size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        splits = 0
        for f in files:
            p = urlparse(f)
            if p.scheme in ("", "file"):
                try:
                    sz = _os.path.getsize(unquote(p.path))
                except OSError:
                    sz = 0
                splits += max(1, math.ceil(sz / max_part))
            else:
                # Remote store: size unknown here; count one split per
                # file (conservative — at worst one extra round-robin
                # exchange ahead of a 100x explode).
                splits += 1
        spread = splits < cores
        _SPREAD_CACHE[key] = spread
    return d.repartition(cores) if spread else d


def _exploded_shingles(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, shingle) pairs, hot shingles capped (scale guard)."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    arr = _tokens(F.col("text"))
    ex = (
        d.where(F.size(arr) >= 3)
        .select("doc_id", F.explode(_shingles(arr)).alias("s"))
    )
    hot = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") > _MAX_SHINGLE_DF
    )
    return ex.join(hot, "s", "left_anti")


# ---------------------------------------------------------------------------
# 1. exact dedup


def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup on normalized text: md5-hash groups, keep min doc_id.

    Output is the corpus summary (always 1 row): total docs, distinct
    normalized texts (== docs kept), docs dropped, duplicate groups.
    At 100 TB this is one hash shuffle on the 16-byte digest.
    """
    d = tables(spark, sf, "documents").documents
    g = (
        d.select("doc_id", F.md5(_norm_text(F.col("text"))).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep_id"))
    )
    return g.agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_kept"),
        (F.sum("n") - F.count(F.lit(1))).alias("n_dropped"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("dup_groups"),
    )


DEDUP_EXACT_SQL = """
WITH g AS (
  SELECT md5(lower(trim(text))) AS h, COUNT(*) AS n, MIN(doc_id) AS keep_id
  FROM documents GROUP BY 1)
SELECT CAST(SUM(n) AS BIGINT) AS n_docs, COUNT(*) AS n_kept,
  CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dropped,
  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups
FROM g
"""


# ---------------------------------------------------------------------------
# 2. n-gram Jaccard near-dup (exact, shingle-bucketed)


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup at threshold 0.5.

    Candidate pairs come from a SHINGLE-BUCKETED self-join (co-occurrence
    counting), never an all-pairs product; the hot-shingle cap bounds the
    worst bucket. The fixture plants ~25 pairs with J >= 0.9; the 0.5
    threshold separates them cleanly from the ~0.1 noise floor.
    """
    ex = _exploded_shingles(spark, sf)
    # True (pre-cap) shingle-set sizes: the hot-shingle cap guards
    # CANDIDATE GENERATION only — the Jaccard denominator must use the
    # full sets or capped docs get inflated similarity. (Divergence found
    # by the sf1 stress gate: below-cap fixtures can't tell these apart;
    # at 10x duplication the capped-denominator variant passed 30x more
    # pairs than the oracle.) Computed as a scan-side projection, no
    # extra shuffle.
    d = tables(spark, sf, "documents").documents
    arr = _tokens(F.col("text"))
    sizes = d.where(F.size(arr) >= 3).select(
        "doc_id", F.size(_shingles(arr)).alias("n")
    )
    a = ex.select(F.col("doc_id").alias("da"), "s")
    b = ex.select(F.col("doc_id").alias("db"), "s")
    shared = (
        a.join(b, "s")
        .where(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    return (
        shared.join(sa, "da")
        .join(sb, "db")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("da", "db", "jaccard")
        .orderBy("da", "db")
    )


DEDUP_NGRAM_SQL = f"""
WITH {_SHINGLE_CTE_SQL},
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT da, db,
  round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
FROM pairs
JOIN sizes sa ON da = sa.doc_id
JOIN sizes sb ON db = sb.doc_id
WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
ORDER BY da, db
"""


# ---------------------------------------------------------------------------
# 3. MinHash-LSH near-dup (banded bucketing)


def _minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    ex = _exploded_shingles(spark, sf).withColumn("x", _h48(F.col("s")))
    aggs = [
        F.min((F.col("x") * a + b) % _P).alias(f"h{i}")
        for i, (a, b) in enumerate(_MINHASH_AB)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def _reusable_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """Signature DF, materialized once per execution.

    The sig feeds 4 band projections + 2 score-join sides, and column
    pruning specializes each consumer's aggregate subtree, so without
    materialization the explode+groupBy recomputes per consumer. The
    lazy ``localCheckpoint`` materializes it once and the ContextCleaner
    frees the blocks when the DF is GC'd — unlike ``.cache()``, which
    leaks storage memory for the rest of a gate/bench session (an
    inventory builder has no unpersist hook, round-6 ADVICE class) and
    silently turns repeated-execution benchmarks into cache-hit
    measurements (the round-5 sf1 "2.68 s steady / 10.4 s cold" gap).
    Same-session A/Bs with the cache cleared between runs, median-of-3,
    idle machine: sf1 localCheckpoint 5.93 s vs 6.13 cache / 6.24
    nocache; sf0.1 bench steady 1.88 s (localCheckpoint) vs 2.91 s
    (nocache) — materialize-once wins at both measured scales, and at
    100 TB a signature recompute per consumer is strictly worse.
    """
    return _minhash_signatures(spark, sf).localCheckpoint(eager=False)


def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash (K=16) + LSH banding (4 bands x 4 rows): candidate pairs via
    band-key grouping — the scale path for near-dup at 100 TB.

    A pair is a candidate iff some band of 4 signature rows agrees exactly;
    est_jaccard is the fraction of agreeing signature rows. For J=0.9 the
    candidate probability is ~0.99; for the J<=0.1 noise floor it is ~0.
    Never an all-pairs join: candidates come from equi-joining on the
    packed band key (k1, k2) — see the packing note below.

    Signature reuse (see _reusable_signatures): the sig DF feeds 4 band
    projections + 2 score-join sides and is UNCONDITIONALLY materialized
    once per execution via a GC-cleaned lazy localCheckpoint — the
    same-session A/B showed materialize-once winning at every measured
    scale, so no recompute threshold exists.
    """
    sig = _reusable_signatures(spark, sf)
    # Band keys packed into two fixed-width bigints instead of the
    # previous "_"-joined string (round 14, guide §2.3 "narrower
    # types"): every h_i is min((x*a+b) % _P) with _P < 2^30, so
    # (band_id, h0, h1) bijects into k1 = (band_id*2^30 + h0)*2^30 + h1
    # (<= 3*2^60 + 2^60 < 2^63, exact) and (h2, h3) into
    # k2 = h2*2^30 + h3 (< 2^60). 16 bytes of join key per band row
    # through the candidate shuffle in place of a ~40-byte string +
    # band_id, with the string concat/compare dropped from the probe —
    # and the packing is COLLISION-FREE (a pure base-2^30 positional
    # encoding), so the candidate set is bit-identical to the string
    # form by construction.
    _B30 = F.lit(1 << 30).cast("bigint")
    band_frames = []
    for bnd in range(_BANDS):
        cols = [F.col(f"h{bnd * _ROWS + r}") for r in range(_ROWS)]
        if _ROWS != 4:
            raise ValueError("k1/k2 packing assumes 4 rows per band")
        band_frames.append(
            sig.select(
                "doc_id",
                ((F.lit(bnd).cast("bigint") * _B30 + cols[0]) * _B30
                 + cols[1]).alias("k1"),
                (cols[2] * _B30 + cols[3]).alias("k2"),
            )
        )
    bands = band_frames[0]
    for bf in band_frames[1:]:
        bands = bands.union(bf)
    a = bands.select("k1", "k2", F.col("doc_id").alias("da"))
    b = bands.select("k1", "k2", F.col("doc_id").alias("db"))
    cand = (
        a.join(b, ["k1", "k2"])
        .where(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    siga = sig.select(
        F.col("doc_id").alias("da"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(_K)]
    )
    sigb = sig.select(
        F.col("doc_id").alias("db"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(_K)]
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(_K)
    )
    return (
        cand.join(siga, "da")
        .join(sigb, "db")
        .select(
            "da",
            "db",
            F.round(agree / F.lit(float(_K)), 6).alias("est_jaccard"),
        )
        .orderBy("da", "db")
    )


def _minhash_oracle_sql() -> str:
    mins = ",\n    ".join(
        f"MIN((x * {a} + {b}) % {_P}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH_AB)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {bnd} AS band_id, ".format(bnd=bnd)
        + " || '_' || ".join(
            f"CAST(h{bnd * _ROWS + r} AS VARCHAR)" for r in range(_ROWS)
        )
        + " AS band_key FROM sig"
        for bnd in range(_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(_K)
    )
    return f"""
WITH {_SHINGLE_CTE_SQL},
hx AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 12))::BIGINT AS x FROM ex),
sig AS (
  SELECT doc_id,
    {mins}
  FROM hx GROUP BY doc_id),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
    AND a.doc_id < b.doc_id)
SELECT da, db, round(({agree}) / {float(_K)}, 6) AS est_jaccard
FROM cand
JOIN sig sa ON da = sa.doc_id
JOIN sig sb ON db = sb.doc_id
ORDER BY da, db
"""


# ---------------------------------------------------------------------------
# 3b. dedup cluster assembly (connected components over the near-dup graph)


def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster assembly: connected components over the exact
    Jaccard >= 0.5 near-dup edge set, so each group of transitively-linked
    near-dups collapses to one canonical doc (min doc_id) — the step a real
    curation pipeline runs AFTER pair generation (pairs alone over-drop:
    A~B, B~C must keep exactly one of {A,B,C}).

    Spark-first iterative algorithm (no GraphX, no Python): min-label
    propagation to a fixpoint. Each round is one join + one min-aggregate
    over the (bounded, already-thresholded) edge list; labels are
    localCheckpoint'd per round to truncate lineage. Rounds needed =
    component diameter (near-dup clusters are tiny); the loop stops when a
    round changes nothing. The DuckDB oracle computes the same fixpoint
    declaratively with WITH RECURSIVE reachability + MIN.

    Scale: state is one (doc_id, label) row per *graph* doc (docs with any
    near-dup edge — far smaller than the corpus); each round shuffles on
    doc_id only. Driver involvement is one scalar count per round."""
    labels = _dedup_labels(spark, sf)
    return (
        labels.groupBy(F.col("lab").alias("cluster_root"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("doc").alias("max_doc"),
        )
        .orderBy("cluster_root")
    )


def _dedup_labels(spark: SparkSession, sf: str) -> DataFrame:
    """(doc, lab) per graph doc: the min-label-propagation fixpoint shared
    by dedup_clusters and dedup_keep_best (see dedup_clusters docstring)."""
    pairs = (
        dedup_ngram_jaccard(spark, sf).select("da", "db").cache()
    )
    edges = (
        pairs.select(F.col("da").alias("src"), F.col("db").alias("dst"))
        .unionAll(pairs.select(F.col("db").alias("src"), F.col("da").alias("dst")))
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("lab", F.col("doc"))
        .localCheckpoint()
    )
    for _ in range(50):  # bound >> any real near-dup component diameter
        prop = (
            edges.join(labels, F.col("src") == F.col("doc"))
            .groupBy(F.col("dst").alias("doc"))
            .agg(F.min("lab").alias("nlab"))
        )
        nxt = (
            labels.join(prop, "doc", "left")
            .select("doc", F.least("lab", F.coalesce("nlab", "lab")).alias("lab"))
            .localCheckpoint()
        )
        changed = (
            nxt.join(labels.withColumnRenamed("lab", "old"), "doc")
            .where(F.col("lab") != F.col("old"))
            .count()
        )
        labels = nxt
        if changed == 0:
            break
    # The per-round localCheckpoint materialized `labels` independent of
    # the edge lineage, so the loop caches can be released here instead of
    # accumulating for the rest of a gate/bench session (same leak class
    # as the round-6 dedup_incremental ADVICE).
    pairs.unpersist()
    edges.unpersist()
    return labels


DEDUP_CLUSTERS_SQL = f"""
WITH {_SHINGLE_CTE_SQL},
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
edges AS MATERIALIZED (
  SELECT da, db FROM pairs
  JOIN sizes sa ON da = sa.doc_id
  JOIN sizes sb ON db = sb.doc_id
  WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5),
sym AS MATERIALIZED (
  -- MATERIALIZED (round 12): DuckDB re-evaluates non-materialized CTEs
  -- inside a recursive term on EVERY iteration — here that re-ran the
  -- whole shingle explode + pair self-join per BFS step (the 28-minute
  -- sf1 gate row); pinning the edge list makes each step a join against
  -- a materialized table. Results identical, evaluation strategy only.
  SELECT da AS src, db AS dst FROM edges
  UNION ALL
  SELECT db AS src, da AS dst FROM edges),
nodes AS (SELECT DISTINCT src AS doc FROM sym),
reach AS (
  WITH RECURSIVE r(doc, lab) AS (
    SELECT doc, doc FROM nodes
    UNION
    SELECT e.dst, r.lab FROM r JOIN sym e ON e.src = r.doc)
  SELECT doc, MIN(lab) AS lab FROM r GROUP BY doc)
SELECT lab AS cluster_root, COUNT(*) AS n_members, MAX(doc) AS max_doc
FROM reach
GROUP BY lab
ORDER BY cluster_root
"""


# ---------------------------------------------------------------------------
# 4. SimHash near-dup


_SIMBITS = 32


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """32-bit SimHash near-dup: per-bit weighted token votes → fingerprint;
    candidate pairs share one of 4 8-bit bands (pigeonhole guarantees full
    recall for hamming distance <= 3); output pairs with hamming <= 3.

    Features are 3-gram shingles (unigrams degenerate when the corpus
    vocabulary is small — every doc would vote the same way on every bit).

    Scale shape: one explode + groupBy(doc_id) for fingerprints, then a
    band-bucketed self-join — same discipline as MinHash-LSH.
    """
    toks = _exploded_shingles(spark, sf).withColumn("x", _h48(F.col("s")))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("x"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(_SIMBITS)
        ]
    )
    simhash = sum(
        F.when(F.col(f"v{b}") >= 0, 1 << b).otherwise(0) for b in range(_SIMBITS)
    )
    fp = votes.select("doc_id", simhash.alias("fp"))
    bands = None
    for j in range(4):
        bj = fp.select(
            "doc_id",
            "fp",
            F.lit(j).alias("band_id"),
            F.shiftright(F.col("fp"), j * 8).bitwiseAND(255).alias("band_val"),
        )
        bands = bj if bands is None else bands.union(bj)
    a = bands.select("band_id", "band_val", F.col("doc_id").alias("da"), F.col("fp").alias("fa"))
    b = bands.select("band_id", "band_val", F.col("doc_id").alias("db"), F.col("fp").alias("fb"))
    return (
        a.join(b, ["band_id", "band_val"])
        .where(F.col("da") < F.col("db"))
        .select("da", "db", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= 3)
        .orderBy("da", "db")
    )


def _simhash_oracle_sql() -> str:
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(_SIMBITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} >= 0 THEN {1 << b} ELSE 0 END" for b in range(_SIMBITS)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, fp, {j} AS band_id, (fp >> {j * 8}) & 255 AS band_val FROM fp"
        for j in range(4)
    )
    return f"""
WITH {_SHINGLE_CTE_SQL},
hx AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 12))::BIGINT AS x FROM ex),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hx GROUP BY doc_id),
fp AS (SELECT doc_id, {fp} AS fp FROM votes),
bands AS (
{band_rows}
)
SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
  bit_count(xor(a.fp, b.fp)) AS hamming
FROM bands a
JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
  AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
ORDER BY da, db
"""


# ---------------------------------------------------------------------------
# 4b. TF-IDF top terms


def tfidf_topk_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword/feature-extraction
    primitive of a curation pipeline. tf is one groupBy(doc, token); df is
    one groupBy(token) over the (doc, token) pairs (already distinct); N is
    a 1-row scalar broadcast. Ranking uses round-9 scores with a token
    tiebreaker so cross-engine libm ulps cannot reorder.

    Scale: two chained hash aggregates + a per-doc window — every stage
    keys on doc or token; no global sort, no Python."""
    d = tables(spark, sf, "documents").documents
    toks = d.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 9).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "tok", "tf", F.round("tfidf", 6).alias("tfidf"), "rk")
        .orderBy("doc_id", "rk")
    )


TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
  FROM documents),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks WHERE tok <> ''
  GROUP BY 1, 2),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
scored AS (
  SELECT doc_id, tok, tf, round(tf * ln(n * 1.0 / df), 9) AS tfidf
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
ranked AS (
  SELECT doc_id, tok, tf, tfidf,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rk
  FROM scored)
SELECT doc_id, tok, tf, round(tfidf, 6) AS tfidf, rk
FROM ranked WHERE rk <= 3
ORDER BY doc_id, rk
"""


# ---------------------------------------------------------------------------
# 5. text statistics / token counting


def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token/char statistics with a BPE-ish regex tokenizer."""
    d = tables(spark, sf, "documents").documents
    ws_tokens = F.size(_tokens(F.col("text")))
    bpe_tokens = F.regexp_count(F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"))
    stop_hits = F.size(
        F.filter(
            _tokens(F.col("text")),
            lambda t: t.isin(_STOPWORDS),
        )
    )
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("chars"),
        ws_tokens.alias("ws_tokens"),
        bpe_tokens.cast("bigint").alias("bpe_tokens"),
        F.round(F.length("text") / ws_tokens, 6).alias("chars_per_token"),
        stop_hits.alias("stop_hits"),
        F.round(stop_hits / ws_tokens, 6).alias("stop_ratio"),
    ).orderBy("doc_id")


_STOP_SQL_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)

TEXT_STATS_SQL = rf"""
SELECT doc_id, lang,
  length(text) AS chars,
  len(string_split(lower(trim(text)), ' ')) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT)
    AS bpe_tokens,
  round(length(text) * 1.0 / len(string_split(lower(trim(text)), ' ')), 6)
    AS chars_per_token,
  len(list_filter(string_split(lower(trim(text)), ' '),
      t -> t IN ({_STOP_SQL_LIST}))) AS stop_hits,
  round(len(list_filter(string_split(lower(trim(text)), ' '),
      t -> t IN ({_STOP_SQL_LIST}))) * 1.0
    / len(string_split(lower(trim(text)), ' ')), 6) AS stop_ratio
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# 6. language-ID heuristic


_LANG_MARKERS = {
    "en": ["the", "a", "and", "of"],
    "es": ["el", "la", "de", "y"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
}


def lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-marker language-ID heuristic with deterministic argmax
    (score, then fixed language order as tiebreak); compared against the
    fixture's labeled ``lang`` column for an accuracy summary."""
    d = tables(spark, sf, "documents").documents
    toks = _tokens(F.col("text"))

    def _score(words: list[str]) -> Column:
        # nb: F.filter dispatches on lambda arity — keep it unary
        return F.size(F.filter(toks, lambda t: t.isin(words)))

    scores = {lg: _score(ws) for lg, ws in _LANG_MARKERS.items()}
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[scores[lg] for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier languages win ties
        pred = F.when((best > 0) & (scores[lg] == best), lg).otherwise(pred)
    per_doc = d.select("doc_id", "lang", pred.alias("pred_lang"))
    return (
        per_doc.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


def _lang_oracle_sql() -> str:
    score = {
        lg: (
            "len(list_filter(string_split(lower(trim(text)), ' '), "
            f"t -> t IN ({', '.join(repr(w) for w in ws)})))"
        )
        for lg, ws in _LANG_MARKERS.items()
    }
    langs = list(_LANG_MARKERS)
    best = "greatest(" + ", ".join(score[lg] for lg in langs) + ")"
    pred = "'und'"
    for lg in reversed(langs):
        pred = (
            f"CASE WHEN {best} > 0 AND {score[lg]} = {best} "
            f"THEN '{lg}' ELSE {pred} END"
        )
    return f"""
SELECT lang, pred_lang, COUNT(*) AS n FROM (
  SELECT doc_id, lang, {pred} AS pred_lang FROM documents)
GROUP BY lang, pred_lang
ORDER BY lang, pred_lang
"""


# ---------------------------------------------------------------------------
# 7. quality scoring


def _quality_expr() -> Column:
    """The composite quality score column (rounded 6 dp), shared by
    quality_score and dedup_keep_best so both rank on identical values."""
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    alpha_ratio = F.regexp_count(F.col("text"), F.lit("[a-zA-Z]")) / F.length("text")
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS))) / n_tok
    mean_wlen = (F.length("text") - (n_tok - 1)) / n_tok
    return F.round(
        0.35 * F.least(n_tok / F.lit(200.0), F.lit(1.0))
        + 0.25 * alpha_ratio
        + 0.2 * F.least(stop_ratio * 5, F.lit(1.0))
        + 0.2 * F.least(mean_wlen / 8, F.lit(1.0)),
        6,
    )


def quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Composite quality score: length, alpha ratio, stopword presence,
    mean word length — the standard cheap pre-LLM quality gate."""
    d = tables(spark, sf, "documents").documents
    score = _quality_expr()
    return (
        d.select("doc_id", "lang", score.alias("quality"))
        .where(F.col("quality") >= 0.4)
        .orderBy("doc_id")
    )


# The quality formula as a DuckDB expression over `text`, shared by
# QUALITY_SQL and DEDUP_KEEP_BEST_SQL (must match _quality_expr exactly).
_QUALITY_EXPR_SQL = rf"""round(
      0.35 * least(len(string_split(lower(trim(text)), ' ')) / 200.0, 1.0)
      + 0.25 * (len(regexp_extract_all(text, '[a-zA-Z]')) * 1.0 / length(text))
      + 0.2 * least((len(list_filter(string_split(lower(trim(text)), ' '),
            t -> t IN ({_STOP_SQL_LIST}))) * 1.0
          / len(string_split(lower(trim(text)), ' '))) * 5, 1.0)
      + 0.2 * least(((length(text) - (len(string_split(lower(trim(text)), ' ')) - 1))
          * 1.0 / len(string_split(lower(trim(text)), ' '))) / 8, 1.0), 6)"""

QUALITY_SQL = rf"""
SELECT doc_id, lang, quality FROM (
  SELECT doc_id, lang, {_QUALITY_EXPR_SQL} AS quality
  FROM documents)
WHERE quality >= 0.4
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# 8. document fingerprinting (min-hash winnowing style)


def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 3-gram fingerprint: the 4 smallest shingle hashes per doc,
    joined to a hex digest — a compact near-dup-stable document signature."""
    ex = _exploded_shingles(spark, sf).withColumn("x", _h48(F.col("s")))
    return (
        ex.groupBy("doc_id")
        .agg(
            F.array_join(
                F.slice(F.array_sort(F.collect_list("x")), 1, 4), "-"
            ).alias("fingerprint"),
            F.min("x").alias("min_hash"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .orderBy("doc_id")
    )


DOC_FINGERPRINT_SQL = f"""
WITH {_SHINGLE_CTE_SQL},
hx AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 12))::BIGINT AS x FROM ex)
SELECT doc_id,
  array_to_string(list_sort(list(x))[1:4], '-') AS fingerprint,
  MIN(x) AS min_hash,
  COUNT(*) AS n_shingles
FROM hx GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# 9. end-to-end curation summary


def curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Composed curation pass: exact-dedup winners ∩ quality gate, rolled up
    by (lang, source) — the shape of a real corpus-preparation job."""
    d = tables(spark, sf, "documents").documents
    keep = (
        d.select("doc_id", F.md5(_norm_text(F.col("text"))).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    q = quality_score(spark, sf).select("doc_id")
    return (
        d.join(keep, "doc_id", "left_semi")
        .join(q, "doc_id", "left_semi")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang", "source")
    )


CURATION_SQL = rf"""
WITH keep AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents GROUP BY md5(lower(trim(text)))),
q AS (
  SELECT doc_id FROM (
    SELECT doc_id,
      round(0.35 * least(len(string_split(lower(trim(text)), ' ')) / 200.0, 1.0)
        + 0.25 * (len(regexp_extract_all(text, '[a-zA-Z]')) * 1.0 / length(text))
        + 0.2 * least((len(list_filter(string_split(lower(trim(text)), ' '),
              t -> t IN ({_STOP_SQL_LIST}))) * 1.0
            / len(string_split(lower(trim(text)), ' '))) * 5, 1.0)
        + 0.2 * least(((length(text) - (len(string_split(lower(trim(text)), ' ')) - 1))
            * 1.0 / len(string_split(lower(trim(text)), ' '))) / 8, 1.0), 6)
        AS quality
    FROM documents)
  WHERE quality >= 0.4)
SELECT lang, source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id IN (SELECT doc_id FROM keep)
  AND doc_id IN (SELECT doc_id FROM q)
GROUP BY lang, source
ORDER BY lang, source
"""


def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental (cross-snapshot) dedup — the production ingestion
    shape: a NEW crawl batch (doc_id % 3 == 0 stands in for it) is
    deduped against the EXISTING corpus without ever re-pairing
    corpus x corpus. Same MinHash signatures and band keys as
    ``dedup_minhash_lsh``, but the candidate join is asymmetric
    (new-side bands x corpus-side bands), so ingestion cost is
    Σ per-bucket |new| x |corpus| overlaps — re-running yesterday's
    dedup is never part of today's bill. Output: one row per new doc
    with its best corpus match (highest signature agreement >= 0.5,
    ties to the lowest corpus id) or NULLs if the doc is clean.

    Signature reuse via _reusable_signatures (UNCONDITIONAL GC-cleaned
    lazy localCheckpoint — materialize-once won the same-session A/B at
    every measured scale, so there is no recompute threshold),
    never ``.cache()`` — an inventory builder has no lifecycle hook to
    unpersist, so a cached sig would accumulate in storage memory across
    a 371-query gate/bench session (round-6 ADVICE)."""
    sig = _reusable_signatures(spark, sf)
    is_new = F.col("doc_id") % 3 == 0
    # Packed fixed-width band keys, exactly dedup_minhash_lsh's round-14
    # form (see the packing note there): h_i < _P < 2^30, so
    # (band_id, h0, h1) -> k1 and (h2, h3) -> k2 is a collision-free
    # base-2^30 encoding — 16 bytes of join key per band row through
    # the asymmetric candidate shuffle instead of a ~40-byte string.
    _B30 = F.lit(1 << 30).cast("bigint")
    bands = []
    for bnd in range(_BANDS):
        cols = [F.col(f"h{bnd * _ROWS + r}") for r in range(_ROWS)]
        if _ROWS != 4:
            raise ValueError("k1/k2 packing assumes 4 rows per band")
        bands.append(
            sig.select(
                "doc_id",
                ((F.lit(bnd).cast("bigint") * _B30 + cols[0]) * _B30
                 + cols[1]).alias("k1"),
                (cols[2] * _B30 + cols[3]).alias("k2"),
            )
        )
    all_bands = bands[0]
    for bf in bands[1:]:
        all_bands = all_bands.union(bf)
    new_b = all_bands.where(is_new).select(
        "k1", "k2", F.col("doc_id").alias("n")
    )
    corp_b = all_bands.where(~is_new).select(
        "k1", "k2", F.col("doc_id").alias("c")
    )
    cand = new_b.join(corp_b, ["k1", "k2"]).select("n", "c").distinct()
    sign = sig.select(
        F.col("doc_id").alias("n"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(_K)],
    )
    sigc = sig.select(
        F.col("doc_id").alias("c"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(_K)],
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(_K)
    )
    scored = (
        cand.join(sign, "n")
        .join(sigc, "c")
        .select("n", "c", F.round(agree / F.lit(float(_K)), 6).alias("est"))
        .where(F.col("est") >= 0.5)
    )
    w = Window.partitionBy("n").orderBy(F.desc("est"), F.asc("c"))
    best = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("n", F.col("c").alias("dup_of"), F.col("est").alias("est_jaccard"))
    )
    new_docs = sig.where(is_new).select(F.col("doc_id"))
    return (
        new_docs.join(best, new_docs.doc_id == best.n, "left")
        .select("doc_id", "dup_of", "est_jaccard")
        .orderBy("doc_id")
    )


def _incremental_oracle_sql() -> str:
    mins = ",\n    ".join(
        f"MIN((x * {a} + {b}) % {_P}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH_AB)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {bnd} AS band_id, ".format(bnd=bnd)
        + " || '_' || ".join(
            f"CAST(h{bnd * _ROWS + r} AS VARCHAR)" for r in range(_ROWS)
        )
        + " AS band_key FROM sig"
        for bnd in range(_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(_K)
    )
    return f"""
WITH {_SHINGLE_CTE_SQL},
hx AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 12))::BIGINT AS x FROM ex),
sig AS (
  SELECT doc_id,
    {mins}
  FROM hx GROUP BY doc_id),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS n, b.doc_id AS c
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0),
scored AS (
  SELECT n, c, round(({agree}) / {float(_K)}, 6) AS est
  FROM cand
  JOIN sig sa ON n = sa.doc_id
  JOIN sig sb ON c = sb.doc_id),
best AS (
  SELECT n, c AS dup_of, est AS est_jaccard,
    ROW_NUMBER() OVER (PARTITION BY n ORDER BY est DESC, c) AS rk
  FROM scored WHERE est >= 0.5)
SELECT s.doc_id, b.dup_of, b.est_jaccard
FROM sig s LEFT JOIN best b ON s.doc_id = b.n AND b.rk = 1
WHERE s.doc_id % 3 = 0
ORDER BY s.doc_id
"""


# ---------------------------------------------------------------------------
# 10. PII redaction sweep

# Patterns chosen for IDENTICAL semantics in Java regex (Spark) and RE2
# (DuckDB): no alternation (Java is leftmost-first, RE2 leftmost-longest —
# alternation order is the one place they disagree), ASCII \d/\b only,
# greedy quantifiers (greedy in both). Scrub order is part of the
# contract: EMAIL first (it consumes the '@domain' text the IP pattern
# could partially overlap), then IP, then PHONE (disjoint alphabets).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d[\d ]{7,}\d"


def pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction — the curation stage every production corpus runs
    before training: emails / IPv4s / phone numbers replaced by typed
    redaction tokens, with per-doc match counts for the audit trail.

    The fixture text contains no natural PII, so each doc is seeded with
    DETERMINISTIC synthetic PII (an email, a phone, an IP derived from
    doc_id) before scrubbing — the op is provably non-vacuous and the
    oracle replays the identical seed + scrub. Everything is codegen'd
    regexp expressions: at 100 TB this is a map-only pass, zero shuffles,
    zero Python.
    """
    d = tables(spark, sf, "documents").documents
    txt = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555 01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" 4321 from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    seeded = d.select("doc_id", txt.alias("txt"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("txt"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return (
        seeded.select(
            "doc_id",
            F.regexp_count(F.col("txt"), F.lit(_PII_EMAIL))
            .cast("int")
            .alias("n_emails"),
            F.regexp_count(F.col("txt"), F.lit(_PII_IP))
            .cast("int")
            .alias("n_ips"),
            F.regexp_count(F.col("txt"), F.lit(_PII_PHONE))
            .cast("int")
            .alias("n_phones"),
            F.md5(scrubbed).alias("scrub_md5"),
        )
        .orderBy("doc_id")
    )


PII_SCRUB_SQL = rf"""
WITH seeded AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
      || '@example.com or +1 555 01'
      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
      || ' 4321 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS txt
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(txt, '{_PII_EMAIL}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(txt, '{_PII_IP}')) AS INTEGER) AS n_ips,
  CAST(len(regexp_extract_all(txt, '{_PII_PHONE}')) AS INTEGER) AS n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(txt,
    '{_PII_EMAIL}', '<EMAIL>', 'g'),
    '{_PII_IP}', '<IP>', 'g'),
    '{_PII_PHONE}', '<PHONE>', 'g')) AS scrub_md5
FROM seeded
ORDER BY doc_id
"""


def quality_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram LM quality scoring (the CCNet/Gopher-style perplexity
    filter, degree 1): build corpus unigram frequencies, then score each
    document by its mean token log-probability — low scores flag
    gibberish/boilerplate for the curation pipeline.

    Determinism discipline: per-token log-probs are quantized to integer
    micro-nats (round(ln(c/N)*1e6)) BEFORE the per-doc sum, so the
    aggregate is an exact integer sum — order-independent across Spark
    partitionings and engines — with one IEEE divide at the end; a raw
    double SUM(ln(...)) would be partition-order-dependent.

    Scale (100 TB): explode -> groupBy(token) rides partial aggregation
    (hot Zipf tokens combine map-side); the unigram table is then
    BROADCAST back for the scoring pass (round 12) — the vocabulary is
    bounded far below corpus size by Heaps' law, so shipping it to every
    executor makes scoring map-only and the whole query two shuffles
    (uni agg + per-doc agg) instead of three. AQE converts the join to
    broadcast on its own at runtime, but only AFTER materializing the
    full token-stream shuffle the hint avoids (sf1 A/B under noop write
    2.3-2.8 -> 2.23-2.27 s, output bit-identical; a corpus whose vocab outgrew the
    broadcast budget would drop the hint and fall back to that
    AQE-converted shuffle join with skew splitting — same results). The
    grand total is a 1-row broadcast. No global sort except the gate's
    orderBy; no Python anywhere."""
    d = tables(spark, sf, "documents").documents
    toks = d.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.sum("c").alias("n_total"))
    micro = (
        toks.join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("c").cast("double") / F.col("n_total")) * 1_000_000
            )
            .cast("bigint")
            .alias("m"),
        )
    )
    return (
        micro.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum("m").alias("sm"))
        .select(
            "doc_id",
            "n_tok",
            F.round(F.col("sm") / F.col("n_tok") / 1_000_000, 6).alias(
                "avg_logp"
            ),
        )
        .orderBy("doc_id")
    )


QUALITY_UNIGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
  FROM documents),
t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
uni AS (SELECT tok, COUNT(*) AS c FROM t2 GROUP BY 1),
tot AS (SELECT SUM(c) AS n_total FROM uni),
micro AS (
  SELECT doc_id,
    CAST(ROUND(ln(CAST(c AS DOUBLE) / n_total) * 1000000) AS BIGINT) AS m
  FROM t2 JOIN uni USING (tok) CROSS JOIN tot)
SELECT doc_id, COUNT(*) AS n_tok,
  ROUND(SUM(m) / COUNT(*) / 1000000, 6) AS avg_logp
FROM micro GROUP BY doc_id ORDER BY doc_id
"""


def quality_repetition_gopher(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): flag
    documents whose most-frequent unigram dominates the text or whose
    bigrams are mostly repeats — boilerplate/spam signals the curation
    pipeline drops before training.

    Per doc: ``top_uni_frac`` = occurrences of the modal token / total
    tokens; ``dup_bi_frac`` = fraction of bigram slots occupied by a
    repeated bigram (1 - distinct/total). Thresholds (modal token > 12%
    or duplicate bigrams > 5%) are compared in exact integer
    cross-multiplication on both engines, so the flag never depends on
    float rounding.

    Scale (100 TB): ONE scan, two shuffles, no join. The bigram stats
    (n_bi, n_bi_d) are per-row codegen expressions (transform/sequence/
    array_distinct — linear in doc length) computed BEFORE the token
    explode and carried through it as two longs per row, then folded
    into the existing aggregations with min() — constants per doc, so
    min == the value. The unigram mode rides explode ->
    partial-aggregated groupBy((doc_id, tok)) -> groupBy(doc_id), both
    shuffles keyed by doc_id(+tok), no hot keys beyond single-doc size.
    No Python anywhere.

    (Round-11: the scan is spread before the explode like every other
    documents query — the fixtures' 2 scan splits starved the 16-core
    tokenize+mode stage; sf1 A/B 3.4 -> 2.2 s warm, output identical.
    A fully map-only variant — modal count via sorted-array run-length
    fold — measured SLOWER, 6.1 s: the per-row array_sort+fold costs
    more than the two partial-aggregated shuffles it saves. Round-12:
    fused the separate bigram frame + doc_id join into the main
    aggregate as above — removes a scan, a join shuffle, and a stage at
    every scale (executed plan: 1 FileScan, 0 joins). A/B lesson: time
    fusions under noop WRITE, not count() — count() let Catalyst prune
    the array_distinct column entirely and made every variant look
    equal; under real materialization the old join plan is 2.4-2.7 s at
    sf1, the naive fusion (stats in the explode's projection) is 7.2 s
    (the Generate-placement trap in the comment below), and this
    two-projection form is 1.8-2.6 s, output bit-identical.)"""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    base = d.select(
        "doc_id",
        F.filter(_tokens(F.col("text")), lambda x: x != "").alias("t"),
    ).where(F.size("t") >= 2)
    bg = F.expr(
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"
    )
    # Two selects on purpose: putting the bigram expressions in the SAME
    # projection as explode() makes ExtractGenerator place the Generate
    # BELOW them — array_distinct then runs once per token (~500x
    # amplification; measured 7.2 s vs 1.8 s at sf1 under noop write).
    # With the stats in their own projection, Generate sits above it and
    # the bigram work runs once per document.
    pre = base.select(
        "doc_id",
        F.size(bg).alias("n_bi"),
        F.size(F.array_distinct(bg)).alias("n_bi_d"),
        "t",
    )
    ex = pre.select("doc_id", "n_bi", "n_bi_d", F.explode("t").alias("tok"))
    us = (
        ex.groupBy("doc_id", "tok")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("n_bi").alias("n_bi"),
            F.min("n_bi_d").alias("n_bi_d"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_c"),
            F.sum("c").alias("n_tok"),
            F.min("n_bi").alias("n_bi"),
            F.min("n_bi_d").alias("n_bi_d"),
        )
    )
    return (
        us.select(
            "doc_id",
            "n_tok",
            F.round(F.col("top_c") / F.col("n_tok"), 6).alias("top_uni_frac"),
            F.round(1 - F.col("n_bi_d") / F.col("n_bi"), 6).alias(
                "dup_bi_frac"
            ),
            (
                (F.col("top_c") * 100 > F.col("n_tok") * 12)
                | ((F.col("n_bi") - F.col("n_bi_d")) * 100 > F.col("n_bi") * 5)
            )
            .cast("int")
            .alias("flag_repetitive"),
        )
        .orderBy("doc_id")
    )


QUALITY_REPETITION_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS t
  FROM documents),
toks AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS ord
  FROM base WHERE len(t) >= 2),
uni AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
us AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_tok FROM uni GROUP BY 1),
bi AS (
  SELECT doc_id,
         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS bg
  FROM toks QUALIFY bg IS NOT NULL),
bs AS (SELECT doc_id, COUNT(*) AS n_bi, COUNT(DISTINCT bg) AS n_bi_d
       FROM bi GROUP BY 1)
SELECT us.doc_id, CAST(n_tok AS BIGINT) AS n_tok,
  ROUND(CAST(top_c AS DOUBLE) / n_tok, 6) AS top_uni_frac,
  ROUND(1 - CAST(n_bi_d AS DOUBLE) / n_bi, 6) AS dup_bi_frac,
  CAST(CASE WHEN top_c * 100 > n_tok * 12
              OR (n_bi - n_bi_d) * 100 > n_bi * 5
       THEN 1 ELSE 0 END AS INT) AS flag_repetitive
FROM us JOIN bs ON us.doc_id = bs.doc_id
ORDER BY us.doc_id
"""


_C4_L = 7  # seeded pseudo-line length (words)


def quality_c4_filters(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style cleaning battery (Raffel et al. 2020 §2.2): line-level
    keep rules (terminal punctuation AND >=5 words) plus page-level drop
    rules (contains "lorem ipsum", contains '{', fewer than 3 kept
    lines) — the other half of the Gopher/CCNet curation gauntlet.

    The fixture text is single-line word salad with no punctuation, so —
    the pii_scrub seeding precedent — each doc is first given
    DETERMINISTIC line structure both engines replay identically: tokens
    chunked into 7-word pseudo-lines, line i of doc d ends in '.' unless
    (d*31+i) % 5 == 0 (so ~20% of lines fail the punctuation rule), a
    "lorem ipsum ..." line is injected when doc_id % 41 == 0 and a
    '{'-bearing code line when doc_id % 53 == 0. Every rule is provably
    non-vacuous at sf0.01 (pinned in tests/test_curation_ops.py).

    Scale (100 TB): a map-ONLY pass — chunking, per-line predicates,
    page flags, and the cleaned-text digest are all whole-stage-codegen
    array expressions (sequence/transform/slice/filter); zero shuffles,
    zero Python, parallelism = input splits. The C4 paper's third page
    rule (3-sentence span dedup) is the dedup_* family's job here."""
    d = tables(spark, sf, "documents").documents
    base = d.select(
        "doc_id",
        F.filter(_tokens(F.col("text")), lambda x: x != "").alias("t"),
    ).where(F.size("t") > 0)
    lines = F.expr(f"""
        transform(
          sequence(0, cast(ceil(size(t) / {_C4_L}.0) as int) - 1),
          i -> concat(
            concat_ws(' ', slice(t, i * {_C4_L} + 1, {_C4_L})),
            CASE WHEN (doc_id * 31 + i) % 5 = 0 THEN '' ELSE '.' END))
    """)
    seeded = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 41 == 0,
            F.concat(
                lines,
                F.array(
                    F.lit(
                        "lorem ipsum dolor sit amet consectetur adipiscing."
                    )
                ),
            ),
        )
        .otherwise(lines)
        .alias("l0"),
    ).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 53 == 0,
            F.concat(
                F.col("l0"), F.array(F.lit("var config = { debug: true"))
            ),
        )
        .otherwise(F.col("l0"))
        .alias("lines"),
    )
    kept = F.expr(
        "filter(lines, x -> right(x, 1) IN ('.', '!', '?')"
        " AND size(split(x, ' ')) >= 5)"
    )
    page = F.concat_ws("\n", F.col("lines"))
    return (
        seeded.select(
            "doc_id",
            F.size("lines").alias("n_lines"),
            F.size(kept).alias("n_kept"),
            F.contains(page, F.lit("lorem ipsum")).cast("int").alias(
                "flag_lorem"
            ),
            F.contains(page, F.lit("{")).cast("int").alias("flag_brace"),
            F.md5(F.concat_ws("\n", kept)).alias("clean_md5"),
        )
        .withColumn(
            "keep",
            (
                (F.col("n_kept") >= 3)
                & (F.col("flag_lorem") == 0)
                & (F.col("flag_brace") == 0)
            ).cast("int"),
        )
        .orderBy("doc_id")
    )


QUALITY_C4_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS t
  FROM documents),
chunked AS (
  SELECT doc_id,
    list_transform(
      range(0, CAST(ceil(len(t) / {_C4_L}.0) AS BIGINT)),
      i -> array_to_string(list_slice(t, i * {_C4_L} + 1, i * {_C4_L} + {_C4_L}), ' ')
           || (CASE WHEN (doc_id * 31 + i) % 5 = 0 THEN '' ELSE '.' END)) AS l0
  FROM base WHERE len(t) > 0),
seeded AS (
  SELECT doc_id,
    list_concat(
      list_concat(l0,
        CASE WHEN doc_id % 41 = 0
             THEN ['lorem ipsum dolor sit amet consectetur adipiscing.']
             ELSE [] END),
      CASE WHEN doc_id % 53 = 0
           THEN ['var config = {{ debug: true'] ELSE [] END) AS lines
  FROM chunked),
scored AS (
  SELECT doc_id,
    CAST(len(lines) AS INTEGER) AS n_lines,
    CAST(len(list_filter(lines,
      x -> right(x, 1) IN ('.', '!', '?')
           AND len(string_split(x, ' ')) >= 5)) AS INTEGER) AS n_kept,
    CAST(contains(array_to_string(lines, chr(10)), 'lorem ipsum')
         AS INTEGER) AS flag_lorem,
    CAST(contains(array_to_string(lines, chr(10)), '{{') AS INTEGER)
         AS flag_brace,
    -- COALESCE: DuckDB's array_to_string of an empty list is NULL,
    -- Spark's concat_ws is '' — pin the md5('') convention
    md5(COALESCE(array_to_string(list_filter(lines,
      x -> right(x, 1) IN ('.', '!', '?')
           AND len(string_split(x, ' ')) >= 5), chr(10)), '')) AS clean_md5
  FROM seeded)
SELECT doc_id, n_lines, n_kept, flag_lorem, flag_brace, clean_md5,
  CAST(CASE WHEN n_kept >= 3 AND flag_lorem = 0 AND flag_brace = 0
       THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM scored ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Exact repeated-substring dedup (Lee et al. 2022; C4 §2.2 third page rule)

_SUBSTR_K = 8  # tokens per span (Lee et al. use 50 BPE tokens; scaled to fixture)
_SUBSTR_BOILER = (
    "subscribe to our newsletter for updates terms of service apply"
)


def dedup_substring_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact repeated-substring detection: per-doc fraction of tokens
    covered by a token k-gram (k=8) that also appears in ANOTHER
    document — "Deduplicating Training Data Makes Language Models
    Better" (Lee et al. 2022) re-expressed relationally, and the C4
    paper's corpus-level span rule the per-page `quality_c4_filters`
    battery delegates here. Output per doc: span count, exact covered
    token count (union of overlapping spans via the islands trick:
    sum of least(k, next_start - start)), coverage fraction, and a
    keep flag (drop when >=20% of tokens sit in cross-doc spans).

    The fixture corpus's only repeats are whole near-dup docs, which
    would make keep one-sided — so, per the pii_scrub/C4 seeding
    precedent, every 13th doc gets a deterministic 10-token boilerplate
    footer both engines replay identically. Boilerplate stripping is
    exactly this operator's production job (nav bars, license headers),
    and it makes both keep outcomes and partial coverage real at
    sf0.01 (pinned in tests/test_curation_ops.py).

    Scale (100 TB): LINEAR, unlike the pairwise dedup family — no
    candidate pairs are ever materialized. Plan: explode to (doc, pos,
    48-bit gram hash) [map, materialized ONCE via lazy localCheckpoint
    since two consumers read it and the explode + per-gram md5 is the
    dominant cost — spill-backed, linear in corpus tokens], groupBy(gh)
    countDistinct(doc) with partial aggregation [shuffle 1],
    semi-shaped join back on gh [reuses shuffle 1's partitioning],
    per-doc window + groupBy(doc) [shuffle 2], left join to doc
    lengths [shuffle 3, AQE-broadcast when small]. A boilerplate gram repeated across millions of docs
    adds one row to `rep` and joins 1:1 per occurrence — fan-out is
    bounded by corpus token count, never quadratic. Hot-gram skew hits
    only the countDistinct groupBy, where map-side partial aggregation
    and AQE skew-split absorb it. Suffix arrays find variable-length
    repeats; fixed-k with union-of-overlaps is the standard
    shuffle-friendly approximation (long repeats appear as runs of
    overlapping k-grams and are counted exactly once)."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.trim(F.col("text")), F.lit(" " + _SUBSTR_BOILER)),
        )
        .otherwise(F.trim(F.col("text")))
        .alias("text"),
    )
    base = seeded.select(
        "doc_id", _tokens(F.col("text")).alias("t")
    ).select("doc_id", F.size("t").alias("nt"), "t")
    g = (
        base.where(F.col("nt") >= _SUBSTR_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, nt - {_SUBSTR_K} + 1),"
                    f" i -> struct(i as pos,"
                    f" concat_ws(' ', slice(t, i, {_SUBSTR_K})) as s))"
                )
            ).alias("g"),
        )
        .select(
            "doc_id",
            F.col("g.pos").alias("pos"),
            _h48(F.col("g.s")).alias("gh"),
        )
        # Two consumers read the gram table (the rep groupBy and the
        # join-back), and the explode + per-gram md5 dominates the op's
        # cost — materialize it once via the GC-cleaned lazy
        # localCheckpoint (the minhash-signature precedent). Same-session
        # 3-round A/B at sf1, bit-identical outputs: recompute 7.6-8.7 s,
        # materialize-once 5.0-5.2 s, window-min≠max variant 5.0-5.7 s
        # (rejected: a corpus-hot gram funnels one window partition,
        # while the groupBy keeps map-side partial-agg absorption).
        .localCheckpoint(eager=False)
    )
    rep = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gh")
    )
    dup = g.join(rep, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        dup.select(
            "doc_id",
            F.least(
                F.lit(_SUBSTR_K),
                F.coalesce(
                    F.lead("pos").over(w) - F.col("pos"), F.lit(_SUBSTR_K)
                ),
            ).alias("c"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum("c").cast("bigint").alias("dup_tokens"),
        )
    )
    return (
        base.select("doc_id", F.col("nt").alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_frac"),
            F.when(F.coalesce("dup_tokens", F.lit(0)) * 5 < F.col("n_tokens"), 1)
            .otherwise(0)
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


DEDUP_SUBSTR_SQL = f"""
WITH seeded AS (
  SELECT doc_id,
    CASE WHEN doc_id % 13 = 0 THEN trim(text) || ' {_SUBSTR_BOILER}'
         ELSE trim(text) END AS text
  FROM documents),
base AS (
  SELECT doc_id, len(t) AS nt, t
  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM seeded)),
gh AS (
  SELECT doc_id, pos,
    ('0x' || substr(md5(array_to_string(
        list_slice(t, pos, pos + {_SUBSTR_K} - 1), ' ')), 1, 12))::BIGINT AS gh
  FROM (SELECT doc_id, t, unnest(range(1, nt - {_SUBSTR_K} + 2)) AS pos
        FROM base WHERE nt >= {_SUBSTR_K})),
rep AS (SELECT gh FROM gh GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
dup AS (SELECT g.doc_id, g.pos FROM gh g JOIN rep USING (gh)),
cov0 AS (
  SELECT doc_id,
    LEAST({_SUBSTR_K},
          COALESCE(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
                   {_SUBSTR_K})) AS c
  FROM dup),
cov AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans,
         CAST(SUM(c) AS BIGINT) AS dup_tokens
  FROM cov0 GROUP BY doc_id)
SELECT b.doc_id, b.nt AS n_tokens,
  COALESCE(cov.n_dup_spans, 0) AS n_dup_spans,
  COALESCE(cov.dup_tokens, 0) AS dup_tokens,
  round(COALESCE(cov.dup_tokens, 0) / CAST(b.nt AS DOUBLE), 6) AS dup_frac,
  CAST(CASE WHEN COALESCE(cov.dup_tokens, 0) * 5 < b.nt
       THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM base b LEFT JOIN cov USING (doc_id) ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Containment dedup (asymmetric overlap: quotes / subset copies)

_QUOTE_LEN = 15  # tokens of quoted prefix seeded into every 17th doc


def _seeded_quote_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Documents with a deterministic quote injection both engines replay:
    every 17th doc appends the first 15 tokens of doc (id*7+3) mod N.
    Built scale-safe: the 1/17 seeded slice is FILTERED FIRST, then
    equi-joined to the prefix table on qid, then unioned with the
    untouched 16/17 — no null-keyed join rows (a left join keyed on a
    mostly-NULL qid would funnel 16/17 of the corpus into one hash
    partition), and the only cross join is the 1-row max(doc_id) scalar."""
    d = tables(spark, sf, "documents").documents
    nd = d.agg((F.max("doc_id") + F.lit(1)).alias("n_docs"))
    quotes = d.select(
        F.col("doc_id").alias("qid"),
        F.concat_ws(
            " ", F.slice(_tokens(F.col("text")), 1, _QUOTE_LEN)
        ).alias("q"),
    )
    with_q = (
        d.crossJoin(nd)
        .withColumn("qid", (F.col("doc_id") * 7 + 3) % F.col("n_docs"))
    )
    seeded = (
        with_q.where((F.col("doc_id") % 17 == 0) & (F.col("qid") != F.col("doc_id")))
        .join(quotes, "qid")
        .select(
            "doc_id",
            F.concat(F.trim("text"), F.lit(" "), F.col("q")).alias("text"),
        )
    )
    rest = with_q.where(
        ~((F.col("doc_id") % 17 == 0) & (F.col("qid") != F.col("doc_id")))
    ).select("doc_id", F.trim("text").alias("text"))
    return seeded.unionByName(rest)


def dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric near-dup: word-3-gram CONTAINMENT |A∩B| / min(|A|,|B|)
    at threshold 0.5 — catches a short doc quoted or wholly embedded in a
    long one, which symmetric Jaccard misses (a 10-shingle doc inside a
    100-shingle doc has J≈0.1 but containment 1.0). The production
    "quote/subset detection" pass of a dedup pipeline (Broder's
    containment measure).

    The raw fixture's only repeats are symmetric near-dups, so — the
    seeding precedent — every 17th doc gets a deterministic 15-token
    quote from another doc via `_seeded_quote_docs`, making the
    asymmetric band (containment >= 0.5, jaccard < 0.4) real at sf0.01
    (pinned in tests/test_curation_ops.py).

    Scale (100 TB): candidate pairs from the shingle-bucketed self-join
    under the hot-shingle df-cap (never all-pairs); denominators from
    PRE-CAP set sizes (the sf1 cap-vs-denominator lesson,
    dedup_ngram_jaccard). The quote seeding adds one bounded equi-join
    over 1/17 of the corpus. Same shuffle budget as the Jaccard op."""
    docs = _seeded_quote_docs(spark, sf)
    arr = _tokens(F.col("text"))
    base = _spread_for_explode(spark, docs).where(F.size(arr) >= 3)
    ex = base.select("doc_id", F.explode(_shingles(arr)).alias("s"))
    hot = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > _MAX_SHINGLE_DF)
    )
    ex = ex.join(hot, "s", "left_anti")
    sizes = docs.where(F.size(arr) >= 3).select(
        "doc_id", F.size(_shingles(arr)).alias("n")
    )
    a = ex.select(F.col("doc_id").alias("da"), "s")
    b = ex.select(F.col("doc_id").alias("db"), "s")
    shared = (
        a.join(b, "s")
        .where(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    return (
        shared.join(sa, "da")
        .join(sb, "db")
        .where(F.col("inter") * 2 >= F.least("na", "nb"))
        .select(
            "da",
            "db",
            "inter",
            "na",
            "nb",
            F.round(
                F.col("inter") / F.least("na", "nb").cast("double"), 6
            ).alias("containment"),
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
            F.when(F.col("na") <= F.col("nb"), F.col("da"))
            .otherwise(F.col("db"))
            .alias("contained_id"),
        )
        .orderBy("da", "db")
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH nd AS (SELECT MAX(doc_id) + 1 AS n_docs FROM documents),
quotes AS (
  SELECT doc_id AS qid,
    array_to_string(list_slice(
      string_split(lower(trim(text)), ' '), 1, {_QUOTE_LEN}), ' ') AS q
  FROM documents),
seeded AS (
  SELECT d.doc_id, trim(d.text) || ' ' || q.q AS text
  FROM documents d, nd
  JOIN quotes q ON q.qid = (d.doc_id * 7 + 3) % nd.n_docs
  WHERE d.doc_id % 17 = 0 AND q.qid <> d.doc_id
  UNION ALL
  SELECT doc_id, trim(text) FROM documents d, nd
  WHERE NOT (doc_id % 17 = 0 AND (doc_id * 7 + 3) % nd.n_docs <> doc_id)),
toks AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr FROM seeded),
sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(arr)-1),
      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingles
  FROM toks WHERE len(arr) >= 3),
ex_all AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
ex AS (
  SELECT doc_id, s FROM ex_all
  WHERE s IN (SELECT s FROM ex_all GROUP BY s
              HAVING COUNT(*) <= {_MAX_SHINGLE_DF})),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT da, db, inter, sa.n AS na, sb.n AS nb,
  round(inter / LEAST(sa.n, sb.n)::DOUBLE, 6) AS containment,
  round(inter / (sa.n + sb.n - inter)::DOUBLE, 6) AS jaccard,
  CASE WHEN sa.n <= sb.n THEN da ELSE db END AS contained_id
FROM pairs
JOIN sizes sa ON da = sa.doc_id
JOIN sizes sb ON db = sb.doc_id
WHERE inter * 2 >= LEAST(sa.n, sb.n)
ORDER BY da, db
"""


# ---------------------------------------------------------------------------
# Cluster representative selection: keep the best doc per dup cluster


def dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Representative selection: within each near-dup cluster (the
    dedup_clusters label-propagation fixpoint), KEEP the member with the
    highest composite quality score (tie: lowest doc_id) and drop the
    rest — the step that turns dedup output into a curated corpus.
    Keeping min-doc_id (what dedup_exact does for byte-identical dups)
    is wrong for NEAR-dups: the cluster often mixes a clean original
    with truncated/mangled variants, and quality should pick, not
    arrival order. Output per cluster: root, size, kept doc + its
    quality, dropped count.

    Scale (100 TB): the label fixpoint is dedup_clusters' (state = one
    row per graph doc, one doc_id-keyed shuffle per round); the quality
    join touches only graph docs (an equi-join the optimizer can
    broadcast when the dup graph is small); the per-cluster argmax is
    one window over lab — clusters are tiny by construction so no
    partition skew. Quality values are the SAME rounded-6dp doubles the
    quality_score gate hash-matches, so the cross-engine ranking is
    deterministic."""
    labels = _dedup_labels(spark, sf)
    d = tables(spark, sf, "documents").documents
    q = d.select(F.col("doc_id").alias("doc"), _quality_expr().alias("quality"))
    lq = labels.join(q, "doc")
    w = Window.partitionBy("lab").orderBy(F.desc("quality"), F.asc("doc"))
    best = (
        lq.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("lab").alias("cluster_root"),
            F.col("doc").alias("keep_id"),
            F.col("quality").alias("keep_quality"),
        )
    )
    sizes = labels.groupBy(F.col("lab").alias("cluster_root")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        sizes.join(best, "cluster_root")
        .select(
            "cluster_root",
            "n_members",
            "keep_id",
            "keep_quality",
            (F.col("n_members") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_root")
    )


DEDUP_KEEP_BEST_SQL = f"""
WITH {_SHINGLE_CTE_SQL},
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
edges AS MATERIALIZED (
  SELECT da, db FROM pairs
  JOIN sizes sa ON da = sa.doc_id
  JOIN sizes sb ON db = sb.doc_id
  WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5),
sym AS MATERIALIZED (
  -- MATERIALIZED (round 12): DuckDB re-evaluates non-materialized CTEs
  -- inside a recursive term on EVERY iteration — here that re-ran the
  -- whole shingle explode + pair self-join per BFS step (the 28-minute
  -- sf1 gate row); pinning the edge list makes each step a join against
  -- a materialized table. Results identical, evaluation strategy only.
  SELECT da AS src, db AS dst FROM edges
  UNION ALL
  SELECT db AS src, da AS dst FROM edges),
nodes AS (SELECT DISTINCT src AS doc FROM sym),
reach AS (
  WITH RECURSIVE r(doc, lab) AS (
    SELECT doc, doc FROM nodes
    UNION
    SELECT e.dst, r.lab FROM r JOIN sym e ON e.src = r.doc)
  SELECT doc, MIN(lab) AS lab FROM r GROUP BY doc),
q AS (SELECT doc_id AS doc, {_QUALITY_EXPR_SQL} AS quality FROM documents),
ranked AS (
  SELECT lab, doc, quality,
    row_number() OVER (
      PARTITION BY lab ORDER BY quality DESC, doc) AS rk
  FROM reach JOIN q USING (doc)),
sizes_c AS (SELECT lab, COUNT(*) AS n_members FROM reach GROUP BY lab)
SELECT s.lab AS cluster_root, s.n_members,
  r.doc AS keep_id, r.quality AS keep_quality,
  s.n_members - 1 AS n_dropped
FROM sizes_c s JOIN ranked r ON r.lab = s.lab AND r.rk = 1
ORDER BY cluster_root
"""


# ---------------------------------------------------------------------------
# Corpus n-gram mining (boilerplate / contamination analysis)

_NGRAM_TOPK = 5


def text_ngram_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level n-gram frequency mining: for n in {1,2,3}, the top-5
    grams by total occurrence count (tie: lexicographic) with their
    document frequency — the table a curation run consults to spot
    boilerplate candidates for dedup_substring_exact and benchmark
    contamination shingles for train_contamination_ngram.

    Scale (100 TB): one explode + ONE partial-aggregated groupBy(n, gram)
    per n; each per-n top-5 is `orderBy().limit()` =
    TakeOrderedAndProject (per-partition heaps, k-row merge) — NOT a
    window partitioned by n, which would funnel the entire gram
    vocabulary of each n onto one task. The 15-row union then ranks
    with a trivially-bounded window."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    arr = _tokens(F.col("text"))
    base = d.select("doc_id", F.filter(arr, lambda x: x != "").alias("t"))
    parts = []
    for n in (1, 2, 3):
        if n == 1:
            grams = F.col("t")
        else:
            ln = F.size("t") - (n - 1)
            shifted = [F.slice("t", F.lit(i + 1), ln) for i in range(n)]
            g = shifted[-1]
            for s in reversed(shifted[:-1]):
                g = F.zip_with(s, g, lambda x, y: F.concat_ws(" ", x, y))
            grams = g
        ex = (
            base.where(F.size("t") >= n)
            .select("doc_id", F.explode(grams).alias("g"))
        )
        agg = ex.groupBy("g").agg(
            F.count(F.lit(1)).alias("total"),
            F.countDistinct("doc_id").alias("docs"),
        )
        parts.append(
            agg.orderBy(F.desc("total"), F.asc("g"))
            .limit(_NGRAM_TOPK)
            .select(F.lit(n).alias("n"), "g", "total", "docs")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    w = Window.partitionBy("n").orderBy(F.desc("total"), F.asc("g"))
    return (
        out.withColumn("rk", F.row_number().over(w))
        .select("n", F.col("g").alias("gram"), "total", "docs", "rk")
        .orderBy("n", "rk")
    )


TEXT_NGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT 1 AS n, doc_id, unnest(t) AS g FROM toks
  UNION ALL
  SELECT 2, doc_id,
    array_to_string(list_slice(t, pos, pos + 1), ' ')
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS pos
        FROM toks WHERE len(t) >= 2)
  UNION ALL
  SELECT 3, doc_id,
    array_to_string(list_slice(t, pos, pos + 2), ' ')
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS pos
        FROM toks WHERE len(t) >= 3)),
agg AS (
  SELECT n, g, COUNT(*) AS total, COUNT(DISTINCT doc_id) AS docs
  FROM grams GROUP BY 1, 2),
ranked AS (
  SELECT n, g AS gram, total, docs,
    row_number() OVER (PARTITION BY n ORDER BY total DESC, g) AS rk
  FROM agg)
SELECT n, gram, total, docs, rk FROM ranked
WHERE rk <= {_NGRAM_TOPK} ORDER BY n, rk
"""


# ---------------------------------------------------------------------------
# PMI collocation mining — multi-word-expression discovery for tokenizers

_PMI_MIN_COUNT = 5  # minimum bigram support (standard PMI noise floor)
_PMI_TOPK = 25


def text_collocation_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Pointwise-mutual-information collocations (Church & Hanks 1990):
    the top adjacent word pairs whose co-occurrence beats the
    independence assumption — the table a tokenizer-training run mines
    to seed multi-word merge candidates (complements train_bpe_merges,
    which learns character merges) and curation uses to spot templated
    phrases.

    pmi(a,b) = ln( P(a,b) / (P(a) P(b)) ) with P(a,b) over the bigram
    total and P(·) over the unigram total — all counts exact integers,
    so the single ln per OUTPUT row is the only float op; the ranking
    key is integer micro-nats (round(ln*1e6)), making the top-k cut
    bit-reproducible across engines (same discipline as
    quality_unigram_logprob). Support floor of 5 kills hapax noise.

    Scale (100 TB): bigram extraction is MAP-ONLY (zip of two shifted
    token-array slices — no self-join on position); then exactly two
    partial-aggregated groupBys (bigrams, unigrams), two broadcast
    1-row totals, a bigram->unigram join that is shuffle-on-token with
    AQE skew split for the Zipf head, and a TakeOrderedAndProject
    top-k. No global sort of the full pair table, no Python."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    toks = d.select(
        "doc_id",
        F.filter(_tokens(F.col("text")), lambda x: x != "").alias("t"),
    )
    n = F.size(F.col("t")) - 1
    pairs = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", F.lit(1), n).alias("a"),
                    F.slice("t", F.lit(2), n).alias("b"),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    big = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    uni = (
        d.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nb = big.agg(F.sum("cab").alias("n_big"))
    nu = uni.agg(F.sum("c").alias("n_uni"))
    scored = (
        big.where(F.col("cab") >= _PMI_MIN_COUNT)
        .join(uni.withColumnRenamed("tok", "a").withColumnRenamed("c", "ca"), "a")
        .join(uni.withColumnRenamed("tok", "b").withColumnRenamed("c", "cb"), "b")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .select(
            "a",
            "b",
            "cab",
            # Numerator/denominator are computed in DOUBLE from the
            # first multiply (cab * n_uni^2 and n_big * ca * cb both
            # blow past int64 once the corpus exceeds ~3e9 tokens —
            # Spark with ANSI off would wrap silently while the DuckDB
            # oracle raises). Left-assoc double products are mirrored
            # term-for-term in the oracle so IEEE rounding matches;
            # the micro-nat round absorbs any residual ulp.
            F.round(
                F.log(
                    (
                        F.col("cab").cast("double")
                        * F.col("n_uni").cast("double")
                        * F.col("n_uni").cast("double")
                    )
                    / (
                        F.col("n_big").cast("double")
                        * F.col("ca").cast("double")
                        * F.col("cb").cast("double")
                    )
                )
                * 1_000_000
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi_micro"), F.asc("a"), F.asc("b"))
        .limit(_PMI_TOPK)
        .select(
            "a",
            "b",
            "cab",
            F.round(F.col("pmi_micro") / 1_000_000, 6).alias("pmi"),
        )
    )


TEXT_PMI_SQL = f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS t
  FROM documents),
pairs AS (
  SELECT t[pos] AS a, t[pos + 1] AS b
  FROM (SELECT t, unnest(range(1, len(t))) AS pos
        FROM toks WHERE len(t) >= 2)),
big AS (SELECT a, b, COUNT(*) AS cab FROM pairs GROUP BY 1, 2),
uni AS (
  SELECT tok, COUNT(*) AS c FROM (
    SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
nb AS (SELECT SUM(cab) AS n_big FROM big),
nu AS (SELECT SUM(c) AS n_uni FROM uni),
scored AS (
  SELECT big.a, big.b, cab,
    CAST(ROUND(ln((CAST(cab AS DOUBLE) * CAST(n_uni AS DOUBLE)
                   * CAST(n_uni AS DOUBLE))
                  / (CAST(n_big AS DOUBLE) * CAST(ua.c AS DOUBLE)
                     * CAST(ub.c AS DOUBLE))) * 1000000) AS BIGINT) AS pmi_micro
  FROM big
  JOIN uni ua ON ua.tok = big.a
  JOIN uni ub ON ub.tok = big.b
  CROSS JOIN nb CROSS JOIN nu
  WHERE cab >= {_PMI_MIN_COUNT})
SELECT a, b, cab, ROUND(pmi_micro / 1000000.0, 6) AS pmi
FROM scored
ORDER BY pmi_micro DESC, a, b
LIMIT {_PMI_TOPK}
"""


# ---------------------------------------------------------------------------
# Interpolated bigram LM scoring — the degree-2 perplexity quality filter

_LM_LAMBDA = 0.7  # bigram weight; 1-lambda backs off to the unigram


def quality_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram LM quality scoring with unigram interpolation — the
    degree-2 upgrade of quality_unigram_logprob (CCNet's perplexity
    filter uses a 5-gram KenLM; degree 2 captures the word-order signal
    the unigram filter cannot, e.g. shuffled-word gibberish scores LOW
    here but identically to clean text under the unigram model).

    Per adjacent pair (a,b): p = L*P(b|a) + (1-L)*P(b), with
    P(b|a) = c(a,b)/c(a), P(b) = c(b)/N — all counts exact corpus
    integers, so p is one deterministic IEEE expression; each pair's
    -ln(p) is quantized to integer micro-nats BEFORE the per-doc sum
    (the quality_unigram_logprob discipline: order-independent exact
    integer aggregation, one divide at the end). Docs need >= 2 tokens.

    Scale (100 TB): bigram extraction is the same MAP-ONLY shifted-slice
    zip as text_collocation_pmi; two partial-aggregated count tables;
    scoring joins are shuffle-on-token(-pair) with AQE skew split for
    the Zipf head; the grand total is a 1-row broadcast. No Python."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    toks = d.select(
        "doc_id",
        F.filter(_tokens(F.col("text")), lambda x: x != "").alias("t"),
    )
    n = F.size(F.col("t")) - 1
    pairs = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", F.lit(1), n).alias("a"),
                    F.slice("t", F.lit(2), n).alias("b"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    big = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    uni = (
        d.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nu = uni.agg(F.sum("c").alias("n_uni"))
    p = (
        F.lit(_LM_LAMBDA) * F.col("cab") / F.col("ca")
        + F.lit(1.0 - _LM_LAMBDA) * F.col("cb") / F.col("n_uni")
    )
    micro = (
        pairs.join(big, ["a", "b"])
        .join(uni.withColumnRenamed("tok", "a").withColumnRenamed("c", "ca"), "a")
        .join(uni.withColumnRenamed("tok", "b").withColumnRenamed("c", "cb"), "b")
        .crossJoin(F.broadcast(nu))
        .select(
            "doc_id",
            F.round(-F.log(p) * 1_000_000).cast("bigint").alias("m"),
        )
    )
    return (
        micro.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("m").alias("sm"))
        .select(
            "doc_id",
            "n_pairs",
            F.round(F.col("sm") / F.col("n_pairs") / 1_000_000, 6).alias(
                "avg_nll"
            ),
        )
        .orderBy("doc_id")
    )


QUALITY_BIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS t
  FROM documents),
pairs AS (
  SELECT doc_id, t[pos] AS a, t[pos + 1] AS b
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS pos
        FROM toks WHERE len(t) >= 2)),
big AS (SELECT a, b, COUNT(*) AS cab FROM pairs GROUP BY 1, 2),
uni AS (
  SELECT tok, COUNT(*) AS c FROM (
    SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
nu AS (SELECT SUM(c) AS n_uni FROM uni),
micro AS (
  SELECT p.doc_id,
    CAST(ROUND(-ln({_LM_LAMBDA} * cab / ua.c
                   + {1.0 - _LM_LAMBDA} * ub.c / n_uni) * 1000000)
         AS BIGINT) AS m
  FROM pairs p
  JOIN big USING (a, b)
  JOIN uni ua ON ua.tok = p.a
  JOIN uni ub ON ub.tok = p.b
  CROSS JOIN nu)
SELECT doc_id, COUNT(*) AS n_pairs,
  ROUND(SUM(m) / COUNT(*) / 1000000.0, 6) AS avg_nll
FROM micro GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# hashed linear quality classifier — the fastText-family filter shape

_FT_BUCKETS = 1 << 20  # feature-hash space (fastText -bucket)
_FT_WSPAN = 1000001  # weights are exact ints in [-500000, 500000]


def quality_fasttext_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Hashed linear quality classifier at inference time — the
    fastText/DCLM filter family (Joulin et al. 2016: bag of words +
    word-bigrams, feature hashing into a fixed bucket space, linear
    model, sign of the margin decides): every production "model-based
    quality filter" that is not an LLM is this shape. Weights are
    derived deterministically from md5 of the bucket id (exact integers
    in micro-units), standing in for trained parameters so BOTH engines
    can evaluate the identical model with zero float hazard: the keep
    decision is the SIGN of an exact integer margin sum, never a
    sigmoid. Output: per-doc feature count, integer margin, keep flag.

    Scale (100 TB): tokenize + bigram + hash + weight-lookup are ONE
    map-only codegen pass (no model broadcast at all — the "weight
    table" is a hash expression, the hashing trick taken to its
    logical end); the per-doc margin is a single partial-aggregated
    groupBy(doc_id). Linear, one shuffle, no skew beyond document
    length. Reference analogue: projection + hash-repartitioned
    aggregate (ballista ProjectionExec + AggregateExec)."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    t = d.select("doc_id", _tokens(F.col("text")).alias("t"))
    n = F.size("t") - 1
    feats = t.select(
        "doc_id",
        F.concat(
            F.col("t"),
            F.zip_with(
                F.slice("t", F.lit(1), n),
                F.slice("t", F.lit(2), n),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).alias("f"),
    )
    ex = feats.select("doc_id", F.explode("f").alias("f"))
    bucket = _h48(F.col("f")) % _FT_BUCKETS
    weight = (
        _h48(F.concat(F.lit("ftw:"), bucket.cast("string"))) % _FT_WSPAN
        - (_FT_WSPAN - 1) // 2
    )
    return (
        ex.select("doc_id", weight.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("w").alias("margin_micro"),
        )
        .select(
            "doc_id",
            "n_feats",
            "margin_micro",
            (F.col("margin_micro") > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


QUALITY_FASTTEXT_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
feats AS (
  SELECT doc_id,
    list_concat(
      t,
      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
    ) AS f
  FROM toks),
ex AS (SELECT doc_id, unnest(f) AS f FROM feats),
wtd AS (
  SELECT doc_id,
    ('0x' || substr(md5('ftw:' ||
        CAST(('0x' || substr(md5(f), 1, 12))::BIGINT % {_FT_BUCKETS}
             AS VARCHAR)), 1, 12))::BIGINT % {_FT_WSPAN}
      - {(_FT_WSPAN - 1) // 2} AS w
  FROM ex)
SELECT doc_id, COUNT(*) AS n_feats,
  CAST(SUM(w) AS BIGINT) AS margin_micro,
  CAST(SUM(w) AS BIGINT) > 0 AS keep
FROM wtd GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# content-defined chunking — insertion-robust chunk-level exact dedup

_CDC_MOD = 8  # boundary probability 1/8 -> ~8-token average chunks
_CDC_TOPK = 20


def dedup_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking (the FastCDC/LBFS rolling-boundary idea
    re-expressed over the token stream): a token starts a new chunk when
    its 48-bit md5 hash is 0 mod 8, so chunk boundaries are decided by
    CONTENT, not offsets — inserting or deleting a sentence shifts every
    byte offset but leaves all other chunk identities intact, which is
    what fixed-width shingling cannot do. Duplicated chunks (same md5 of
    the chunk text in >= 2 docs) are the shared boilerplate / quoted
    passages; output is the top-20 by breadth with exact tie-break.

    Scale (100 TB): one linear explode, one PER-DOC cumulative-sum
    window (partition key = doc_id, so state is bounded by document
    length, never corpus size), and two partial-aggregated groupBys
    (chunk rebuild, signature stats) + TakeOrderedAndProject for the
    top-k. No pair space anywhere — duplication is discovered by the
    signature groupBy exactly like dedup_exact, but at sub-document
    granularity. Reference analogue: hash-repartitioned aggregate
    (ballista RepartitionExec + AggregateExec)."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    toks = d.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "w")
    )
    flags = toks.withColumn(
        "b", (_h48(F.col("w")) % _CDC_MOD == 0).cast("int")
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    chunks = flags.withColumn("cid", F.sum("b").over(win))
    texts = (
        chunks.groupBy("doc_id", "cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "w"))).alias("ps"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.expr("transform(ps, x -> x.w)")).alias("chunk"),
            F.size("ps").alias("tok_len"),
        )
    )
    return (
        texts.groupBy(F.md5("chunk").alias("chunk_sig"))
        .agg(
            F.max("tok_len").cast("int").alias("tok_len"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), F.asc("chunk_sig"))
        .limit(_CDC_TOPK)
    )


DEDUP_CDC_SQL = f"""
WITH toks AS (
  SELECT doc_id,
    generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos,
    unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents),
flags AS (
  SELECT doc_id, pos, w,
    CASE WHEN ('0x' || substr(md5(w), 1, 12))::BIGINT % {_CDC_MOD} = 0
         THEN 1 ELSE 0 END AS b
  FROM toks),
chunks AS (
  SELECT doc_id, pos, w,
    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS cid
  FROM flags),
texts AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS chunk,
    COUNT(*) AS tok_len
  FROM chunks GROUP BY doc_id, cid)
SELECT md5(chunk) AS chunk_sig,
  CAST(MAX(tok_len) AS INT) AS tok_len,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_occ
FROM texts GROUP BY 1
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occ DESC, chunk_sig
LIMIT {_CDC_TOPK}
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
# algorithm): positional local-minimum selection, NOT the bottom-k sketch
# doc_fingerprint already provides.

_WINNOW_W = 4  # window of consecutive k-gram hashes per selection
_WINNOW_MAX_DF = 100  # fingerprint doc-frequency cap (hot-shingle rule)
_WINNOW_MIN_SHARED = 3  # pairs must share this many fingerprints
_WINNOW_TOPK = 100


def text_winnow_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, MOSS):
    hash every POSITIONAL token 3-gram, slide a window of w=4
    consecutive hashes, and in each window select the minimum hash
    (rightmost position on ties — the paper's rule); the distinct
    selected hashes are the doc's fingerprint set, and docs sharing >= 3
    fingerprints are reported. Winnowing's guarantee — any shared run
    of w+k-1 tokens yields at least one SHARED fingerprint — is what
    makes it the standard plagiarism/overlap detector; it complements
    doc_fingerprint (a global bottom-k sketch with no positional
    guarantee) and dedup_minhash_lsh (whole-doc resemblance).

    Scale (100 TB): gram hashing is map-only; window assignment
    explodes each gram into <= w window ids (constant factor, no pair
    space); selection is one (doc_id, window) shuffle; the pair join is
    fingerprint-bucketed with the same doc-frequency cap discipline as
    every dedup family member (a boilerplate fingerprint shared by
    thousands of docs would otherwise create a quadratic bucket).
    Short docs (< w grams) winnow a single window so the pairing stays
    total down to 3 tokens."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    toks = d.select("doc_id", _tokens(F.col("text")).alias("arr")).where(
        F.size("arr") >= 3
    )
    n = F.size(F.col("arr")) - 2
    grams = toks.select(
        "doc_id",
        n.alias("m"),
        F.posexplode(
            F.zip_with(
                F.slice("arr", F.lit(1), n),
                F.zip_with(
                    F.slice("arr", F.lit(2), n),
                    F.slice("arr", F.lit(3), n),
                    lambda x, y: F.concat_ws(" ", x, y),
                ),
                lambda x, yz: F.concat_ws(" ", x, yz),
            )
        ).alias("p0", "g"),
    ).select(
        "doc_id",
        "m",
        (F.col("p0") + 1).alias("pos"),  # 1-based gram position
        _h48(F.col("g")).alias("h"),
    )
    # each gram participates in windows max(1, pos-w+1) .. min(pos, m-w+1),
    # clamped to window 1 when the doc has fewer than w grams
    wrows = grams.select(
        "doc_id",
        "pos",
        "h",
        F.explode(
            F.sequence(
                F.greatest(F.lit(1), F.col("pos") - (_WINNOW_W - 1)),
                F.least(
                    F.col("pos"),
                    F.greatest(F.col("m") - (_WINNOW_W - 1), F.lit(1)),
                ),
            )
        ).alias("w"),
    )
    # Per-window selection as a MIN aggregation, not a row_number window
    # (round 14, guide §2.3). The paper's rightmost-on-ties rule picks
    # WHICH ROW wins among rows with EQUAL h, but this operator keeps
    # only (doc_id, h) — so the selected hash is exactly min(h) per
    # window, bit-identical to the rn=1 row's h. A doc's window rows all
    # sit in one map partition (they explode from one gram row), so the
    # partial HashAggregate collapses the ~w-per-gram window fan-out to
    # one row per window BEFORE the shuffle, and the per-partition sort
    # the window operator needed disappears (plan: Window+2xSort ->
    # partial/final HashAggregate; see plans/r14/text_winnow_sel_*).
    sel = (
        wrows.groupBy("doc_id", "w")
        .agg(F.min("h").alias("h"))
        .select("doc_id", "h")
        .distinct()
    )
    # materialize the fingerprint table ONCE: it feeds the df-cap and
    # both sides of the pair self-join — with lineage the gram+window
    # pipeline re-executes on the cold path (same-session A/B at sf1:
    # cold 36.4 -> 27.6 s; warm draws converge, the pair-space groupBy
    # dominating either way)
    sel = sel.localCheckpoint(eager=False)
    ok = (
        sel.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") <= _WINNOW_MAX_DF)
        .select("h")
    )
    # Pin the pair-stage parallelism (round-11 perf fix, the measured
    # 2.17x-vs-DuckDB gap at sf1): the fingerprint table is small
    # (~15 MB at sf1), so AQE's advisory size coalesces its shuffle to
    # ~2 partitions — but the SELF-JOIN below then emits ~24M pair rows
    # from those 2 partitions, leaving the pair groupBy's partial
    # aggregate on 2 cores (and GC-bound at default heap). Repartition
    # by h to the session's shuffle parallelism before checkpointing:
    # the join stays co-partitioned (no extra shuffle at join time) and
    # the pair stage fans out. Same-session A/B at sf1: pair phase
    # 31.4 -> 13.2 s (1g heap) / 3.1 s (8g heap), output identical.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fps = (
        sel.join(ok, "h").repartition(n_part, "h").localCheckpoint(eager=False)
    )
    pairs = (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= _WINNOW_MIN_SHARED)
    )
    return pairs.orderBy(
        F.desc("shared"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(_WINNOW_TOPK)


TEXT_WINNOW_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr FROM documents
  WHERE len(string_split(lower(trim(text)), ' ')) >= 3),
g AS (
  SELECT doc_id, len(arr) - 2 AS m, i AS pos,
    ('0x' || substr(md5(arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]),
     1, 12))::BIGINT AS h
  FROM (SELECT doc_id, arr, unnest(range(1, len(arr) - 1)) AS i FROM toks)),
wr AS (
  SELECT doc_id, pos, h,
    unnest(range(GREATEST(1, pos - {_WINNOW_W - 1}),
                 LEAST(pos, GREATEST(m - {_WINNOW_W - 1}, 1)) + 1)) AS w
  FROM g),
sel AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id, w, h,
      row_number() OVER (PARTITION BY doc_id, w ORDER BY h, pos DESC) AS rn
    FROM wr) WHERE rn = 1),
ok AS (SELECT h FROM sel GROUP BY h HAVING COUNT(*) <= {_WINNOW_MAX_DF}),
fps AS (SELECT s.doc_id, s.h FROM sel s JOIN ok USING (h)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared
FROM pairs WHERE shared >= {_WINNOW_MIN_SHARED}
ORDER BY shared DESC, doc_a, doc_b
LIMIT {_WINNOW_TOPK}
"""


# ---------------------------------------------------------------------------
# Block type-token ratio — the lexical-diversity quality filter

_TTR_BLOCK = 20  # tokens per complete block
_TTR_BOTTOMK = 200  # most-templated docs reported


def quality_lexical_ttr(spark: SparkSession, sf: str) -> DataFrame:
    """Block type-token ratio: cut each doc into complete blocks of 20
    tokens, score each block distinct/total, and report the docs with
    the LOWEST mean block TTR — the windowed lexical-diversity filter
    curation stacks run beside the Gopher repetition rules (plain
    whole-doc TTR degenerates with length, which is why MTLD/MATTR-
    style windowing exists; fixed blocks are its relationally-exact
    form). All arithmetic is exact integer ppm: per block
    distinct*1e6 DIV 20, per doc SUM DIV n_blocks.

    Scale (100 TB): one explode + one (doc_id, block) partial-agg
    shuffle + one doc_id rollup; TakeOrderedAndProject bottom-k. No
    window functions, no Python."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    toks = d.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("p", "tok")
    )
    blocks = (
        toks.withColumn("blk", F.expr(f"p DIV {_TTR_BLOCK}"))
        .groupBy("doc_id", "blk")
        .agg(
            F.countDistinct("tok").alias("d"),
            F.count(F.lit(1)).alias("c"),
        )
        .where(F.col("c") == _TTR_BLOCK)  # complete blocks only
    )
    return (
        blocks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.expr(
                f"CAST(SUM(d * 1000000 DIV {_TTR_BLOCK}) DIV COUNT(*)"
                " AS BIGINT)"
            ).alias("ttr_ppm"),
        )
        .orderBy(F.asc("ttr_ppm"), F.asc("doc_id"))
        .limit(_TTR_BOTTOMK)
    )


QUALITY_TTR_SQL = f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(arr, 1) - 1 AS p, unnest(arr) AS tok
  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr
        FROM documents)),
blocks AS (
  SELECT doc_id, p // {_TTR_BLOCK} AS blk,
    COUNT(DISTINCT tok) AS d, COUNT(*) AS c
  FROM toks GROUP BY 1, 2
  HAVING COUNT(*) = {_TTR_BLOCK})
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
  CAST(SUM(d * 1000000 // {_TTR_BLOCK}) // COUNT(*) AS BIGINT) AS ttr_ppm
FROM blocks GROUP BY 1
ORDER BY ttr_ppm, doc_id
LIMIT {_TTR_BOTTOMK}
"""


# ---------------------------------------------------------------------------
# Prefix-filtered exact similarity join (Chaudhuri et al. 2006 "SSJoin";
# Bayardo et al. 2007; Xiao et al. 2008 PPJoin)

_PPJ_NUM, _PPJ_DEN = 4, 5  # Jaccard threshold J = 4/5 as an exact rational
_PPJ_TOPK = 100


def dedup_prefix_filter_join(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Jaccard similarity join via PREFIX FILTERING with the full
    PPJoin filter set (Chaudhuri et al. 2006 SSJoin; Bayardo et al.
    2007; Xiao et al. 2008): order every doc's shingle set by global
    rarity (document frequency asc, shingle asc), keep only each doc's
    first s - ceil(J*s) + 1 shingles as its prefix, and generate
    candidate pairs ONLY from shared prefix shingles — correctness is
    the prefix-filter lemma (two sets with Jaccard >= J must share at
    least one prefix element under any common total order). Candidates
    additionally pass the LENGTH filter (J*sa <= sb <= sa/J — a pair
    outside it cannot reach J) and PPJoin's POSITIONAL filter
    (min remaining suffix + 1 >= o_min = ceil(J*(sa+sb)/(1+J)) at the
    matching prefix position — the overlap still reachable must meet
    the required overlap). Survivors are verified with the EXACT
    integer Jaccard (inter*1e6 DIV union >= 8e5). Complements
    dedup_minhash_lsh (probabilistic, trades recall) and
    dedup_ngram_jaccard (df-capped buckets, trades completeness on hot
    shingles): this one has no cap and no recall loss — every filter is
    a proven non-match pruner, property-pinned against brute-force
    all-pairs. Shingles are folded to the shared 48-bit md5 int
    (``_h48``, bit-identical in DuckDB) right after the explode
    (round 12): 8-byte keys instead of ~30-byte strings through the
    df/prefix/candidate shuffles, and the prefix ORDER (df asc, hash
    asc) is still a common total order so the lemma holds unchanged; a
    48-bit collision (odds ~n²/2⁴⁹) would inflate one intersection in
    both engines identically — the minhash/contamination precedent.

    Scale (100 TB): df table is one partial-agg shuffle over distinct
    (doc, shingle); per-doc prefix selection is one row_number window
    keyed by doc_id (bounded partitions); the candidate join is
    bucketed by RARE shingles only, and the length+positional filters
    run INSIDE the join before the distinct (measured at sf1: 41M ->
    1.5M candidates, 27x — the filters are what makes the exact join
    survive a corpus whose synthetic vocabulary is too small for
    rarity alone). Verification (round 12) joins each candidate pair
    to the two docs' SORTED HASH ARRAYS and counts
    size(array_intersect) in codegen — per-doc state bounded by doc
    length, pair rows stay 1:1 — instead of re-exploding both sets
    through a (doc, shingle)-keyed join whose intermediate was
    ~800M rows at sf1 (pairs x avg set size; profiled at 19.6 s of the
    24.8 s total). Fold + array verification A/B at sf1 under noop
    write: 18.4-22.1 -> 9.8-10.1 s, top-k output identical. No
    quadratic pair space."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    toks = d.select("doc_id", _tokens(F.col("text")).alias("arr")).where(
        F.size("arr") >= 3
    )
    sets = (
        toks.select("doc_id", F.explode(_shingles(F.col("arr"))).alias("s0"))
        .select("doc_id", _h48(F.col("s0")).alias("s"))
        .localCheckpoint(eager=False)
    )  # reused: df, prefix, verify arrays
    sizes = sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = sets.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # sz stays a separate partial-aggregated groupBy + broadcast join ON
    # PURPOSE (round-13 A/B at sf1): folding it into the window pass as
    # count(*) over (partition by doc_id) removes 2 exchanges at plan
    # level, but the unbounded-frame count turns the streaming
    # row_number window into a buffer-the-partition pass and measured
    # 14.5 -> 27.1 s at sf1 (noop write, median of 3) — the map-side
    # partial aggregation is what absorbs long docs. Runtime
    # ReusedExchange collapses the self-join's duplicated subtrees
    # either way (verified in the executed final plan).
    ranked = (
        sets.join(dfreq, "s")
        .withColumn(
            "idx",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("s"))
            ),
        )
        .join(sizes, "doc_id")
    )
    # prefix length p = s - ceil(J*s) + 1, ceil as exact integer rational
    # NOT checkpointed: the candidate self-join's two sides share one
    # physical shuffle via ReusedExchange, and keeping lineage lets AQE
    # replan the join with runtime stats — a localCheckpoint here
    # measured 2x SLOWER (same-session A/B at sf1: 23 -> 45 s), the
    # opposite verdict from the winnow/substring gram tables whose
    # consumers cannot share an exchange.
    prefix = ranked.where(
        F.col("idx")
        <= F.col("sz")
        - F.expr(f"(sz * {_PPJ_NUM} + {_PPJ_DEN - 1}) DIV {_PPJ_DEN}")
        + 1
    ).select("doc_id", "s", "sz", "idx")
    # o_min = ceil(J*(sa+sb)/(1+J)) with J = NUM/DEN
    o_min = (
        f"({_PPJ_NUM} * (a.sz + b.sz) + {_PPJ_NUM + _PPJ_DEN - 1})"
        f" DIV {_PPJ_NUM + _PPJ_DEN}"
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter
            & (F.col("a.sz") * _PPJ_NUM <= F.col("b.sz") * _PPJ_DEN)
            & (F.col("b.sz") * _PPJ_NUM <= F.col("a.sz") * _PPJ_DEN)
            # positional filter
            & F.expr(
                f"LEAST(a.sz - a.idx, b.sz - b.idx) + 1 >= {o_min}"
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    arrs = sets.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("s")).alias("av")
    )
    scored = (
        cand.join(
            arrs.select(F.col("doc_id").alias("doc_a"), F.col("av").alias("aa")),
            "doc_a",
        )
        .join(
            arrs.select(F.col("doc_id").alias("doc_b"), F.col("av").alias("ab")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("aa", "ab")).alias("inter"),
            F.size("aa").alias("sza"),
            F.size("ab").alias("szb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(inter * 1000000 DIV (sza + szb - inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .where(
            F.col("jaccard_ppm") >= (1_000_000 * _PPJ_NUM) // _PPJ_DEN
        )
    )
    return scored.orderBy(
        F.desc("jaccard_ppm"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(_PPJ_TOPK)


# Shingles folded to the shared 48-bit md5 int BEFORE every shuffle-side
# step, and verification via list arrays — both mirroring the Spark plan
# exactly so any 48-bit collision lands identically in both engines.
DEDUP_PPJOIN_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr FROM documents
  WHERE len(string_split(lower(trim(text)), ' ')) >= 3),
sets AS MATERIALIZED (
  SELECT doc_id,
    ('0x' || substr(md5(s0), 1, 12))::BIGINT AS s
  FROM (
    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(arr)-1),
        i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))) AS s0
    FROM toks)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sets GROUP BY 1),
dfreq AS (SELECT s, COUNT(*) AS df FROM sets GROUP BY 1),
ranked AS (
  SELECT sets.doc_id, sets.s, sizes.sz,
    row_number() OVER (PARTITION BY sets.doc_id
                       ORDER BY dfreq.df, sets.s) AS idx
  FROM sets JOIN dfreq USING (s) JOIN sizes USING (doc_id)),
prefix AS (
  SELECT doc_id, s, sz, idx FROM ranked
  WHERE idx <= sz - ((sz * {_PPJ_NUM} + {_PPJ_DEN - 1}) // {_PPJ_DEN}) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE a.sz * {_PPJ_NUM} <= b.sz * {_PPJ_DEN}
    AND b.sz * {_PPJ_NUM} <= a.sz * {_PPJ_DEN}
    AND LEAST(a.sz - a.idx, b.sz - b.idx) + 1
        >= ({_PPJ_NUM} * (a.sz + b.sz) + {_PPJ_NUM + _PPJ_DEN - 1})
           // {_PPJ_NUM + _PPJ_DEN}),
arrs AS MATERIALIZED (SELECT doc_id, list(s) AS av FROM sets GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b,
    len(list_intersect(aa.av, ab.av)) AS i,
    len(aa.av) AS sza, len(ab.av) AS szb
  FROM cand c
  JOIN arrs aa ON aa.doc_id = c.doc_a
  JOIN arrs ab ON ab.doc_id = c.doc_b)
SELECT doc_a, doc_b,
  CAST(i * 1000000 // (sza + szb - i) AS BIGINT) AS jaccard_ppm
FROM inter
WHERE i * 1000000 // (sza + szb - i) >= {1_000_000 * _PPJ_NUM // _PPJ_DEN}
ORDER BY jaccard_ppm DESC, doc_a, doc_b
LIMIT {_PPJ_TOPK}
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Robertson & Sparck Jones; the Lucene practical form)

_BM25_QUERY = ["table", "spark", "window"]  # fixed literal query terms
_BM25_TOPK = 20
# k1 = 6/5, b = 3/4 kept as exact rationals: per-(doc, term)
#   tf_part = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
#           = 22*sdl*tf / (10*sdl*tf + 3*sdl + 9*dl*n)   [avgdl = sdl/n]
#   idf     = ln(1 + (N - df + 1/2)/(df + 1/2)) = ln((2N + 2)/(2df + 1))
# so each per-term score is ONE deterministic IEEE expression over exact
# corpus integers, quantized to integer micro before the per-doc sum
# (the quality_bigram_logprob discipline: order-independent aggregation,
# one divide at the end).


def text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed literal query — the lexical
    scoring half of every retrieval pipeline (and of retrieval-based
    decontamination audits); complements tfidf_topk_terms (per-doc
    keyword extraction) with the per-QUERY document ranking, using the
    Lucene-form positive idf so scores never go negative. Top-20 docs
    by summed per-term micro scores, doc_id tiebreak.

    Scale (100 TB): the query side is a 3-element literal — term
    filtering pushes into the (doc, term) partial agg, so only rows for
    query terms survive the first shuffle; df/N/sdl are tiny aggregates
    of already-reduced tables (1-row scalar broadcast); final top-k is
    TakeOrderedAndProject. No Python, no global sort."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    toks = d.select(
        "doc_id",
        F.explode(F.filter(_tokens(F.col("text")), lambda x: x != "")).alias(
            "tok"
        ),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.sum("dl").alias("sdl"), F.count(F.lit(1)).alias("n")
    )
    qlit = ", ".join(f"'{t}'" for t in _BM25_QUERY)
    tf = (
        toks.where(F.expr(f"tok IN ({qlit})"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    micro = (
        tf.join(df_, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "CAST(ROUND(ln((2.0 * n + 2) / (2 * df + 1))"
                " * (22.0 * sdl * tf)"
                " / (10.0 * sdl * tf + 3.0 * sdl + 9.0 * dl * n)"
                " * 1000000) AS BIGINT)"
            ).alias("m"),
        )
    )
    return (
        micro.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum("m") / 1_000_000.0, 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


TEXT_BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(
    list_filter(string_split(lower(trim(text)), ' '), x -> x <> '')) AS tok
  FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS sdl, COUNT(*) AS n FROM dl),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({", ".join(f"'{t}'" for t in _BM25_QUERY)})
  GROUP BY 1, 2),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
micro AS (
  SELECT doc_id,
    CAST(ROUND(ln((2.0 * n + 2) / (2 * df + 1))
      * (22.0 * sdl * tf)
      / (10.0 * sdl * tf + 3.0 * sdl + 9.0 * dl * n)
      * 1000000) AS BIGINT) AS m
  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats)
SELECT doc_id, COUNT(*) AS n_terms,
  ROUND(SUM(m) / 1000000.0, 6) AS score
FROM micro GROUP BY 1
ORDER BY score DESC, doc_id
LIMIT {_BM25_TOPK}
"""


# ---------------------------------------------------------------------------
# C4-style repeated-span corpus dedup (keep-first)

_LKF_BLOCK = 10  # tokens per span; C4 used three-sentence spans


def dedup_lines_keep_first(spark: SparkSession, sf: str) -> DataFrame:
    """Repeated-span corpus dedup with keep-first semantics — the C4
    cleaning rule ("we removed ... duplicate three-sentence spans",
    Raffel et al. 2020 §2.2) adapted to span = complete 10-token block
    (the fixture corpus has no sentence boundaries; blocks are the TTR
    precedent). Every block that already occurred EARLIER in the corpus
    (smaller (doc_id, block_pos), the first occurrence itself kept) is
    dropped, and each affected document is reassembled from its
    surviving blocks in original order. Output: the docs that lost at
    least one block but kept at least one — doc_id, block counts, and
    the rewritten text. Partial trailing blocks (< 10 tokens) are out
    of scope on both engines.

    Scale (100 TB): block construction is MAP-ONLY (one transform over
    the token array — no explode-then-window); first-occurrence
    selection is a groupBy(btext).agg(min(struct(doc_id, blk))) + a
    join back — groupBy+join over a window ON PURPOSE (the
    train_contamination_ngram rationale): min(struct) is PARTIAL-
    AGGREGABLE, so a boilerplate block repeated 1e9 times costs one
    map-side combine per task instead of one unsplittable row_number
    sort partition, and the join-back's hot keys are AQE-skew-split;
    reassembly is one doc_id partial agg. No pair space, no self-join —
    duplication is found by hash-partition like dedup_exact, at span
    granularity."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    toks = d.select(
        "doc_id",
        F.filter(_tokens(F.col("text")), lambda x: x != "").alias("t"),
    ).where(F.size("t") >= _LKF_BLOCK)
    blocks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) DIV {_LKF_BLOCK} - 1), "
                f"i -> array_join(slice(t, i * {_LKF_BLOCK} + 1, "
                f"{_LKF_BLOCK}), ' '))"
            )
        ).alias("blk", "btext"),
    )
    firsts = blocks.groupBy("btext").agg(
        F.min(F.struct("doc_id", "blk")).alias("f")
    )
    flagged = blocks.join(firsts, "btext").withColumn(
        "keep",
        (F.col("doc_id") == F.col("f.doc_id"))
        & (F.col("blk") == F.col("f.blk")),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias(
                "kept_blocks"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"), F.struct("blk", "btext")
                            )
                        )
                    ),
                    lambda s: s["btext"],
                ),
                " ",
            ).alias("new_text"),
        )
        .where(
            (F.col("kept_blocks") >= 1)
            & (F.col("kept_blocks") < F.col("n_blocks"))
        )
        .select("doc_id", "n_blocks", "kept_blocks", "new_text")
        .orderBy("doc_id")
    )


DEDUP_LKF_SQL = f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS t
  FROM documents),
blocks AS (
  SELECT doc_id, i AS blk,
    array_to_string(list_slice(t, i * {_LKF_BLOCK} + 1,
                               i * {_LKF_BLOCK} + {_LKF_BLOCK}), ' ') AS btext
  FROM (SELECT doc_id, t, unnest(range(0, len(t) // {_LKF_BLOCK})) AS i
        FROM toks WHERE len(t) >= {_LKF_BLOCK})),
r AS (
  SELECT doc_id, blk, btext,
    ROW_NUMBER() OVER (PARTITION BY btext ORDER BY doc_id, blk) AS rn
  FROM blocks),
agg AS (
  SELECT doc_id, COUNT(*) AS n_blocks,
    CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_blocks,
    string_agg(btext, ' ' ORDER BY blk) FILTER (WHERE rn = 1) AS new_text
  FROM r GROUP BY 1)
SELECT doc_id, n_blocks, kept_blocks, new_text
FROM agg WHERE kept_blocks >= 1 AND kept_blocks < n_blocks
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen & Goodman 1999)

_KN_D_NUM, _KN_D_DEN = 3, 4  # absolute discount d = 3/4 as an exact rational
_KN_TOPK = 100


def quality_kneser_ney_bigram(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the smoothing the
    CCNet/KenLM perplexity filters actually use (quality_bigram_logprob
    is the MLE-interpolated cousin; KN replaces the raw unigram backoff
    with the CONTINUATION count N1+(.w), which is what makes 'Francisco'
    unlikely outside 'San Francisco'). For each observed bigram (a, b):

      P_KN(b|a) = max(c(a,b) - d, 0)/c(a.)
                  + d * N1+(a.)/c(a.) * N1+(.b)/T,    d = 3/4

    with c(a.) = total bigrams starting a, N1+(a.) = distinct
    continuations of a, N1+(.b) = distinct left contexts of b, T =
    total distinct bigram types. Reported as exact integer ppm with the
    two terms floored SEPARATELY (kn_ppm := term1_ppm + term2_ppm) so
    every division is integer: term1 = max(4c-3, 0)*1e6 DIV (4*c(a.)),
    term2 = 3*N1+(a.)*N1+(.b)*1e6 DIV (4*c(a.)*T) — BOTH terms'
    numerators and denominators run in DECIMAL(38,0)/HUGEINT (the BPE
    ppm discipline): c(a.)*T alone can pass 2^63 on a 100 TB corpus,
    and term1's 4*c(a,b)*1e6 wraps int64 once c(a,b) exceeds ~2.3e12.
    Output: top-100 bigrams by kn_ppm with all four count components.

    Scale (100 TB): bigram extraction is the map-only shifted-slice zip;
    ALL counts derive from the single (a, b) partial-agg table (two
    re-aggregations of an already-reduced table + a 1-row type-count
    broadcast); final top-k is TakeOrderedAndProject. No Python."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    toks = d.select(
        F.filter(_tokens(F.col("text")), lambda x: x != "").alias("t")
    )
    n = F.size(F.col("t")) - 1
    pairs = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", F.lit(1), n).alias("a"),
                    F.slice("t", F.lit(2), n).alias("b"),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    big = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    left = big.groupBy("a").agg(
        F.sum("cab").alias("c1"), F.count(F.lit(1)).alias("n1w")
    )
    right = big.groupBy("b").agg(F.count(F.lit(1)).alias("n2w"))
    tt = big.agg(F.count(F.lit(1)).alias("t"))
    # term1's numerator ALSO runs in DECIMAL(38,0) (round-9 ADVICE):
    # with ANSI off, an int64 4*cab*1e6 wraps silently once cab exceeds
    # ~2.3e12 — reachable for a boilerplate bigram on a 100 TB corpus —
    # while the HUGEINT oracle would error loudly; same discipline as
    # term2 below.
    term1 = F.expr(
        f"CAST(GREATEST(CAST({_KN_D_DEN} AS DECIMAL(38,0)) * cab "
        f"- {_KN_D_NUM}, 0) * 1000000 "
        f"DIV (CAST({_KN_D_DEN} AS DECIMAL(38,0)) * c1) AS BIGINT)"
    )
    term2 = F.expr(
        f"CAST((CAST({_KN_D_NUM} AS DECIMAL(38,0)) * n1w * n2w * 1000000) "
        f"DIV (CAST({_KN_D_DEN} AS DECIMAL(38,0)) * c1 * t) AS BIGINT)"
    )
    return (
        big.join(left, "a")
        .join(right, "b")
        .crossJoin(F.broadcast(tt))
        .select(
            "a",
            "b",
            "cab",
            "c1",
            "n1w",
            "n2w",
            (term1 + term2).cast("bigint").alias("kn_ppm"),
        )
        .orderBy(F.desc("kn_ppm"), F.asc("a"), F.asc("b"))
        .limit(_KN_TOPK)
    )


QUALITY_KN_SQL = f"""
WITH toks AS (
  SELECT list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS t
  FROM documents),
pairs AS (
  SELECT t[pos] AS a, t[pos + 1] AS b
  FROM (SELECT t, unnest(range(1, len(t))) AS pos
        FROM toks WHERE len(t) >= 2)),
big AS (SELECT a, b, COUNT(*) AS cab FROM pairs GROUP BY 1, 2),
lft AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS c1, COUNT(*) AS n1w
        FROM big GROUP BY 1),
rgt AS (SELECT b, COUNT(*) AS n2w FROM big GROUP BY 1),
tt AS (SELECT COUNT(*) AS t FROM big)
SELECT a, b, cab, c1, n1w, n2w,
  CAST(GREATEST({_KN_D_DEN}::HUGEINT * cab - {_KN_D_NUM}, 0) * 1000000
         // ({_KN_D_DEN}::HUGEINT * c1)
       + ({_KN_D_NUM}::HUGEINT * n1w * n2w * 1000000)
         // ({_KN_D_DEN}::HUGEINT * c1 * t) AS BIGINT) AS kn_ppm
FROM big JOIN lft USING (a) JOIN rgt USING (b) CROSS JOIN tt
ORDER BY kn_ppm DESC, a, b
LIMIT {_KN_TOPK}
"""


# ---------------------------------------------------------------------------
# CCNet-style per-language head/middle/tail bucketing (Wenzek et al. 2020)


def quality_ccnet_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet's per-language head/middle/tail split (Wenzek et al. 2020
    §3.4: score every document with a corpus LM, cut each language at
    the 1/3 and 2/3 quantiles, train on 'head'). The document score
    here is the exact-integer fluency proxy avg token-frequency ppm
    (SUM over token positions of count(tok)*1e6 DIV total, DIV n_toks)
    — the LM-perplexity variant of the score is quality_unigram_logprob
    / quality_bigram_logprob; this op contributes the QUANTILE-CUT
    stage, which CCNet applies as thresholds ("we obtain this
    threshold by computing percentiles on a subset"), exactly the
    scale-safe shape: cutoffs come from an aggregated (lang, score)
    HISTOGRAM, never from a per-document global ranking.

      b1(lang) = max score with cum_desc(score)*3 >= n   (head cut)
      b2(lang) = max score with cum_desc(score)*3 >= 2n  (middle cut)
      bucket   = head if score >= b1, middle if score >= b2, else tail

    Ties share a bucket (threshold semantics — CCNet's, not NTILE's
    row-split). Output: per (lang, bucket) doc count, exact avg score,
    and doc_id range.

    Scale (100 TB): token counts = one partial-agg shuffle; per-doc
    score = one join + one doc_id partial agg; the cumulative window
    runs over the (lang, distinct score) HISTOGRAM — bounded by
    languages x 1e6 score values, metadata-scale — and the cutoff
    table (2 ints per language) broadcasts back. No corpus-wide
    window, no NTILE over a per-language partition (which would funnel
    each language's every doc through one task)."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.filter(_tokens(F.col("text")), lambda x: x != "")).alias(
            "tok"
        ),
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    nt = uni.agg(F.sum("c").alias("ntot"))
    freq = uni.crossJoin(F.broadcast(nt)).select(
        "tok", F.expr("c * 1000000 DIV ntot").alias("fppm")
    )
    ds = (
        toks.join(freq, "tok")
        .groupBy("doc_id", "lang")
        .agg(F.expr("SUM(fppm) DIV COUNT(*)").alias("score"))
    )
    hist = ds.groupBy("lang", "score").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.partitionBy("lang").orderBy(F.desc("score"))
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum))
    nl = hist.groupBy("lang").agg(F.sum("cnt").alias("n"))
    cuts = (
        cum.join(nl, "lang")
        .groupBy("lang")
        .agg(
            F.max(F.when(F.col("cum") * 3 >= F.col("n"), F.col("score"))).alias(
                "b1"
            ),
            F.max(
                F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("score"))
            ).alias("b2"),
        )
    )
    lab = ds.join(F.broadcast(cuts), "lang").withColumn(
        "bucket",
        F.when(F.col("score") >= F.col("b1"), "head")
        .when(F.col("score") >= F.col("b2"), "middle")
        .otherwise("tail"),
    )
    return (
        lab.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("SUM(score) DIV COUNT(*)").alias("avg_score_ppm"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang", "bucket")
    )


QUALITY_CCNET_SQL = """
WITH toks AS (
  SELECT doc_id, lang, unnest(
    list_filter(string_split(lower(trim(text)), ' '), x -> x <> '')) AS tok
  FROM documents),
uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
nt AS (SELECT SUM(c) AS ntot FROM uni),
freq AS (SELECT tok, CAST(c * 1000000 // ntot AS BIGINT) AS fppm
         FROM uni CROSS JOIN nt),
ds AS (
  SELECT t.doc_id, t.lang, CAST(SUM(f.fppm) // COUNT(*) AS BIGINT) AS score
  FROM toks t JOIN freq f USING (tok) GROUP BY 1, 2),
hist AS (SELECT lang, score, COUNT(*) AS cnt FROM ds GROUP BY 1, 2),
cum AS (
  SELECT lang, score, cnt,
    SUM(cnt) OVER (PARTITION BY lang ORDER BY score DESC) AS cum
  FROM hist),
nl AS (SELECT lang, SUM(cnt) AS n FROM hist GROUP BY 1),
cuts AS (
  SELECT lang,
    MAX(score) FILTER (WHERE cum * 3 >= n) AS b1,
    MAX(score) FILTER (WHERE cum * 3 >= 2 * n) AS b2
  FROM cum JOIN nl USING (lang) GROUP BY 1),
lab AS (
  SELECT ds.doc_id, ds.lang, ds.score,
    CASE WHEN score >= b1 THEN 'head'
         WHEN score >= b2 THEN 'middle'
         ELSE 'tail' END AS bucket
  FROM ds JOIN cuts USING (lang))
SELECT lang, bucket, COUNT(*) AS n_docs,
  CAST(SUM(score) // COUNT(*) AS BIGINT) AS avg_score_ppm,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM lab GROUP BY 1, 2
ORDER BY lang, bucket
"""


# ---------------------------------------------------------------------------
# per-document token Shannon entropy (the gibberish/boilerplate filter)

_ENTROPY_BOTTOMK = 20


def quality_token_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token Shannon entropy, the cheap
    gibberish/boilerplate detector quality pipelines run beside the
    Gopher repetition rules: H = ln(n) - (1/n) * sum_t c_t*ln(c_t) in
    exact integer micro-nats. Each (doc, token) term c*ln(c) is
    quantized to an integer BEFORE the per-doc sum (the
    quality_unigram_logprob discipline: the aggregation is
    order-independent and both engines round the identical IEEE double
    once), then H_mnat = round(ln(n)*1e6) - S div n with integer
    division on both sides. Output: the bottom-20 lowest-entropy docs
    (most templated/repetitive) with token totals and type counts,
    doc_id tiebreak.

    Scale (100 TB): token explode (partition-spread) -> ONE
    (doc_id, tok) partial-agg shuffle -> ONE doc_id partial-agg shuffle
    -> TakeOrderedAndProject bottom-k. All counting exact integers; ln
    touched once per distinct (doc, token) and once per doc."""
    d = _spread_for_explode(spark, tables(spark, sf, "documents").documents)
    toks = d.select(
        "doc_id",
        F.explode(F.filter(_tokens(F.col("text")), lambda x: x != "")).alias(
            "tok"
        ),
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_toks"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.expr("CAST(ROUND(c * ln(c) * 1000000) AS BIGINT)")).alias(
            "s"
        ),
    )
    return (
        per_doc.where(F.col("n_toks") >= 1)
        .select(
            "doc_id",
            "n_toks",
            "n_types",
            F.expr(
                "CAST(ROUND(ln(n_toks) * 1000000) AS BIGINT) - s DIV n_toks"
            ).alias("entropy_mnat"),
        )
        .orderBy(F.asc("entropy_mnat"), F.asc("doc_id"))
        .limit(_ENTROPY_BOTTOMK)
    )


QUALITY_ENTROPY_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(
    list_filter(string_split(lower(trim(text)), ' '), x -> x <> '')) AS tok
  FROM documents),
per_tok AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks, COUNT(*) AS n_types,
    CAST(SUM(CAST(ROUND(c * ln(c) * 1000000) AS BIGINT)) AS BIGINT) AS s
  FROM per_tok GROUP BY 1)
SELECT doc_id, n_toks, n_types,
  CAST(ROUND(ln(n_toks) * 1000000) AS BIGINT) - s // n_toks AS entropy_mnat
FROM per_doc WHERE n_toks >= 1
ORDER BY entropy_mnat, doc_id
LIMIT {_ENTROPY_BOTTOMK}
"""


_ED_PREFIX = 32  # blocking key: first 32 normalized chars
_ED_T = 128  # absolute edit-distance cap (banded-DP early exit)
_ED_MAX_BLOCK = 100  # hot-block cap, the _MAX_SHINGLE_DF discipline


def dedup_edit_distance_verify(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance verification — the exactness tier fuzzy dedup
    escalates to AFTER cheap blocking (the MinHash/SimHash families
    here generate CANDIDATES; production pipelines confirm borderline
    pairs with real Levenshtein before deleting data). Blocking key:
    the first 32 normalized chars (near-identical heads are the
    dominant template-duplication mode); every same-block pair is
    verified with a THRESHOLDED Levenshtein and reported with its
    normalized similarity.

    Scale (100 TB): blocking is one groupBy-shuffle on a 32-char key;
    pair space is sum of per-block C(n,2), bounded by the hot-block
    cap (blocks larger than 100 are template boilerplate, dropped and
    countable — the _MAX_SHINGLE_DF discipline). EXACT copies — the
    bulk of real duplication — short-circuit on md5 digest equality
    and never run the DP at all (at the sf1 stress fixture this is
    250k of 251k pairs). The residual verify runs JVM-side: Spark's
    3-arg levenshtein(l, r, t) is the banded O(n*t) early-exit DP,
    NOT the O(n*m) full matrix — the whole point of thresholding at
    scale. No Python anywhere.

    Determinism: Levenshtein is integer-exact and engine-identical;
    sim_ppm is integer floor arithmetic; pairs are keyed (a < b).

    The probe side is _spread_for_explode-rebalanced: the self-join
    amplifies each input row ~block-size-fold and the residual DPs are
    CPU-heavy, so a fewer-splits-than-cores scan (the sf1 fixture is
    one file = one split) would serialize the verify stage on one core
    — measured 17.6s -> ~2s at sf1. A no-op at real scale."""
    d = _spread_for_explode(
        spark,
        tables(spark, sf, "documents").documents.select(
            "doc_id", _norm_text(F.col("text")).alias("t")
        ),
    )
    blocked = d.select(
        "doc_id",
        "t",
        F.md5("t").alias("dg"),
        F.substring("t", 1, _ED_PREFIX).alias("blk"),
    )
    small = (
        blocked.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where((F.col("bn") > 1) & (F.col("bn") <= _ED_MAX_BLOCK))
        .select("blk")
    )
    b = blocked.join(F.broadcast(small), "blk")
    a2 = b.select(
        F.col("blk"),
        F.col("doc_id").alias("doc_b"),
        F.col("t").alias("t_b"),
        F.col("dg").alias("dg_b"),
    )
    pairs = (
        b.alias("x")
        .join(a2.alias("y"), "blk")
        .where(F.col("doc_id") < F.col("doc_b"))
        .select(
            F.col("doc_id").alias("doc_a"),
            "doc_b",
            F.length("t").alias("len_a"),
            F.length("t_b").alias("len_b"),
            # exact-copy short-circuit: digest equality skips the DP
            F.when(F.col("dg") == F.col("dg_b"), F.lit(0))
            .otherwise(F.levenshtein(F.col("t"), F.col("t_b"), _ED_T))
            .alias("lev"),
        )
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "len_a",
        "len_b",
        "lev",
        F.when(
            F.col("lev") >= 0,
            F.expr(
                "cast((greatest(len_a, len_b) - lev) * 1000000 "
                "div greatest(len_a, len_b) as bigint)"
            ),
        )
        .otherwise(F.lit(-1).cast("bigint"))
        .alias("sim_ppm"),
    ).orderBy("doc_a", "doc_b")


DEDUP_EDIT_SQL = f"""
WITH d AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents),
blocked AS (
  SELECT doc_id, t, md5(t) AS dg, substr(t, 1, {_ED_PREFIX}) AS blk
  FROM d),
small AS (
  SELECT blk FROM blocked GROUP BY blk
  HAVING COUNT(*) > 1 AND COUNT(*) <= {_ED_MAX_BLOCK}),
b AS (SELECT blocked.* FROM blocked JOIN small USING (blk)),
pairs AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
    length(x.t) AS len_a, length(y.t) AS len_b,
    CASE WHEN x.dg = y.dg THEN 0
         WHEN levenshtein(x.t, y.t) <= {_ED_T}
         THEN levenshtein(x.t, y.t) ELSE -1 END AS lev
  FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id)
SELECT doc_a, doc_b, len_a, len_b, lev,
  CASE WHEN lev >= 0
       THEN CAST((GREATEST(len_a, len_b) - lev) * 1000000
            // GREATEST(len_a, len_b) AS BIGINT)
       ELSE CAST(-1 AS BIGINT) END AS sim_ppm
FROM pairs
ORDER BY doc_a, doc_b
"""


_COV_RANKS = [1, 2, 5, 10, 20, 50, 100, 500, 1000]  # coverage checkpoints


def text_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary coverage curve: what share of all token occurrences
    the top-V types cover, at V in {1,2,5,...,1000} — the measurement
    that sizes a tokenizer vocabulary (and, read against Zipf, flags
    template-heavy corpora whose head coverage is anomalously high).
    Checkpoints beyond the corpus's type count simply don't emit
    (identically on both engines).

    Scale (100 TB): token counts are ONE explode + map-side-combining
    groupBy; the head is TakeOrderedAndProject (k=1000); the cumulative
    share is a window over <= 1000 METADATA rows plus a 1-row total
    broadcast. Integer arithmetic end to end (ppm floor division)."""
    d = tables(spark, sf, "documents").documents
    counts = (
        d.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    total = counts.agg(
        F.sum("f").alias("n_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    head = (
        counts.orderBy(F.desc("f"), F.asc("tok"))
        .limit(max(_COV_RANKS))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("f"), F.asc("tok"))),
        )
        .withColumn(
            "cum_f",
            F.sum("f").over(
                Window.orderBy(F.desc("f"), F.asc("tok")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    return (
        head.where(F.col("rk").isin(_COV_RANKS))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rk").cast("int").alias("v"),
            "n_types",
            "n_tokens",
            F.col("cum_f").alias("head_tokens"),
            F.expr("cast(cum_f * 1000000 div n_tokens as bigint)").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("v")
    )


TEXT_VOCAB_COV_SQL = f"""
WITH counts AS (
  SELECT tok, COUNT(*) AS f
  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok),
total AS (
  SELECT CAST(SUM(f) AS BIGINT) AS n_tokens, COUNT(*) AS n_types
  FROM counts),
head AS (
  SELECT f,
    ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rk,
    CAST(SUM(f) OVER (ORDER BY f DESC, tok
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_f
  FROM counts ORDER BY f DESC, tok LIMIT {max(_COV_RANKS)})
SELECT CAST(rk AS INTEGER) AS v, n_types, n_tokens,
  cum_f AS head_tokens,
  CAST(cum_f * 1000000 // n_tokens AS BIGINT) AS coverage_ppm
FROM head CROSS JOIN total
WHERE rk IN ({", ".join(str(r) for r in _COV_RANKS)})
ORDER BY v
"""


_ZIPF_TOPV = 100  # vocabulary head the power law is fit over


def text_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary head: regress
    ln(frequency) on ln(rank) for the top-100 token types and report
    the slope (a healthy natural corpus sits near -1; heavy template
    duplication or synthetic vocabulary flattens or steepens it),
    the fit r^2, and the head concentration (top-1 token share) — a
    one-row corpus-health fingerprint cheap enough to run per shard
    per ingest batch.

    Scale (100 TB): token counts are ONE explode + map-side-combining
    groupBy (the tfidf/ngram shuffle); the head is TakeOrderedAndProject
    (k=100); the regression runs over 100 rows of metadata via the
    built-in regr_slope/regr_r2 aggregates — nothing after the top-k
    depends on corpus size.

    Determinism: counts and ranks are exact integers; the regression
    consumes 100 identical (ln rank, ln freq) pairs on both engines
    and is reported rounded at 6 dp, far above double noise on a
    100-term sum."""
    d = tables(spark, sf, "documents").documents
    counts = (
        d.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("f").alias("n_tokens"),
        F.max("f").alias("top1_f"),
    )
    head = (
        counts.orderBy(F.desc("f"), F.asc("tok"))
        .limit(_ZIPF_TOPV)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("f"), F.asc("tok"))),
        )
    )
    fit = head.agg(
        F.expr("regr_slope(ln(f), ln(rk))").alias("slope"),
        F.expr("regr_r2(ln(f), ln(rk))").alias("r2"),
    )
    return (
        fit.crossJoin(F.broadcast(totals))
        .select(
            F.lit(_ZIPF_TOPV).cast("int").alias("head_k"),
            "n_types",
            "n_tokens",
            F.round("slope", 6).alias("zipf_slope"),
            F.round("r2", 6).alias("zipf_r2"),
            F.expr("cast(top1_f * 1000000 div n_tokens as bigint)").alias(
                "top1_share_ppm"
            ),
        )
    )


TEXT_ZIPF_SQL = f"""
WITH counts AS (
  SELECT tok, COUNT(*) AS f
  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok),
totals AS (
  SELECT COUNT(*) AS n_types, SUM(f) AS n_tokens, MAX(f) AS top1_f
  FROM counts),
head AS (
  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rk
  FROM counts ORDER BY f DESC, tok LIMIT {_ZIPF_TOPV}),
fit AS (
  SELECT regr_slope(ln(f), ln(rk)) AS slope,
         regr_r2(ln(f), ln(rk)) AS r2
  FROM head)
SELECT {_ZIPF_TOPV} AS head_k,
  CAST(n_types AS BIGINT) AS n_types,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  ROUND(slope, 6) AS zipf_slope, ROUND(r2, 6) AS zipf_r2,
  CAST(top1_f * 1000000 // n_tokens AS BIGINT) AS top1_share_ppm
FROM fit CROSS JOIN totals
"""


QUERIES: dict[str, QuerySpec] = {
    "quality_token_entropy": QuerySpec(
        quality_token_entropy, QUALITY_ENTROPY_SQL
    ),
    "text_winnow_fingerprint": QuerySpec(
        text_winnow_fingerprint, TEXT_WINNOW_SQL
    ),
    "quality_lexical_ttr": QuerySpec(quality_lexical_ttr, QUALITY_TTR_SQL),
    "dedup_prefix_filter_join": QuerySpec(
        dedup_prefix_filter_join, DEDUP_PPJOIN_SQL
    ),
    "dedup_cdc_chunks": QuerySpec(dedup_cdc_chunks, DEDUP_CDC_SQL),
    "quality_fasttext_hash": QuerySpec(
        quality_fasttext_hash, QUALITY_FASTTEXT_SQL
    ),
    "text_collocation_pmi": QuerySpec(text_collocation_pmi, TEXT_PMI_SQL),
    "quality_bigram_logprob": QuerySpec(
        quality_bigram_logprob, QUALITY_BIGRAM_SQL
    ),
    "dedup_lines_keep_first": QuerySpec(dedup_lines_keep_first, DEDUP_LKF_SQL),
    "quality_kneser_ney_bigram": QuerySpec(
        quality_kneser_ney_bigram, QUALITY_KN_SQL
    ),
    "quality_ccnet_bucket": QuerySpec(quality_ccnet_bucket, QUALITY_CCNET_SQL),
    "text_bm25_topk": QuerySpec(text_bm25_topk, TEXT_BM25_SQL),
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_SQL),
    "quality_c4_filters": QuerySpec(quality_c4_filters, QUALITY_C4_SQL),
    "dedup_substring_exact": QuerySpec(dedup_substring_exact, DEDUP_SUBSTR_SQL),
    "dedup_containment": QuerySpec(dedup_containment, DEDUP_CONTAINMENT_SQL),
    "dedup_keep_best": QuerySpec(dedup_keep_best, DEDUP_KEEP_BEST_SQL),
    "text_ngram_topk": QuerySpec(text_ngram_topk, TEXT_NGRAM_SQL),
    "quality_repetition_gopher": QuerySpec(
        quality_repetition_gopher, QUALITY_REPETITION_SQL
    ),
    "pii_scrub": QuerySpec(pii_scrub, PII_SCRUB_SQL),
    "quality_unigram_logprob": QuerySpec(
        quality_unigram_logprob, QUALITY_UNIGRAM_SQL
    ),
    "dedup_incremental": QuerySpec(dedup_incremental, _incremental_oracle_sql()),
    "dedup_ngram_jaccard": QuerySpec(dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_minhash_lsh": QuerySpec(dedup_minhash_lsh, _minhash_oracle_sql()),
    "dedup_clusters": QuerySpec(dedup_clusters, DEDUP_CLUSTERS_SQL),
    "dedup_simhash": QuerySpec(dedup_simhash, _simhash_oracle_sql()),
    "text_stats": QuerySpec(text_stats, TEXT_STATS_SQL),
    "tfidf_topk_terms": QuerySpec(tfidf_topk_terms, TFIDF_SQL),
    "lang_id": QuerySpec(lang_id, _lang_oracle_sql()),
    "quality_score": QuerySpec(quality_score, QUALITY_SQL),
    "doc_fingerprint": QuerySpec(doc_fingerprint, DOC_FINGERPRINT_SQL),
    "curation_pipeline": QuerySpec(curation_pipeline, CURATION_SQL),
    "dedup_edit_distance_verify": QuerySpec(
        dedup_edit_distance_verify, DEDUP_EDIT_SQL
    ),
    "text_zipf_fit": QuerySpec(text_zipf_fit, TEXT_ZIPF_SQL),
    "text_vocab_coverage": QuerySpec(text_vocab_coverage, TEXT_VOCAB_COV_SQL),
}
