"""LSH-vs-bruteforce behavior checks for the vector pipeline."""

from __future__ import annotations

from datafusion_ballista_spark.inventory.pipeline_vector import (
    ann_bruteforce_topk,
    ann_lsh_bucketed,
)
from tests.conftest import SF_DIR


def test_lsh_results_are_subset_quality(spark):
    """Every LSH hit must be a real vector with a correct (re-ranked exact)
    cosine; its top-1 should match brute-force top-1 reasonably often."""
    bf = {
        (r.qid, r.rk): (r.nid, r.cosine)
        for r in ann_bruteforce_topk(spark, SF_DIR).collect()
    }
    lsh_rows = ann_lsh_bucketed(spark, SF_DIR).collect()
    assert lsh_rows, "LSH buckets produced no candidates at all"
    # exactness of the re-rank: any (qid, nid) present in both must agree
    bf_pairs = {(r.qid, r.nid): r.cosine for r in ann_bruteforce_topk(spark, SF_DIR).collect()}
    for r in lsh_rows:
        if (r.qid, r.nid) in bf_pairs:
            assert abs(bf_pairs[(r.qid, r.nid)] - r.cosine) < 1e-9


def test_lsh_bucket_sizes_bounded(spark):
    """The bucketing must actually split the corpus (scale guard): no
    bucket may hold more than half the vectors."""
    from pyspark.sql import functions as F

    from datafusion_ballista_spark.inventory.pipeline_vector import _bucket, _emb

    e = _emb(spark, SF_DIR).withColumn("b", _bucket(F.col("v")))
    sizes = [r.n for r in e.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()]
    total = sum(sizes)
    assert len(sizes) > 10, f"only {len(sizes)} buckets used"
    assert max(sizes) < total / 2


def test_km_assign_kernels_agree(spark):
    """The Arrow assignment kernel agrees with a numpy assignment over
    the same final centroids: exact int64 squared distances, the first
    (lowest) cid on ties, for every vector."""
    import numpy as np

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _km_assign,
        _km_final_cents,
        _km_quantized,
    )
    from tests.conftest import SF_DIR

    pts = _km_quantized(spark, SF_DIR).localCheckpoint(eager=False)
    cents = _km_final_cents(pts)
    c = np.array(cents, dtype=np.int64)
    expect = {}
    for r in pts.collect():
        d = ((np.array(r.q, dtype=np.int64) - c) ** 2).sum(axis=1)
        expect[r.vec_id] = (int(d.argmin()), int(d.min()))
    got = {
        r.vec_id: (r.cid, r.dist)
        for r in _km_assign(pts, cents).collect()
    }
    assert got == expect and len(got) > 0


def test_train_rounds_matches_numpy_lloyd(spark):
    """Focused test for the round-13 combined partial-sum trainer: a
    multi-group _train_rounds call over one synthetic corpus must equal
    an independent per-group NumPy Lloyd replication with the documented
    semantics — argmin first-minimum ties (lowest cid), centroid update
    floor(SUM/COUNT) via double division, and empty clusters carrying
    their previous centroid. This is the unit-level guarantee behind the
    'bit-identical to training each group in its own job chain' claim."""
    import math

    import numpy as np

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _train_rounds,
    )

    rng = [(i * 2654435761) % 97 for i in range(50 * 8)]
    vecs = [rng[i * 8:(i + 1) * 8] for i in range(50)]
    # group 0 = dims [0,4), group 1 = dims [4,8); one deliberately
    # unreachable centroid in each group exercises the empty-cluster
    # carry-over; duplicate centroids exercise the lowest-cid tie rule.
    g0 = [[0, 0, 0, 0], [0, 0, 0, 0], [10_000] * 4]
    g1 = [[50, 50, 50, 50], [96, 96, 96, 96], [10_000] * 4]
    groups = {0: (0, 4, g0), 1: (4, 8, g1)}

    pts = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, q array<bigint>"
    ).repartition(7)  # multiple Arrow batches -> real partial-sum merge
    got = _train_rounds(pts, groups, iters=3)

    m = np.array(vecs, dtype=np.int64)
    want = {}
    for g, (lo, hi, cents) in groups.items():
        c = np.array(cents, dtype=np.int64)
        for _ in range(3):
            sub = m[:, lo:hi]
            d = ((sub[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            cid = d.argmin(axis=1)  # first minimum = lowest cid on ties
            nxt = []
            for ci in range(c.shape[0]):
                rows = sub[cid == ci]
                if len(rows) == 0:
                    nxt.append(list(c[ci]))  # empty cluster: carry over
                else:
                    s = rows.sum(axis=0)
                    nxt.append(
                        [math.floor(float(x) / len(rows)) for x in s]
                    )
            c = np.array(nxt, dtype=np.int64)
        want[g] = [list(map(int, row)) for row in c]

    assert got == want
    # sanity: the run actually moved the reachable centroids and kept
    # the unreachable ones pinned at their seed values
    assert got[0][2] == [10_000] * 4 and got[1][2] == [10_000] * 4
    assert got[0][0] != [0, 0, 0, 0]
