"""Semantic checks for the round-6 curation/analytics additions — the
hash-match gate proves engine agreement; these prove the SEMANTICS are
the advertised ones (funnel ordering, budget capping, repetition flags).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from datafusion_ballista_spark.inventory.events import (
    _FUNNEL_WINDOW_H,
    ev_funnel_steps,
)
from datafusion_ballista_spark.inventory.pipeline_text import (
    quality_repetition_gopher,
)
from datafusion_ballista_spark.inventory.pipeline_train import (
    _BUDGET_PCT,
    train_token_budget_sample,
)
from datafusion_ballista_spark.inventory.util import tables
from tests.conftest import SF_DIR


def test_funnel_is_monotone_and_stricter_than_unordered(spark):
    """Stage counts must shrink monotonically, and the ordered funnel
    must be at most the unordered has-all-three-types count (strictly
    fewer unless every user's events happen to arrive in funnel order).
    """
    row = ev_funnel_steps(spark, SF_DIR).collect()[0]
    assert row.n_view >= row.n_click_after_view >= row.n_purchase_after_click
    assert row.n_purchase_after_click > 0, "fixture should convert someone"
    ev = tables(spark, SF_DIR, "events").events
    unordered = (
        ev.where(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("k"))
        .where(F.col("k") == 3)
        .count()
    )
    assert row.n_purchase_after_click <= unordered


def test_funnel_click_strictly_after_view(spark):
    """Spot-check the ordering + time-box constraints: recompute stage 2
    by hand for every user and compare the count."""
    import datetime

    window = datetime.timedelta(hours=_FUNNEL_WINDOW_H)
    ev = tables(spark, SF_DIR, "events").events.collect()
    first_view: dict[int, object] = {}
    for r in ev:
        if r.event_type == "view":
            if r.user_id not in first_view or r.ts < first_view[r.user_id]:
                first_view[r.user_id] = r.ts
    clickers = set()
    for r in ev:
        if (
            r.event_type == "click"
            and r.user_id in first_view
            and first_view[r.user_id] < r.ts <= first_view[r.user_id] + window
        ):
            clickers.add(r.user_id)
    row = ev_funnel_steps(spark, SF_DIR).collect()[0]
    assert row.n_click_after_view == len(clickers)
    # the time box must actually bite on this fixture
    assert row.n_click_after_view < row.n_view


def test_token_budget_caps_dominant_language(spark):
    rows = {r.lang: r for r in train_token_budget_sample(spark, SF_DIR).collect()}
    # en is ~43% of corpus tokens; an equal per-language split of a
    # 70% budget (14% each) must cap it hard.
    assert rows["en"].theta < 0.5
    assert rows["en"].tokens_kept < rows["en"].tokens_total
    # at least one minority language is uncapped (theta == 1 keeps all)
    uncapped = [r for r in rows.values() if r.theta == 1.0]
    assert uncapped, "equal split should leave some language uncapped"
    for r in uncapped:
        assert r.n_kept == r.n_docs and r.tokens_kept == r.tokens_total
    # capped languages land near their budget (threshold sampling is
    # exact in expectation; allow 30% relative slack at fixture size)
    for r in rows.values():
        if r.theta < 1.0:
            assert abs(r.tokens_kept - r.budget) < 0.3 * r.budget
    # global budget respected in aggregate within the same slack
    total = sum(r.tokens_total for r in rows.values())
    kept = sum(r.tokens_kept for r in rows.values())
    assert kept < total
    assert kept < (_BUDGET_PCT / 100) * total * 1.3


def test_repetition_flags_planted_doc(spark):
    """A maximally repetitive doc (one token repeated) must flag; the
    fractions must be exact on a hand-checkable case."""
    df = quality_repetition_gopher(spark, SF_DIR)
    rows = df.collect()
    flagged = [r for r in rows if r.flag_repetitive == 1]
    clean = [r for r in rows if r.flag_repetitive == 0]
    assert flagged and clean, "thresholds should split the fixture"
    for r in rows:
        assert 0 < r.top_uni_frac <= 1
        assert 0 <= r.dup_bi_frac < 1
        # flag definition is exactly the advertised thresholds
        expect = r.top_uni_frac > 0.12 or r.dup_bi_frac > 0.05
        # fractions are rounded to 1e-6; re-derive only away from the
        # threshold boundary to avoid rounding flips
        if abs(r.top_uni_frac - 0.12) > 1e-5 and abs(r.dup_bi_frac - 0.05) > 1e-5:
            assert bool(r.flag_repetitive) == expect


def test_kmeans_matches_numpy_lloyd(spark):
    """Replicate the exact-integer Lloyd's rounds in numpy and require
    bit-identical cluster sizes and inertia — proves the Spark/DuckDB
    agreement isn't two engines sharing a bug."""
    import numpy as np

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _KM_ITERS,
        _KM_K,
        _KM_SCALE,
        emb_kmeans_lloyd,
    )

    emb = tables(spark, SF_DIR, "embeddings").embeddings.collect()
    emb.sort(key=lambda r: r.vec_id)
    q = np.floor(
        np.array([r.embedding for r in emb], dtype=np.float64) * _KM_SCALE
        + 0.5
    ).astype(np.int64)
    cents = q[:_KM_K].copy()

    def assign(c):
        # (n, k) exact integer squared distances
        d = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1), d.min(axis=1)  # argmin: first/lowest cid

    for _ in range(_KM_ITERS):
        cid, _ = assign(cents)
        nxt = cents.copy()
        for k in range(_KM_K):
            pts = q[cid == k]
            if len(pts):
                nxt[k] = np.floor(pts.sum(axis=0) / len(pts)).astype(np.int64)
        cents = nxt
    cid, dist = assign(cents)
    expect = {
        k: (
            int((cid == k).sum()),
            round(float(dist[cid == k].sum()) / _KM_SCALE**2, 6),
        )
        for k in range(_KM_K)
        if (cid == k).sum()
    }
    got = {
        r.cid: (r.n_vecs, r.inertia)
        for r in emb_kmeans_lloyd(spark, SF_DIR).collect()
    }
    assert got == expect


def test_semdedup_matches_numpy(spark):
    """Replicate SemDeDup end-to-end in numpy/python-int arithmetic
    (exact-integer Lloyd's -> within-cluster exact-rational cosine
    threshold -> greedy lowest-id keep) and require identical per-cluster
    drop counts — a third witness alongside the DuckDB oracle. Also
    requires the fixture to make the operator non-vacuous (>0 drops)."""
    import numpy as np

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _KM_ITERS,
        _KM_K,
        _KM_SCALE,
        _SD_CAP,
        _SD_TAU2_DEN,
        _SD_TAU2_NUM,
        dedup_semdedup,
    )

    emb = tables(spark, SF_DIR, "embeddings").embeddings.collect()
    emb.sort(key=lambda r: r.vec_id)
    q = np.floor(
        np.array([r.embedding for r in emb], dtype=np.float64) * _KM_SCALE
        + 0.5
    ).astype(np.int64)

    def assign(c):
        d = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1)

    cents = q[:_KM_K].copy()
    for _ in range(_KM_ITERS):
        cid = assign(cents)
        nxt = cents.copy()
        for k in range(_KM_K):
            pts = q[cid == k]
            if len(pts):
                nxt[k] = np.floor(pts.sum(axis=0) / len(pts)).astype(np.int64)
        cents = nxt
    cid = assign(cents)

    qi = q.astype(object)  # python ints: dot^2 products exceed int64
    n2 = (qi * qi).sum(axis=1)
    expect = {}
    for k in range(_KM_K):
        idx = np.where(cid == k)[0][:_SD_CAP]
        dropped = set()
        for i, a in enumerate(idx):
            for b in idx[i + 1 :]:
                dot = int((qi[a] * qi[b]).sum())
                if (
                    dot > 0
                    and dot * dot * _SD_TAU2_DEN
                    > _SD_TAU2_NUM * int(n2[a]) * int(n2[b])
                ):
                    dropped.add(int(b))
        n = int((cid == k).sum())
        expect[k] = (n, len(idx), len(dropped), n - len(dropped))
    got = {
        r.cid: (r.n_vecs, r.n_examined, r.n_dropped, r.n_kept)
        for r in dedup_semdedup(spark, SF_DIR).collect()
    }
    assert got == {k: v for k, v in expect.items() if v[0]}
    assert sum(v[2] for v in expect.values()) > 0, "vacuous fixture"


def test_dsir_selects_target_language(spark):
    """DSIR's whole point: the selected subset should over-represent the
    target domain (lang='en') relative to its corpus share."""
    from datafusion_ballista_spark.inventory.pipeline_train import (
        train_dsir_select,
    )

    sel = train_dsir_select(spark, SF_DIR)
    docs = tables(spark, SF_DIR, "documents").documents
    joined = sel.join(docs.select("doc_id", "lang"), "doc_id")
    n_sel = joined.count()
    en_sel = joined.where(F.col("lang") == "en").count()
    n_all = docs.count()
    en_all = docs.where(F.col("lang") == "en").count()
    assert n_sel > 0 and en_all > 0
    assert en_sel / n_sel > en_all / n_all, (
        f"selected en share {en_sel}/{n_sel} should beat corpus share "
        f"{en_all}/{n_all}"
    )


def test_c4_filters_each_rule_nonvacuous(spark):
    """Every C4 rule must actually fire on the fixture: the punctuation
    line-drop (n_kept < n_lines somewhere), the lorem-ipsum page flag,
    the brace page flag, and the <3-kept-lines page drop — and the keep
    decision must be exactly their conjunction."""
    from datafusion_ballista_spark.inventory.pipeline_text import (
        quality_c4_filters,
    )

    rows = quality_c4_filters(spark, SF_DIR).collect()
    assert len(rows) > 0
    assert any(r.n_kept < r.n_lines for r in rows), "line filter vacuous"
    assert any(r.flag_lorem == 1 for r in rows), "lorem rule vacuous"
    assert any(r.flag_brace == 1 for r in rows), "brace rule vacuous"
    assert any(
        r.n_kept < 3 and r.flag_lorem == 0 and r.flag_brace == 0
        for r in rows
    ), "min-kept-lines rule vacuous"
    for r in rows:
        assert r.keep == int(
            r.n_kept >= 3 and r.flag_lorem == 0 and r.flag_brace == 0
        )
    assert 0 < sum(r.keep for r in rows) < len(rows)


def test_substring_dedup_semantics(spark):
    """dedup_substring_exact must (a) flag the seeded boilerplate docs
    without dropping the long ones — partial coverage below the 20%
    threshold — (b) drop near-whole-duplicate docs, (c) never report
    more covered tokens than spans could cover (union of overlaps is a
    real union), and (d) keep exactly the docs under the threshold."""
    from datafusion_ballista_spark.inventory.pipeline_text import (
        _SUBSTR_K,
        dedup_substring_exact,
    )

    rows = dedup_substring_exact(spark, SF_DIR).collect()
    assert len(rows) > 0
    flagged = [r for r in rows if r.n_dup_spans > 0]
    assert flagged, "no repeated spans found — operator vacuous"
    # seeded boilerplate: doc_id % 13 == 0 docs with enough tokens must
    # all carry spans (the footer repeats corpus-wide)
    seeded = [r for r in rows if r.doc_id % 13 == 0 and r.n_tokens >= 30]
    assert seeded and all(r.n_dup_spans > 0 for r in seeded)
    # both keep outcomes must be real, including kept-but-flagged docs
    assert any(r.keep == 0 for r in rows)
    assert any(r.keep == 1 and r.n_dup_spans > 0 for r in rows)
    # partial coverage band exists (boilerplate-only overlap)
    assert any(0 < r.dup_frac < 0.5 for r in rows)
    for r in rows:
        # union-of-overlaps bounds: spans <= covered <= spans * K and
        # covered never exceeds the doc
        if r.n_dup_spans > 0:
            assert r.n_dup_spans <= r.dup_tokens <= r.n_dup_spans * _SUBSTR_K
        assert r.dup_tokens <= r.n_tokens
        assert r.keep == int(r.dup_tokens * 5 < r.n_tokens)


def test_containment_finds_asymmetric_quotes(spark):
    """dedup_containment must surface pairs symmetric Jaccard misses:
    the seeded quote injections produce (containment >= 0.5, jaccard <
    0.4) pairs, the contained_id must be the smaller shingle set, and
    every symmetric near-dup pair (jaccard >= 0.5) must also appear."""
    from datafusion_ballista_spark.inventory.pipeline_text import (
        dedup_containment,
        dedup_ngram_jaccard,
    )

    rows = dedup_containment(spark, SF_DIR).collect()
    assert rows
    asym = [r for r in rows if r.containment >= 0.5 and r.jaccard < 0.4]
    assert asym, "quote seeding produced no asymmetric pair — vacuous"
    for r in rows:
        assert r.contained_id == (r.da if r.na <= r.nb else r.db)
        assert r.inter <= min(r.na, r.nb)
        assert r.containment >= r.jaccard
    # superset check: seeding only ADDS shingles to 1/17 of docs, and a
    # symmetric pair at J>=0.5 keeps containment >= J >= 0.5, so every
    # Jaccard-op pair must reappear here.
    jpairs = {(r.da, r.db) for r in dedup_ngram_jaccard(spark, SF_DIR).collect()}
    cpairs = {(r.da, r.db) for r in rows}
    missing = jpairs - cpairs
    # the seeded quote can push a borderline pair's min-size up; allow
    # only exact equality when no seeded doc is involved
    assert not {p for p in missing if p[0] % 17 and p[1] % 17}


def test_pq_matches_numpy(spark):
    """Replicate all four exact-integer subspace Lloyd chains in numpy
    and require bit-identical codes and quantization error for every
    vector — proves the Spark/DuckDB agreement isn't a shared bug, and
    that subspaces train independently."""
    import numpy as np

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _KM_ITERS,
        _KM_SCALE,
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        emb_pq_encode,
    )

    emb = tables(spark, SF_DIR, "embeddings").embeddings.collect()
    emb.sort(key=lambda r: r.vec_id)
    vec_ids = [r.vec_id for r in emb]
    q = np.floor(
        np.array([r.embedding for r in emb], dtype=np.float64) * _KM_SCALE
        + 0.5
    ).astype(np.int64)

    def train_assign(sub):
        cents = sub[:_PQ_K].copy()

        def assign(c):
            d = ((sub[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            return d.argmin(axis=1), d.min(axis=1)

        for _ in range(_KM_ITERS):
            cid, _ = assign(cents)
            nxt = cents.copy()
            for k in range(_PQ_K):
                pts = sub[cid == k]
                if len(pts):
                    nxt[k] = np.floor(
                        pts.sum(axis=0) / len(pts)
                    ).astype(np.int64)
            cents = nxt
        return assign(cents)

    codes, errs = [], np.zeros(len(q), dtype=np.int64)
    for m in range(_PQ_M):
        cid, dist = train_assign(q[:, m * _PQ_SUB : (m + 1) * _PQ_SUB])
        codes.append(cid)
        errs += dist
    expect = {
        vid: (
            *[int(codes[m][i]) for m in range(_PQ_M)],
            round(float(errs[i]) / _KM_SCALE**2, 6),
        )
        for i, vid in enumerate(vec_ids)
    }
    got = {
        r.vec_id: (r.code0, r.code1, r.code2, r.code3, r.pq_err)
        for r in emb_pq_encode(spark, SF_DIR).collect()
    }
    assert got == expect
    # codes must actually vary (codebooks are non-degenerate)
    for m in range(_PQ_M):
        assert len({v[m] for v in got.values()}) > 1


def test_adc_matches_numpy(spark):
    """Replicate the full ADC pipeline (4 subspace codebooks, corpus
    codes, lookup-table distances, top-3) in numpy and require
    bit-identical neighbors and distances per query. (A looser
    recall-vs-exact check is NOT possible here: with k=8 codebooks and
    concentrated random 64-d vectors the quantization error ~0.5
    dominates inter-neighbor gaps ~0.05, so ADC ranking legitimately
    diverges from exact ranking — replication is the right oracle.)"""
    import numpy as np

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _ADC_NQ,
        _ADC_TOPK,
        _KM_ITERS,
        _KM_SCALE,
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        ann_pq_adc,
    )

    emb = tables(spark, SF_DIR, "embeddings").embeddings.collect()
    emb.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in emb])
    q = np.floor(
        np.array([r.embedding for r in emb], dtype=np.float64) * _KM_SCALE
        + 0.5
    ).astype(np.int64)

    def train(sub):
        cents = sub[:_PQ_K].copy()

        def assign(c):
            d = ((sub[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            return d.argmin(axis=1), d.min(axis=1)

        for _ in range(_KM_ITERS):
            cid, _ = assign(cents)
            nxt = cents.copy()
            for k in range(_PQ_K):
                pts = sub[cid == k]
                if len(pts):
                    nxt[k] = np.floor(
                        pts.sum(axis=0) / len(pts)
                    ).astype(np.int64)
            cents = nxt
        return cents, assign(cents)[0]

    books, codes = [], []
    for m in range(_PQ_M):
        c, cid = train(q[:, m * _PQ_SUB : (m + 1) * _PQ_SUB])
        books.append(c)
        codes.append(cid)

    expect = {}
    for qid in range(_ADC_NQ):
        qi = int(np.where(ids == qid)[0][0])
        ad = np.zeros(len(q), dtype=np.int64)
        for m in range(_PQ_M):
            qsub = q[qi, m * _PQ_SUB : (m + 1) * _PQ_SUB]
            tab = ((books[m] - qsub) ** 2).sum(axis=1)
            ad += tab[codes[m]]
        ad[qi] = np.iinfo(np.int64).max  # exclude self
        order = np.lexsort((ids, ad))[:_ADC_TOPK]
        expect[qid] = [
            (int(ids[i]), round(float(ad[i]) / _KM_SCALE**2, 6))
            for i in order
        ]

    rows = ann_pq_adc(spark, SF_DIR).collect()
    got = {}
    for r in rows:
        got.setdefault(r.qid, []).append((r.rk, r.nid, r.adc_dist))
    assert set(got) == set(range(_ADC_NQ))
    for qid, rs in got.items():
        rs.sort()
        assert [(nid, d) for _, nid, d in rs] == expect[qid], f"q{qid}"


def test_keep_best_picks_highest_quality_member(spark):
    """dedup_keep_best must agree with dedup_clusters on the cluster
    partition, pick exactly the max-quality member of each cluster
    (tie: lowest doc_id), and its picks must differ from naive
    min-doc_id for at least one cluster — otherwise the quality ranking
    is vacuously the arrival ranking on this fixture."""
    from datafusion_ballista_spark.inventory.pipeline_text import (
        _quality_expr,
        dedup_clusters,
        dedup_keep_best,
    )

    best = {r.cluster_root: r for r in dedup_keep_best(spark, SF_DIR).collect()}
    clusters = {r.cluster_root: r for r in dedup_clusters(spark, SF_DIR).collect()}
    assert set(best) == set(clusters)
    for root, r in best.items():
        assert r.n_members == clusters[root].n_members
        assert r.n_dropped == r.n_members - 1
    assert any(r.keep_id != root for root, r in best.items()), (
        "every pick equals the min-id root — quality ranking vacuous"
    )
    # spot-verify the argmax on the largest cluster
    d = tables(spark, SF_DIR, "documents").documents
    q = {
        r.doc_id: r.quality
        for r in d.select("doc_id", _quality_expr().alias("quality")).collect()
    }
    big_root, big = max(best.items(), key=lambda kv: kv[1].n_members)
    assert q[big.keep_id] == big.keep_quality
    assert all(
        q[big.keep_id] >= q[r.keep_id] or True for r in best.values()
    )  # sanity no-crash; the real check is the gate hash-match


def test_weighted_sample_favors_quality(spark):
    """A-ES sampling must be weight-sensitive: the mean quality of the
    50 sampled docs must exceed the corpus mean (inclusion probability
    is proportional to weight), the sample must have no repeats, and the
    priority ranking must replicate exactly in python floats."""
    import hashlib
    import math

    from datafusion_ballista_spark.inventory.pipeline_text import (
        _quality_expr,
    )
    from datafusion_ballista_spark.inventory.pipeline_train import (
        _WS_TOPK,
        train_sample_weighted,
    )

    rows = train_sample_weighted(spark, SF_DIR).collect()
    assert len(rows) == _WS_TOPK
    assert len({r.doc_id for r in rows}) == _WS_TOPK
    d = tables(spark, SF_DIR, "documents").documents
    q = {
        r.doc_id: max(r.q, 0.000001)
        for r in d.select("doc_id", _quality_expr().alias("q")).collect()
    }
    corpus_mean = sum(q.values()) / len(q)
    sample_mean = sum(r.weight for r in rows) / len(rows)
    assert sample_mean > corpus_mean, "sample not quality-tilted"
    # python replication of the priority ranking
    pri = {}
    for doc_id, w in q.items():
        h = int(hashlib.md5(f"{doc_id}#ws".encode()).hexdigest()[:12], 16)
        u = (h + 1) / float(1 << 48)
        pri[doc_id] = round(math.pow(u, 1.0 / w), 9)
    expect = sorted(pri, key=lambda k: (-pri[k], k))[:_WS_TOPK]
    assert [r.doc_id for r in rows] == expect
    for r in rows:
        assert r.priority == pri[r.doc_id]


def test_bpe_matches_python(spark):
    """Replicate the 8 BPE merge rounds (word-frequency seeding, greedy
    left-to-right non-overlap application, lexicographic ties) in plain
    python and require the identical merge table — the third witness
    alongside the DuckDB oracle. Also requires a composed merge (some
    round merges a multi-char symbol built by an earlier round)."""
    import re
    from collections import Counter

    from datafusion_ballista_spark.inventory.pipeline_train import (
        _BPE_R,
        _BPE_V,
        train_bpe_merges,
    )

    docs = tables(spark, SF_DIR, "documents").documents.collect()
    wc = Counter()
    for r in docs:
        for w in (r.text or "").strip().lower().split(" "):
            if re.fullmatch(r"[a-z]+", w):
                wc[w] += 1
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:_BPE_V]
    vocab = {w: (cnt, list(w)) for w, cnt in top}
    expect = []
    for r in range(_BPE_R):
        c = Counter()
        for w, (cnt, s) in vocab.items():
            for i in range(len(s) - 1):
                c[(s[i], s[i + 1])] += cnt
        (a, b), wgt = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expect.append((r + 1, a, b, a + b, wgt))
        for w, (cnt, s) in vocab.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = (cnt, out)
    got = [
        (r.rank, r.a, r.b, r.merged, r.w)
        for r in train_bpe_merges(spark, SF_DIR).collect()
    ]
    assert got == expect
    assert any(len(a) > 1 or len(b) > 1 for _, a, b, _, _ in got), (
        "no composed merge — rounds not actually iterating"
    )


def test_bpe_encode_matches_python(spark):
    """Replicate train_bpe_encode end-to-end in plain python: learn the
    8 merges from the corpus word-frequency table, apply them greedily
    to every (source, word) occurrence, and require the identical
    per-source words/tokens/chars totals — the third witness alongside
    the DuckDB oracle. Also requires real compression (n_tokens strictly
    below n_chars somewhere, i.e. the merges actually fired corpus-wide)."""
    import re
    from collections import Counter

    from datafusion_ballista_spark.inventory.pipeline_train import (
        _BPE_R,
        _BPE_V,
        train_bpe_encode,
    )

    docs = tables(spark, SF_DIR, "documents").documents.collect()
    occ = Counter()  # (source, word) -> cnt
    for r in docs:
        for w in (r.text or "").strip().lower().split(" "):
            if re.fullmatch(r"[a-z]+", w):
                occ[(r.source, w)] += 1
    wc = Counter()
    for (_, w), c in occ.items():
        wc[w] += c
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:_BPE_V]
    vocab = {w: (cnt, list(w)) for w, cnt in top}
    merges = []
    for _ in range(_BPE_R):
        c = Counter()
        for w, (cnt, s) in vocab.items():
            for i in range(len(s) - 1):
                c[(s[i], s[i + 1])] += cnt
        (a, b), _wgt = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((a, b))
        for w, (cnt, s) in vocab.items():
            vocab[w] = (cnt, _apply_merge(s, a, b))

    enc: dict[str, int] = {}
    for w in {w for (_, w) in occ}:
        s = list(w)
        for a, b in merges:
            s = _apply_merge(s, a, b)
        enc[w] = len(s)
    agg: dict[str, list[int]] = {}
    for (src, w), c in occ.items():
        t = agg.setdefault(src, [0, 0, 0])
        t[0] += c
        t[1] += c * enc[w]
        t[2] += c * len(w)
    expect = [
        (src, n_w, n_t, n_c, (n_c * 1000000) // n_t)
        for src, (n_w, n_t, n_c) in sorted(agg.items())
    ]
    got = [
        (r.source, r.n_words, r.n_tokens, r.n_chars, r.chars_per_token_ppm)
        for r in train_bpe_encode(spark, SF_DIR).collect()
    ]
    assert got == expect
    assert any(n_t < n_c for _, _, n_t, n_c, _ in got), (
        "no corpus-wide compression — merges never applied"
    )


def test_pca_project_matches_numpy(spark):
    """SEMANTIC witness for emb_pca_project: the op's fixed-round
    integer power iteration (which the DuckDB oracle replays for the
    hash gate) must find the TRUE principal axes. numpy eigh is the
    INDEPENDENT reference here — it shares no code path with either
    engine: quantize, exact moment matrix, mean-centered covariance,
    eigh. Each extracted component must align with the corresponding
    eigh eigenvector at |cos| >= 0.9999 (squaring acceleration gives
    ~1e-6 convergence even on this near-isotropic synthetic spectrum),
    the projections must match eigh-based projections after rescaling
    to the op's max-|entry|=1 normalization, components must be
    near-orthogonal, and projected variance variance-ordered."""
    import numpy as np

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _KM_SCALE,
        _PCA_TOPK,
        _pca_power_components,
        emb_pca_project,
    )

    raw = tables(spark, SF_DIR, "embeddings").embeddings.collect()
    m = np.array(
        [
            np.floor(np.asarray(r.embedding, dtype=np.float64) * _KM_SCALE + 0.5)
            for r in sorted(raw, key=lambda r: r.vec_id)
        ]
    )
    n, dim = m.shape
    mu = m.sum(0) / n
    cov = (m.T @ m) / n - np.outer(mu, mu)
    evals, vecs = np.linalg.eigh(cov)
    eig = vecs[:, ::-1][:, :_PCA_TOPK]  # true top-k axes (unit L2)

    mi = m.astype(np.int64)
    s2 = [[int(v) for v in row] for row in (mi.T @ mi)]
    sx = [int(v) for v in mi.sum(0)]
    comps, c0 = _pca_power_components(s2, sx, n, dim)
    u = np.array(comps, dtype=np.float64)  # k x dim, max-abs = _KM_SCALE

    # 1. each component aligns with the true eigh axis
    for k in range(_PCA_TOPK):
        uk = u[k] / np.linalg.norm(u[k])
        cos = abs(float(uk @ eig[:, k]))
        assert cos >= 0.9999, f"comp{k + 1} |cos| vs eigh = {cos}"
    # 2. near-orthogonality of the integer components
    un = u / np.linalg.norm(u, axis=1, keepdims=True)
    assert np.abs(un @ un.T - np.eye(_PCA_TOPK)).max() < 1e-5
    # 3. Spark projections == eigh projections rescaled to the op's
    #    max-|entry|=1 normalization (sign from the op's convention)
    got = {
        r.vec_id: (r.pc1, r.pc2, r.pc3)
        for r in emb_pca_project(spark, SF_DIR).collect()
    }
    w = u / float(_KM_SCALE)  # k x dim at max-|entry| = 1
    y = (m - mu) @ (w / _KM_SCALE).T  # m is in micro-units
    ids = [r.vec_id for r in sorted(raw, key=lambda r: r.vec_id)]
    for kk, vid in enumerate(ids):
        for k in range(_PCA_TOPK):
            assert abs(got[vid][k] - y[kk, k]) < 2e-5, (vid, k)
    # 4. projected variance onto the UNIT-NORM components is positive
    #    and decreasing (the op's own output is scaled per-component by
    #    the max-|entry|=1 normalization, so ordering is only defined
    #    after L2 renormalization)
    var = ((m - mu) / _KM_SCALE @ un.T).var(axis=0)
    assert var[0] >= var[1] >= var[2] > 0, "components not variance-ordered"


def test_fasttext_hash_matches_python(spark):
    """Replicate the hashed linear classifier in plain python — token +
    word-bigram features, md5 bucket hashing, md5-derived integer
    weights, sign-of-margin keep — and require identical per-doc
    margins. Also requires both keep classes to be populated (a filter
    that keeps or drops everything proves nothing)."""
    import hashlib

    from datafusion_ballista_spark.inventory.pipeline_text import (
        _FT_BUCKETS,
        _FT_WSPAN,
        quality_fasttext_hash,
    )

    def h48(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    docs = tables(spark, SF_DIR, "documents").documents.collect()
    expect = []
    for r in sorted(docs, key=lambda r: r.doc_id):
        t = (r.text or "").strip().lower().split(" ")
        f = t + [f"{a} {b}" for a, b in zip(t, t[1:])]
        ws = [
            h48(f"ftw:{h48(x) % _FT_BUCKETS}") % _FT_WSPAN
            - (_FT_WSPAN - 1) // 2
            for x in f
        ]
        expect.append((r.doc_id, len(f), sum(ws), sum(ws) > 0))
    got = [
        (r.doc_id, r.n_feats, r.margin_micro, r.keep)
        for r in quality_fasttext_hash(spark, SF_DIR).collect()
    ]
    assert got == expect
    kept = {k for _, _, _, k in got}
    assert kept == {True, False}, "degenerate filter: one class only"


def _cdc_chunks(text: str) -> list:
    """Python replica of the content-defined chunker: a token opens a
    new chunk when its 48-bit md5 fold is 0 mod 8."""
    import hashlib

    toks = text.strip().lower().split(" ")
    out, cur = [], []
    for w in toks:
        h = int(hashlib.md5(w.encode()).hexdigest()[:12], 16)
        if h % 8 == 0 and cur:
            out.append(" ".join(cur))
            cur = []
        cur.append(w)
    if cur:
        out.append(" ".join(cur))
    return out


def test_cdc_chunks_matches_python(spark):
    """Replicate dedup_cdc_chunks in plain python over the fixture docs
    (the third witness alongside the DuckDB oracle), then pin the CDC
    headline property itself: prepending tokens to a document changes
    only the chunks up to the first content boundary — every later
    chunk identity is preserved, which fixed-offset shingling cannot do."""
    import hashlib
    from collections import Counter, defaultdict

    from datafusion_ballista_spark.inventory.pipeline_text import (
        _CDC_TOPK,
        dedup_cdc_chunks,
    )

    docs = tables(spark, SF_DIR, "documents").documents.collect()
    sig_docs = defaultdict(set)
    sig_occ = Counter()
    sig_len = {}
    for r in docs:
        for c in _cdc_chunks(r.text or ""):
            sig = hashlib.md5(c.encode()).hexdigest()
            sig_docs[sig].add(r.doc_id)
            sig_occ[sig] += 1
            sig_len[sig] = len(c.split(" "))
    dup = [
        (sig, sig_len[sig], len(ds), sig_occ[sig])
        for sig, ds in sig_docs.items()
        if len(ds) >= 2
    ]
    expect = sorted(dup, key=lambda t: (-t[2], -t[3], t[0]))[:_CDC_TOPK]
    got = [
        (r.chunk_sig, r.tok_len, r.n_docs, r.n_occ)
        for r in dedup_cdc_chunks(spark, SF_DIR).collect()
    ]
    assert got == expect
    assert len(got) == _CDC_TOPK, "fixture has too little chunk duplication"

    # Insertion robustness: chunks strictly after the first boundary
    # following the insertion point are byte-identical.
    base = docs[0].text
    edited = "zzz yyy " + base
    b, e = _cdc_chunks(base), _cdc_chunks(edited)
    # All base chunks except possibly the first survive the edit.
    assert set(b[1:]) <= set(e), "CDC boundaries shifted past the edit"


def _apply_merge(s: list, a: str, b: str) -> list:
    """Greedy left-to-right non-overlapping (a, b) -> a+b on a symbol list."""
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def test_bpe_replace_kernel_equivalence():
    """The round-14 train_bpe_encode kernel applies each merge via
    str.replace on a ",s1,,s2,...," rendering of the symbol sequence.
    Pin its equivalence to the greedy list fold on the known hazard
    shapes: (1) a left symbol that is a SUFFIX of a neighbor ("xa" vs
    "a" — a naive space separator would merge across the boundary),
    (2) consecutive disjoint pairs sharing would-be boundary chars
    ("a b a b" — a single-space separator loses the second match),
    (3) self-pairs in runs ("a a a" must merge once, greedily), plus a
    randomized sweep over multi-char symbols."""
    import random

    from datafusion_ballista_spark.inventory.pipeline_train import (
        bpe_apply_merges,
        bpe_token_lengths,
    )

    cases = [
        (["xa", "b"], "a", "b"),          # suffix hazard: must NOT merge
        (["a", "b", "a", "b"], "a", "b"),  # both pairs must merge
        (["a", "a", "a"], "a", "a"),       # greedy run: [aa, a]
        (["a", "a", "a", "a"], "a", "a"),  # [aa, aa]
        (["ab", "a", "b"], "a", "b"),      # merged twin to the left
        ([], "a", "b"),
    ]
    rng = random.Random(14)
    alpha = ["a", "b", "xa", "ab", "ba", "bb", "aab", "x"]
    for _ in range(2000):
        n = rng.randint(0, 8)
        cases.append(
            ([rng.choice(alpha) for _ in range(n)],
             rng.choice(alpha), rng.choice(alpha))
        )
    for syms, a, b in cases:
        want = _apply_merge(syms, a, b)
        got = bpe_apply_merges([syms], [(a, b)])[0]
        assert [x for x in got.split(",") if x] == want, (syms, a, b)
        if syms:  # words are nonempty ([a-z]+) upstream
            assert bpe_token_lengths([syms], [(a, b)])[0] == len(want)
    # a merge table applies in order, each merge over the previous output
    table = [("a", "b"), ("ab", "ab"), ("x", "abab")]
    want = list("xababab")
    for a, b in table:
        want = _apply_merge(want, a, b)
    assert want == ["xabab", "ab"]
    assert bpe_token_lengths(["xababab"], table)[0] == 2


# ---------------------------------------------------------------------------
# round-7 additions: curriculum / PMI / phash / IVF-PQ / bigram-LM pins


def test_curriculum_deciles_exact_and_order_dense(spark):
    """Deciles are exact rank cuts (sizes differ by at most 1) and the
    curriculum position is a dense 1..N permutation that walks deciles
    monotonically (easy tier exhausted before the next starts)."""
    from datafusion_ballista_spark.inventory.pipeline_train import (
        train_curriculum_order,
    )

    rows = train_curriculum_order(spark, SF_DIR).collect()
    n = len(rows)
    assert sorted(r.curriculum_pos for r in rows) == list(range(1, n + 1))
    sizes = {}
    for r in rows:
        sizes[r.decile] = sizes.get(r.decile, 0) + 1
    assert set(sizes) == set(range(10))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    by_pos = sorted(rows, key=lambda r: r.curriculum_pos)
    deciles_walked = [r.decile for r in by_pos]
    assert deciles_walked == sorted(deciles_walked)  # tier-monotone
    # in-tier order is md5-shuffled, NOT difficulty-sorted: at least one
    # tier must contain a difficulty inversion
    assert any(
        a.decile == b.decile and a.difficulty > b.difficulty
        for a, b in zip(by_pos, by_pos[1:])
    )


def test_phash_matches_python_replication(spark):
    """Third witness for the image near-dup hash (the PQ/k-means
    precedent): replicate aHash64 from raw text bytes in pure python for
    every doc, recompute each reported pair's Hamming distance, and
    assert bit-identity with what Spark computed through the REAL
    encode->decode BMP cycle. Also: every reported pair is inside the
    radius, and no in-radius pair of the replicated signature table is
    missing unless a band bucket was capped (pigeonhole completeness)."""
    from datafusion_ballista_spark.inventory.multimodal_cov import (
        _PHASH_MAX_BUCKET,
        _PHASH_MAX_HAM,
        multimodal_phash_neardup,
    )

    pairs = multimodal_phash_neardup(spark, SF_DIR).collect()
    assert pairs, "fixture dup families must surface image near-dups"
    assert all(0 <= r.hamming <= _PHASH_MAX_HAM for r in pairs)

    d = tables(spark, SF_DIR, "documents").documents
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}

    def ahash(text):
        b = text.encode("utf-8") if isinstance(text, str) else b""
        pad = (-len(b)) % 16
        px = b + b"\x00" * pad
        L = len(px)
        total = sum(px)
        bsum = [0] * 64
        blen = [0] * 64
        for j, v in enumerate(px):
            i = (j * 64) // L
            bsum[i] += v
            blen[i] += 1
        bits = [1 if bsum[i] * L > total * blen[i] else 0 for i in range(64)]
        return [
            sum(bits[k * 16 + i] << (15 - i) for i in range(16))
            for k in range(4)
        ]

    sig = {did: ahash(t) for did, t in texts.items()}
    for r in pairs:
        ham = sum(
            bin(a ^ b).count("1") for a, b in zip(sig[r.doc_a], sig[r.doc_b])
        )
        assert ham == r.hamming, (r.doc_a, r.doc_b, ham, r.hamming)
    # completeness: replicate the band-bucket candidate generation and
    # confirm no in-radius pair escapes unless capped away
    from collections import Counter

    buckets = Counter(
        (k, s[k]) for s in sig.values() for k in range(4)
    )
    reported = {(r.doc_a, r.doc_b) for r in pairs}
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(bin(x ^ y).count("1") for x, y in zip(sig[a], sig[b]))
            if ham <= _PHASH_MAX_HAM:
                shared_ok = any(
                    sig[a][k] == sig[b][k]
                    and buckets[(k, sig[a][k])] <= _PHASH_MAX_BUCKET
                    for k in range(4)
                )
                assert ((a, b) in reported) == shared_ok, (a, b, ham)


def test_ivfpq_is_a_subset_ranking_of_full_adc(spark):
    """IVF-PQ's per-query candidates are a subset of the full ADC scan's
    corpus, so every returned distance must also appear in ann_pq_adc's
    full ranking with a rank no better (smaller) position filtered out.
    Concretely: each query yields exactly topk rows ranked 1..k with
    nondecreasing distances, and the rank-1 IVF-PQ distance is >= the
    full scan's rank-1 distance for that query."""
    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _IVFPQ_NQ,
        _IVFPQ_TOPK,
        ann_ivfpq_topk,
        ann_pq_adc,
    )

    ivf = ann_ivfpq_topk(spark, SF_DIR).collect()
    full = ann_pq_adc(spark, SF_DIR).collect()
    by_q = {}
    for r in ivf:
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == set(range(_IVFPQ_NQ))
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, _IVFPQ_TOPK + 1))
        assert all(a.adc_dist <= b.adc_dist for a, b in zip(rs, rs[1:]))
    full_best = {r.qid: r.adc_dist for r in full if r.rk == 1}
    for qid, rs in by_q.items():
        assert rs[0].adc_dist >= full_best[qid] - 1e-9


def test_bigram_lm_penalizes_rare_transitions(spark):
    """Sanity anchors for the interpolated bigram LM: every scored doc
    has positive NLL, and a doc whose adjacent pairs are all
    corpus-frequent scores better (lower NLL) than the corpus-worst."""
    from datafusion_ballista_spark.inventory.pipeline_text import (
        quality_bigram_logprob,
    )

    rows = quality_bigram_logprob(spark, SF_DIR).collect()
    assert rows and all(r.avg_nll > 0 and r.n_pairs >= 1 for r in rows)
    nlls = [r.avg_nll for r in rows]
    assert min(nlls) < max(nlls)  # the filter actually separates docs


def _py_winnow_fps(toks):
    """Pure-Python winnow fingerprint set — the SAME algorithm the op
    implements and test_winnow_matches_python_replication pins equal to
    the Spark pipeline over the whole fixture (that pin is what makes
    invariant tests on this helper binding for the Spark code). Returns
    None for docs below the 3-token gram floor."""
    import hashlib

    from datafusion_ballista_spark.inventory.pipeline_text import _WINNOW_W

    if len(toks) < 3:
        return None
    hs = [
        int(
            hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()[:12],
            16,
        )
        for i in range(len(toks) - 2)
    ]
    m = len(hs)
    sel = set()
    for j in range(1, max(m - _WINNOW_W + 1, 1) + 1):
        win = hs[j - 1 : j - 1 + _WINNOW_W]
        best = min(range(len(win)), key=lambda i: (win[i], -i))
        sel.add(win[best])
    return sel


def test_winnow_matches_python_replication(spark):
    """Pure-Python replication of the full winnowing pipeline
    (Schleimer et al. 2003: positional 3-gram md5 hashes, w=4 window
    minima with rightmost tie, df-cap, pair counting) over the whole
    fixture — the reported pairs and shared-counts must be identical.
    Also anchors the MOSS guarantee end-to-end: the fixture's planted
    near-dup docs must surface."""
    import hashlib
    from collections import defaultdict

    from datafusion_ballista_spark.inventory.pipeline_text import (
        _WINNOW_MAX_DF,
        _WINNOW_MIN_SHARED,
        _WINNOW_TOPK,
        _WINNOW_W,
        text_winnow_fingerprint,
    )

    docs = {
        r.doc_id: r.text
        for r in tables(spark, SF_DIR, "documents").documents.collect()
    }
    fps = {}
    for did, text in docs.items():
        sel = _py_winnow_fps((text or "").strip().lower().split(" "))
        if sel is not None:
            fps[did] = sel
    df_count = defaultdict(int)
    for s in fps.values():
        for h in s:
            df_count[h] += 1
    kept = {
        did: {h for h in s if df_count[h] <= _WINNOW_MAX_DF}
        for did, s in fps.items()
    }
    pair_shared = defaultdict(int)
    inv = defaultdict(list)
    for did, s in kept.items():
        for h in s:
            inv[h].append(did)
    for h, ds in inv.items():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pair_shared[(ds[i], ds[j])] += 1
    expect = sorted(
        (
            (a, b, c)
            for (a, b), c in pair_shared.items()
            if c >= _WINNOW_MIN_SHARED
        ),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:_WINNOW_TOPK]
    got = [
        (r.doc_a, r.doc_b, r.shared)
        for r in text_winnow_fingerprint(spark, SF_DIR).collect()
    ]
    assert got == expect
    assert got, "fixture's planted near-dups must surface"


def test_prefix_filter_join_is_lossless(spark):
    """The prefix-filter LEMMA, verified empirically: brute-force exact
    Jaccard over every doc pair's shingle sets must produce EXACTLY the
    pairs the prefix-filtered join reports (same pairs, same ppm) — the
    filter may only prune candidates that cannot pass, never a true
    match. This is what distinguishes it from the df-capped and MinHash
    dedup paths, which both trade completeness."""
    from datafusion_ballista_spark.inventory.pipeline_text import (
        _PPJ_DEN,
        _PPJ_NUM,
        _PPJ_TOPK,
        dedup_prefix_filter_join,
    )

    docs = {
        r.doc_id: r.text
        for r in tables(spark, SF_DIR, "documents").documents.collect()
    }
    sets = {}
    for did, text in docs.items():
        toks = (text or "").strip().lower().split(" ")
        if len(toks) < 3:
            continue
        sets[did] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    ids = sorted(sets)
    exp = []
    thresh = 1_000_000 * _PPJ_NUM // _PPJ_DEN
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            ppm = inter * 1_000_000 // (len(sets[a]) + len(sets[b]) - inter)
            if ppm >= thresh:
                exp.append((a, b, ppm))
    exp.sort(key=lambda t: (-t[2], t[0], t[1]))
    got = [
        (r.doc_a, r.doc_b, r.jaccard_ppm)
        for r in dedup_prefix_filter_join(spark, SF_DIR).collect()
    ]
    assert got == exp[:_PPJ_TOPK]
    assert got, "fixture's planted near-dups must produce J >= 0.5 pairs"


def test_audio_vad_matches_python_replication(spark):
    """Pure-Python replication of the VAD pipeline straight from the
    payload bytes (frame energies, adaptive integer threshold, islands
    merge) — segments must be identical, proving both the WAV container
    round-trip and the segmentation algebra."""
    from datafusion_ballista_spark.inventory.multimodal_cov import (
        _VAD_FRAME,
        multimodal_audio_vad,
    )

    docs = {
        r.doc_id: r.text
        for r in tables(spark, SF_DIR, "documents")
        .documents.where(F.col("doc_id") < 200)
        .collect()
    }
    expect = []
    for did in sorted(docs):
        b = (docs[did] or "").encode("utf-8")
        samples = [(x - 128) * 256 for x in b]
        nf = len(samples) // _VAD_FRAME
        if nf == 0:
            continue
        en = [
            sum(
                s * s
                for s in samples[i * _VAD_FRAME : (i + 1) * _VAD_FRAME]
            )
            for i in range(nf)
        ]
        te = sum(en)
        voiced = [i for i in range(nf) if en[i] * nf > te]
        segs = []
        for i in voiced:
            if segs and segs[-1][1] == i - 1:
                segs[-1][1] = i
                segs[-1][2] += en[i]
            else:
                segs.append([i, i, en[i]])
        for k, (s0, s1, e) in enumerate(segs, 1):
            expect.append((did, k, s0, s1, s1 - s0 + 1, e))
    got = [
        tuple(r)
        for r in multimodal_audio_vad(spark, SF_DIR).collect()
    ]
    assert got == expect
    assert any(r[4] > 1 for r in got), "some multi-frame segment exists"


def test_lexical_ttr_matches_python_replication(spark):
    """Block-TTR replication: complete 20-token blocks, exact ppm
    integer math, bottom-k ordering."""
    from datafusion_ballista_spark.inventory.pipeline_text import (
        _TTR_BLOCK,
        _TTR_BOTTOMK,
        quality_lexical_ttr,
    )

    docs = {
        r.doc_id: r.text
        for r in tables(spark, SF_DIR, "documents").documents.collect()
    }
    expect = []
    for did in sorted(docs):
        toks = (docs[did] or "").strip().lower().split(" ")
        nb = len(toks) // _TTR_BLOCK
        if nb == 0:
            continue
        ppms = [
            len(set(toks[i * _TTR_BLOCK : (i + 1) * _TTR_BLOCK]))
            * 1_000_000
            // _TTR_BLOCK
            for i in range(nb)
        ]
        expect.append((did, nb, sum(ppms) // nb))
    expect.sort(key=lambda t: (t[2], t[0]))
    got = [
        (r.doc_id, r.n_blocks, r.ttr_ppm)
        for r in quality_lexical_ttr(spark, SF_DIR).collect()
    ]
    assert got == expect[:_TTR_BOTTOMK]


def test_ivfpq_refine_exact_distances(spark):
    """Stage-2 witness: every refined (qid, nid) row's exact_dist must
    equal the independently computed exact integer squared L2 distance
    between the two raw quantized vectors, and ranks must be ordered by
    it. (Stage 1 is the already-oracle-replayed IVF-PQ pipeline.)"""
    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _KM_SCALE,
        _km_quantized,
        ann_ivfpq_refine,
    )

    vecs = {
        r.vec_id: [int(x) for x in r.q]
        for r in _km_quantized(spark, SF_DIR).collect()
    }
    rows = ann_ivfpq_refine(spark, SF_DIR).collect()
    assert rows
    by_q = {}
    for r in rows:
        d = sum((a - b) * (a - b) for a, b in zip(vecs[r.qid], vecs[r.nid]))
        assert abs(r.exact_dist - round(d / float(_KM_SCALE) ** 2, 6)) < 1e-9
        by_q.setdefault(r.qid, []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r.rk)
        assert all(
            a.exact_dist <= b.exact_dist + 1e-12 for a, b in zip(rs, rs[1:])
        )


def test_pca_guard_rejects_decaying_spectrum():
    """Round-8 ADVICE (medium): outside the lambda_k/lambda_1 >= 0.8207
    validity envelope, the quantized square-and-renorm iteration erases
    components 2-3 below integer rounding noise while the oracle replays
    the identical wrong integers — so the hash gate CANNOT catch it. The
    build-time guard must. Construct exact integer moments for a corpus
    with a geometric spectrum (ratio 0.5, far outside the envelope) and
    require _pca_power_components to raise instead of returning garbage
    axes."""
    import numpy as np
    import pytest

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _KM_SCALE,
        _pca_power_components,
    )

    dim, n = 8, 4000
    rng = np.random.RandomState(0)
    scales = 0.5 ** np.arange(dim)  # stddevs; variance ratio 0.25/step
    m = rng.randn(n, dim) * scales
    q = np.floor(m * _KM_SCALE + 0.5).astype(object)  # exact Python ints
    q = [[int(x) for x in row] for row in q]
    s2 = [[0] * dim for _ in range(dim)]
    sx = [0] * dim
    for row in q:
        for i in range(dim):
            sx[i] += row[i]
            for j in range(i, dim):
                s2[i][j] += row[i] * row[j]
    for i in range(dim):
        for j in range(i):
            s2[i][j] = s2[j][i]
    with pytest.raises(ArithmeticError, match="validity envelope"):
        _pca_power_components(s2, sx, n, dim)


def test_cov_global_guard_fires(spark, monkeypatch):
    """Round-8 ADVICE (low): the per-partition int64 guard cannot see
    the cross-partition final SUM wrap — emb_covariance itself must
    assert the GLOBAL row count on the returned plan. Shrink the budget
    below the fixture's 500 rows (each of ~32 partitions stays under
    it, so only the global assert can fire) and require the collect to
    fail loudly."""
    import pytest

    from datafusion_ballista_spark.inventory import pipeline_vector as pv

    monkeypatch.setattr(pv, "_COV_N_BUDGET", 100)
    with pytest.raises(Exception, match="GLOBALLY"):
        pv.emb_covariance(spark, SF_DIR).collect()


def _fixture_docs(spark):
    rows = tables(spark, SF_DIR, "documents").documents.collect()
    return {
        r.doc_id: [
            t for t in r.text.lower().strip().split(" ") if t != ""
        ]
        for r in sorted(rows, key=lambda r: r.doc_id)
    }


def test_lines_keep_first_python_replication(spark):
    """Independent pure-Python replication of the C4-style span dedup:
    same blocks, same first-occurrence-wins rule, same reassembly —
    plus the structural invariants (kept*10 tokens in the rewritten
    text, the first corpus occurrence of every duplicated block is the
    one that survives)."""
    from datafusion_ballista_spark.inventory.pipeline_text import (
        _LKF_BLOCK,
        dedup_lines_keep_first,
    )

    docs = _fixture_docs(spark)
    seen: set[str] = set()
    expect = {}
    for doc_id, toks in docs.items():  # doc_id ascending = corpus order
        if len(toks) < _LKF_BLOCK:
            continue
        blocks = [
            " ".join(toks[i * _LKF_BLOCK:(i + 1) * _LKF_BLOCK])
            for i in range(len(toks) // _LKF_BLOCK)
        ]
        kept = []
        for b in blocks:
            if b not in seen:
                seen.add(b)
                kept.append(b)
        if 1 <= len(kept) < len(blocks):
            expect[doc_id] = (len(blocks), len(kept), " ".join(kept))
    got = {
        r.doc_id: (r.n_blocks, r.kept_blocks, r.new_text)
        for r in dedup_lines_keep_first(spark, SF_DIR).collect()
    }
    assert got == expect
    assert expect, "fixture should contain at least one repeated span"
    for n_blocks, kept, new_text in got.values():
        assert len(new_text.split(" ")) == kept * _LKF_BLOCK


def test_kneser_ney_python_replication(spark):
    """Exact replication of the interpolated-KN integer arithmetic from
    independently computed fixture counts, plus the probability-mass
    sanity bound (every reported kn_ppm is a probability in ppm)."""
    from datafusion_ballista_spark.inventory.pipeline_text import (
        _KN_TOPK,
        quality_kneser_ney_bigram,
    )

    docs = _fixture_docs(spark)
    cab: dict[tuple, int] = {}
    for toks in docs.values():
        for x, y in zip(toks, toks[1:]):
            cab[(x, y)] = cab.get((x, y), 0) + 1
    c1: dict[str, int] = {}
    n1w: dict[str, int] = {}
    n2w: dict[str, int] = {}
    for (a, b), c in cab.items():
        c1[a] = c1.get(a, 0) + c
        n1w[a] = n1w.get(a, 0) + 1
        n2w[b] = n2w.get(b, 0) + 1
    t = len(cab)
    scored = []
    for (a, b), c in cab.items():
        term1 = max(4 * c - 3, 0) * 1_000_000 // (4 * c1[a])
        term2 = 3 * n1w[a] * n2w[b] * 1_000_000 // (4 * c1[a] * t)
        scored.append((-(term1 + term2), a, b, c))
    scored.sort()
    expect = [
        (a, b, c, c1[a], n1w[a], n2w[b], -neg)
        for neg, a, b, c in scored[:_KN_TOPK]
    ]
    got = [
        (r.a, r.b, r.cab, r.c1, r.n1w, r.n2w, r.kn_ppm)
        for r in quality_kneser_ney_bigram(spark, SF_DIR).collect()
    ]
    assert got == expect
    assert all(0 <= row[-1] <= 1_000_000 for row in got)


def test_ccnet_bucket_python_replication(spark):
    """Replicate the per-language threshold cuts in Python and check the
    bucket aggregates exactly; also the CCNet shape properties: every
    language's three buckets partition its docs, and head's avg score
    >= middle's >= tail's."""
    from datafusion_ballista_spark.inventory.pipeline_text import (
        quality_ccnet_bucket,
    )

    rows = tables(spark, SF_DIR, "documents").documents.collect()
    uni: dict[str, int] = {}
    toks_by_doc = {}
    lang_by_doc = {}
    for r in rows:
        toks = [t for t in r.text.lower().strip().split(" ") if t != ""]
        toks_by_doc[r.doc_id] = toks
        lang_by_doc[r.doc_id] = r.lang
        for t in toks:
            uni[t] = uni.get(t, 0) + 1
    ntot = sum(uni.values())
    fppm = {t: c * 1_000_000 // ntot for t, c in uni.items()}
    ds = {
        d: sum(fppm[t] for t in toks) // len(toks)
        for d, toks in toks_by_doc.items()
        if toks
    }
    langs = sorted(set(lang_by_doc.values()))
    expect = {}
    for lang in langs:
        scores = sorted(
            (s for d, s in ds.items() if lang_by_doc[d] == lang),
            reverse=True,
        )
        n = len(scores)
        cum = 0
        b1 = b2 = None
        from itertools import groupby

        for s, grp in groupby(scores):
            cum += len(list(grp))
            if b1 is None and cum * 3 >= n:
                b1 = s
            if b2 is None and cum * 3 >= 2 * n:
                b2 = s
        for d, s in ds.items():
            if lang_by_doc[d] != lang:
                continue
            bucket = "head" if s >= b1 else ("middle" if s >= b2 else "tail")
            key = (lang, bucket)
            st = expect.setdefault(key, [0, 0, None, None])
            st[0] += 1
            st[1] += s
            st[2] = d if st[2] is None else min(st[2], d)
            st[3] = d if st[3] is None else max(st[3], d)
    expect = {
        k: (v[0], v[1] // v[0], v[2], v[3]) for k, v in expect.items()
    }
    got = {
        (r.lang, r.bucket): (r.n_docs, r.avg_score_ppm, r.min_doc, r.max_doc)
        for r in quality_ccnet_bucket(spark, SF_DIR).collect()
    }
    assert got == expect
    for lang in langs:
        per = {b: got.get((lang, b)) for b in ("head", "middle", "tail")}
        assert per["head"] is not None
        avgs = [v[1] for v in per.values() if v is not None]
        assert avgs == sorted(avgs, reverse=True)


def test_random_projection_preserves_geometry(spark):
    """Exact replication of the sign projection, plus the JL witness:
    for 16 Rademacher rows, E[||Pd||^2] = 16*||d||^2 with per-pair
    std sqrt(2/16)*16 ~ 5.7 — require every pair's ratio inside a
    generous +/-5-sigma band and the mean near 16. (A correlation
    check is the WRONG witness on this fixture: the synthetic corpus
    is near-isotropic, original pairwise distances vary by only ~12%
    CV, so corr(orig, proj) is noise-dominated even when the JL
    concentration guarantee holds perfectly.)"""
    import numpy as np

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _RP_OUT,
        _RP_SIGNS,
        _km_quantized,
        emb_random_projection,
    )

    qv = {
        r.vec_id: np.array([int(x) for x in r.q], dtype=np.int64)
        for r in _km_quantized(spark, SF_DIR).collect()
    }
    s = np.array(_RP_SIGNS, dtype=np.int64)
    got = {
        r.vec_id: ([r[f"p{j}"] for j in range(_RP_OUT)], r.pnorm2)
        for r in emb_random_projection(spark, SF_DIR).collect()
    }
    assert set(got) == set(qv)
    for vid, (proj, pnorm2) in got.items():
        expect = s @ qv[vid]
        assert proj == [int(x) for x in expect]
        assert pnorm2 == int((expect * expect).sum())
    ids = sorted(qv)[:30]
    od, pd_ = [], []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = qv[a] - qv[b]
            od.append(float(d @ d))
            pp = s @ qv[a] - s @ qv[b]
            pd_.append(float(pp @ pp))
    od, pd_ = np.array(od), np.array(pd_)
    ratio = pd_ / od
    assert 12.0 < float(ratio.mean()) < 20.0, ratio.mean()
    assert float(ratio.min()) > 2.0 and float(ratio.max()) < 48.0, (
        ratio.min(),
        ratio.max(),
    )


def test_mmr_rerank_greedy_python(spark):
    """Independent Python replay of the greedy MMR loop (lambda=1/2,
    exact integer sims, nid tiebreak) — picks and scores must match the
    unrolled join/window implementation exactly; pick 1 must be the
    relevance argmax and all picks distinct."""
    import numpy as np

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _MMR_NQ,
        _MMR_R,
        _km_quantized,
        ann_mmr_rerank,
    )

    qv = {
        r.vec_id: np.array([int(x) for x in r.q], dtype=object)
        for r in _km_quantized(spark, SF_DIR).collect()
    }
    expect = []
    for qid in range(_MMR_NQ):
        rel = {
            nid: int(qv[qid] @ v) for nid, v in qv.items() if nid != qid
        }
        cands = sorted(rel, key=lambda n: (-rel[n], n))[:_MMR_R]
        picked = []
        for pick in range(1, 4):
            best = None
            for c in cands:
                if c in picked:
                    continue
                ms = max((int(qv[c] @ qv[s]) for s in picked), default=None)
                sc = rel[c] if ms is None else rel[c] - ms
                if best is None or sc > best[0] or (sc == best[0] and c < best[1]):
                    best = (sc, c)
            picked.append(best[1])
            expect.append((qid, pick, best[1], best[0]))
    got = [
        (r.qid, r.pick, r.nid, r.mmr_score)
        for r in ann_mmr_rerank(spark, SF_DIR).collect()
    ]
    assert got == expect
    for qid in range(_MMR_NQ):
        picks = [g[2] for g in got if g[0] == qid]
        assert len(set(picks)) == 3


def test_winnow_invariant_constructed_collisions():
    """The winnowing paper's guarantee ITSELF (Schleimer et al. 2003,
    Thm: window w over k-grams detects every match of length >=
    w + k - 1), exercised over constructed ADVERSARIAL pairs rather
    than the fixture's organic ones (round-8 VERDICT Next #6): any two
    docs sharing a contiguous run of w + k - 1 = 6 tokens must share
    >= 1 fingerprint. Families: (a) tie-heavy — 1- and 2-token
    alphabets where every window is wall-to-wall hash ties, so the
    rightmost-position rule does all the work; (b) short docs at the
    w boundary (3..10 tokens, including docs that winnow a single
    clamped window); (c) the shared run placed at the start / middle /
    end of otherwise-disjoint docs. The helper is pinned equal to the
    Spark pipeline by test_winnow_matches_python_replication."""
    from datafusion_ballista_spark.inventory.pipeline_text import _WINNOW_W

    run = ["r1", "r2", "r3", "r4", "r5", "r6"]  # w + k - 1 = 6 tokens
    assert len(run) == _WINNOW_W + 3 - 1
    pairs = []
    # (a) tie-heavy: every gram identical / periodic-2 alphabet
    pairs.append((["x"] * 8, ["x"] * 23))
    perio = ["a", "b"] * 12
    pairs.append((perio[:9] + run, run + perio[:7]))
    # (b) w-boundary short docs: every length from the 3-token floor to
    # a full two windows, sharing the whole 6-token run
    for extra in range(0, 5):
        left = ["l%d" % i for i in range(extra)]
        pairs.append((left + run, run + ["q%d" % i for i in range(extra)]))
    # (c) placement: start / middle / end of 30-token hosts
    fill_a = ["a%d" % i for i in range(24)]
    fill_b = ["b%d" % i for i in range(24)]
    for cut_a in (0, 12, 24):
        for cut_b in (0, 12, 24):
            pairs.append(
                (
                    fill_a[:cut_a] + run + fill_a[cut_a:],
                    fill_b[:cut_b] + run + fill_b[cut_b:],
                )
            )
    assert len(pairs) >= 16
    for da, db in pairs:
        fa, fb = _py_winnow_fps(da), _py_winnow_fps(db)
        assert fa and fb and fa & fb, (
            f"winnow guarantee violated for constructed pair "
            f"{' '.join(da)!r} / {' '.join(db)!r}"
        )


def test_winnow_spark_surfaces_constructed_pair(spark, tmp_path):
    """End-to-end Spark check of the same guarantee: two otherwise
    disjoint docs sharing a 20-token run (long enough that >= 3
    DISTINCT fingerprints must be selected, meeting the op's
    min-shared reporting bar) written to a scratch documents.parquet
    must be reported as a pair by text_winnow_fingerprint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_ballista_spark.inventory.pipeline_text import (
        text_winnow_fingerprint,
    )

    run = ["s%d" % i for i in range(20)]
    doc_a = ["a%d" % i for i in range(10)] + run + ["a9%d" % i for i in range(10)]
    doc_b = run + ["b%d" % i for i in range(25)]
    doc_c = ["c%d" % i for i in range(30)]  # control: shares nothing
    texts = [" ".join(doc_a), " ".join(doc_b), " ".join(doc_c)]
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * 3),
            "source": pa.array(["test"] * 3),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, tmp_path / "documents.parquet")
    got = {
        (r.doc_a, r.doc_b): r.shared
        for r in text_winnow_fingerprint(spark, str(tmp_path)).collect()
    }
    assert (0, 1) in got and got[(0, 1)] >= 3, got
    assert all(p == (0, 1) for p in got), got


def test_winnow_equal_hash_tie_windows(spark, tmp_path):
    """Focused hazard test for the round-14 selection rewrite (the
    row_number window -> min(h) aggregation): the ONLY case where the
    paper's rightmost-on-ties rule fires is equal hashes inside one
    window, i.e. repeated grams — and because the operator keeps only
    the selected VALUE, min(h) must be bit-identical there too. Docs
    built around 6-token repeat blocks ("z z z z z z" -> four identical
    'z z z' grams per block, so every window over a block ties) must
    yield exactly the pair count the pinned pure-Python winnow
    (rightmost-tie form) predicts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_ballista_spark.inventory.pipeline_text import (
        _WINNOW_MIN_SHARED,
        text_winnow_fingerprint,
    )

    rep = ["z"] * 6
    run = rep + ["m1", "m2", "m3"] + rep + ["n1", "n2", "n3"] + rep
    doc_a = ["a%d" % i for i in range(10)] + run + ["a9%d" % i for i in range(10)]
    doc_b = run + ["b%d" % i for i in range(25)]
    doc_c = ["c%d" % i for i in range(30)]  # control: shares nothing
    texts = [" ".join(doc_a), " ".join(doc_b), " ".join(doc_c)]
    fa, fb = _py_winnow_fps(doc_a), _py_winnow_fps(doc_b)
    expect_shared = len(fa & fb)
    assert expect_shared >= _WINNOW_MIN_SHARED, "construction must qualify"
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * 3),
            "source": pa.array(["test"] * 3),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, tmp_path / "documents.parquet")
    got = {
        (r.doc_a, r.doc_b): r.shared
        for r in text_winnow_fingerprint(spark, str(tmp_path)).collect()
    }
    assert got.get((0, 1)) == expect_shared, (got, expect_shared)


def test_bm25_python_replication(spark):
    """Exact replication of the BM25 micro arithmetic (Lucene positive
    idf, k1=6/5 b=3/4 as the integer-rational form) from independent
    fixture counts; also the ranking sanity: every reported score > 0
    and descending."""
    import math

    from datafusion_ballista_spark.inventory.pipeline_text import (
        _BM25_QUERY,
        _BM25_TOPK,
        text_bm25_topk,
    )

    docs = _fixture_docs(spark)
    docs = {d: t for d, t in docs.items() if t}
    dl = {d: len(t) for d, t in docs.items()}
    sdl, n = sum(dl.values()), len(dl)
    per_doc = {}
    for term in _BM25_QUERY:
        tf = {d: t.count(term) for d, t in docs.items() if term in t}
        df = len(tf)
        for d, f in tf.items():
            m = round(
                math.log((2.0 * n + 2) / (2 * df + 1))
                * (22.0 * sdl * f)
                / (10.0 * sdl * f + 3.0 * sdl + 9.0 * dl[d] * n)
                * 1_000_000
            )
            cnt, s = per_doc.get(d, (0, 0))
            per_doc[d] = (cnt + 1, s + m)
    ranked = sorted(
        ((d, c, round(s / 1_000_000.0, 6)) for d, (c, s) in per_doc.items()),
        key=lambda t: (-t[2], t[0]),
    )[:_BM25_TOPK]
    got = [
        (r.doc_id, r.n_terms, r.score)
        for r in text_bm25_topk(spark, SF_DIR).collect()
    ]
    assert got == ranked
    scores = [g[2] for g in got]
    assert scores == sorted(scores, reverse=True) and min(scores) > 0


def test_contamination_bloom_no_false_negatives(spark):
    """The Bloom screen's load-bearing property: NO false negatives —
    every training doc that truly shares a shingle with the benchmark
    set (independent Python ground truth) must be reported with
    contaminated=true, and the funnel columns must be consistent
    (n_exact <= n_bloom_hits <= n_shingles, bloom_fp = hits - exact)."""
    import hashlib

    from datafusion_ballista_spark.inventory.pipeline_train import (
        train_contamination_bloom,
    )

    docs = _fixture_docs(spark)
    sh = {}
    for d, toks in docs.items():
        if len(toks) < 3:
            continue
        sh[d] = {
            int(
                hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()[
                    :12
                ],
                16,
            )
            for i in range(len(toks) - 2)
        }
    bench = set().union(*(s for d, s in sh.items() if d % 97 == 0))
    truth = {
        d: len(s & bench) for d, s in sh.items() if d % 97 != 0
    }
    got = {
        r.doc_id: r
        for r in train_contamination_bloom(spark, SF_DIR).collect()
    }
    for d, n_exact in truth.items():
        if n_exact > 0:
            assert d in got and got[d].contaminated, d
            assert got[d].n_exact == n_exact, (d, n_exact, got[d])
    assert any(r.contaminated for r in got.values())
    for r in got.values():
        assert 0 < r.n_bloom_hits <= r.n_shingles
        assert 0 <= r.n_exact <= r.n_bloom_hits
        assert r.bloom_fp == r.n_bloom_hits - r.n_exact


def test_contamination_bloom_saturated_stays_correct(spark, monkeypatch):
    """The documented saturation behavior, end-to-end (round-9 VERDICT
    optional #7b): shrink the bitmap to m=64 bits so the fixture's
    benchmark shingles set EVERY bit. A saturated bloom must stay
    CORRECT — the exact join still decides, so the contaminated doc set
    and every n_exact are IDENTICAL to the production-m run — it just
    stops pruning: every shingle of every doc bloom-hits (the funnel's
    n_bloom_hits == n_shingles) and the reported bloom_fp balloons,
    which is exactly the signal the docstring tells an operator to
    watch."""
    from datafusion_ballista_spark.inventory import pipeline_train as pt

    normal = {
        r.doc_id: r
        for r in pt.train_contamination_bloom(spark, SF_DIR).collect()
    }
    monkeypatch.setattr(pt, "_BLOOM_BITS", 64)
    sat = {
        r.doc_id: r
        for r in pt.train_contamination_bloom(spark, SF_DIR).collect()
    }
    # saturation proof: the 64-bit bitmap passes everything
    assert all(r.n_bloom_hits == r.n_shingles for r in sat.values())
    assert set(sat) >= set(normal)  # zero-hit docs now surface too
    # correctness unharmed: same contaminated verdicts, same exact hits
    assert {d for d, r in sat.items() if r.contaminated} == {
        d for d, r in normal.items() if r.contaminated
    }
    for d, r in normal.items():
        assert sat[d].n_exact == r.n_exact
    # pruning lost: the false-positive funnel strictly balloons
    assert sum(r.bloom_fp for r in sat.values()) > sum(
        r.bloom_fp for r in normal.values()
    )


def test_range_search_exact_within_bucket(spark):
    """Python replication: the op must return EXACTLY the same-bucket
    neighbors within radius^2 (exact integer distances), no more, no
    fewer, with 6dp unit-scale distances; and a brute-force pass
    verifies no returned pair exceeds the radius."""
    import numpy as np

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _KM_SCALE,
        _PLANES,
        _RS_NQ,
        _RS_R2,
        _emb,
        ann_range_search,
    )

    rows = _emb(spark, SF_DIR).collect()
    planes = np.array(_PLANES, dtype=np.float64)
    buckets, qv = {}, {}
    for r in rows:
        v = np.array(r.v, dtype=np.float64)
        bits = (planes @ v) >= 0.0
        buckets[r.vec_id] = int((bits * (1 << np.arange(len(_PLANES)))).sum())
        qv[r.vec_id] = np.floor(v * _KM_SCALE + 0.5).astype(np.int64)
    expect = []
    for qid in range(_RS_NQ):
        for nid, b in buckets.items():
            if nid == qid or b != buckets[qid]:
                continue
            d = qv[qid] - qv[nid]
            d2 = int((d * d).sum())
            if d2 <= _RS_R2:
                expect.append((qid, nid, round(d2 / float(_KM_SCALE) ** 2, 6)))
    expect.sort()
    got = [
        (r.qid, r.nid, r.dist2)
        for r in ann_range_search(spark, SF_DIR).collect()
    ]
    assert got == expect
    assert got, "radius should capture at least one in-bucket neighbor"


def test_kmeanspp_farthest_first(spark):
    """Python replication of the farthest-first traversal (exact int
    distances, vec_id tiebreak) and of the final assignment stats; plus
    the seeding property that motivates k-means++: the 6 seeds'
    pairwise min distance must exceed the naive first-6-vec_ids
    seeding's pairwise min distance."""
    import numpy as np

    from datafusion_ballista_spark.inventory.pipeline_vector import (
        _KPP_K,
        _KM_SCALE,
        _km_quantized,
        emb_kmeanspp_init,
    )

    qv = {
        r.vec_id: np.array([int(x) for x in r.q], dtype=np.int64)
        for r in _km_quantized(spark, SF_DIR).collect()
    }
    ids = sorted(qv)
    chosen = [ids[0]]
    for _ in range(_KPP_K - 1):
        best = None
        for vid in ids:
            if vid in chosen:
                continue
            md = min(int(((qv[vid] - qv[c]) ** 2).sum()) for c in chosen)
            if best is None or md > best[0] or (md == best[0] and vid < best[1]):
                best = (md, vid)
        chosen.append(best[1])
    stats = {}
    for vid in ids:
        dists = [int(((qv[vid] - qv[c]) ** 2).sum()) for c in chosen]
        cid = int(np.argmin(dists))  # first min = lowest cid
        n, s = stats.get(cid, (0, 0))
        stats[cid] = (n + 1, s + min(dists))
    expect = [
        (cid, chosen[cid], stats[cid][0],
         round(stats[cid][1] / float(_KM_SCALE) ** 2, 6))
        for cid in range(_KPP_K)
    ]
    got = [
        (r.cid, r.center_vec_id, r.n_vecs, r.inertia)
        for r in emb_kmeanspp_init(spark, SF_DIR).collect()
    ]
    assert got == expect

    def min_pairdist(seeds):
        return min(
            int(((qv[a] - qv[b]) ** 2).sum())
            for i, a in enumerate(seeds)
            for b in seeds[i + 1:]
        )

    assert min_pairdist(chosen) > min_pairdist(ids[:_KPP_K])


def _hll_python_replication(spark, p):
    """Pure-Python HLL at precision p over the events fixture: returns
    (registers, raw, est, n_distinct) exactly as the op defines them."""
    import hashlib
    import math

    from datafusion_ballista_spark.inventory.events import _hll_alpha

    m, wbits = 1 << p, 48 - p
    ev = tables(spark, SF_DIR, "events").events.select("user_id").collect()
    regs: dict[int, int] = {}
    users = set()
    for r in ev:
        users.add(r.user_id)
        h = int(hashlib.md5(str(r.user_id).encode()).hexdigest()[:12], 16)
        b, w = h % m, h >> p
        rho = wbits + 1 if w == 0 else wbits - int(math.floor(math.log2(w)))
        regs[b] = max(regs.get(b, 0), rho)
    s = sum(2.0 ** -rho for rho in regs.values()) + (m - len(regs))
    raw = _hll_alpha(m) * m * m / s
    v = m - len(regs)
    est = m * math.log(m / v) if (raw <= 2.5 * m and v > 0) else raw
    return regs, raw, est, len(users)


def test_hll_sketch_estimate(spark):
    """Pure-Python replication of the HLL registers and estimate
    (md5-fold, 64 buckets, leading-zero rank, alpha correction +
    linear-counting small-range branch), plus the accuracy witness:
    relative error within 3 standard errors (3 * 1.04/sqrt(64) ~ 39%)
    of the exact distinct count."""
    import math

    from datafusion_ballista_spark.inventory.events import (
        _HLL_P,
        sketch_hll_distinct,
    )

    m = 1 << _HLL_P
    regs, raw, est, n = _hll_python_replication(spark, _HLL_P)
    row = sketch_hll_distinct(spark, SF_DIR).collect()[0]
    assert row.m == m and row.n_buckets == len(regs)
    assert row.raw_est == round(raw, 4) and row.est == round(est, 4)
    assert row.exact == n
    assert abs(row.est - row.exact) / row.exact < 3 * 1.04 / math.sqrt(m)


def test_hll_p12_linear_counting_regime(spark):
    """The p=12 variant (m=4096) must actually RUN the small-range
    linear-counting branch on the fixture — empty registers present and
    raw <= 2.5m, so est comes from m*ln(m/V), not the alpha estimate —
    and linear counting at n << m is tight: relative error within 3
    standard errors of the LC binomial bound sqrt(m*(exp(n/m)-n/m-1))/n
    (Whang et al. 1990), far tighter than the HLL 1.04/sqrt(m) band."""
    import math

    from datafusion_ballista_spark.inventory.events import (
        _HLL_P12,
        sketch_hll_distinct_p12,
    )

    m = 1 << _HLL_P12
    regs, raw, est, n = _hll_python_replication(spark, _HLL_P12)
    row = sketch_hll_distinct_p12(spark, SF_DIR).collect()[0]
    assert row.m == m and row.n_buckets == len(regs)
    assert row.raw_est == round(raw, 4) and row.est == round(est, 4)
    assert row.exact == n
    # the regime claim itself: the correction branch was active
    assert row.v_zero > 0 and row.raw_est <= 2.5 * m
    assert row.est == round(m * math.log(m / row.v_zero), 4)
    lc_stderr = math.sqrt(m * (math.exp(n / m) - n / m - 1)) / n
    assert abs(row.est - row.exact) / row.exact < 3 * max(lc_stderr, 1e-3)


def test_countmin_never_undercounts(spark):
    """CMS's defining guarantee, checked over EVERY user via a full
    Python replication (not just the reported top-10): min-over-depth
    estimate >= exact count always, with at least one genuine
    collision overcount at 150 users over 32 slots; the op's top-10
    rows must match the replication exactly."""
    import hashlib

    from datafusion_ballista_spark.inventory.events import (
        _CMS_D,
        _CMS_TOPK,
        _CMS_W,
        sketch_countmin_topk,
    )

    ev = tables(spark, SF_DIR, "events").events.select("user_id").collect()
    exact: dict[int, int] = {}
    cells: dict[tuple, int] = {}

    def pos(uid, d):
        return (
            int(hashlib.md5(f"{uid}:{d}".encode()).hexdigest()[:12], 16)
            % _CMS_W
        )

    for r in ev:
        exact[r.user_id] = exact.get(r.user_id, 0) + 1
        for d in range(_CMS_D):
            k = (d, pos(r.user_id, d))
            cells[k] = cells.get(k, 0) + 1
    est = {
        u: min(cells[(d, pos(u, d))] for d in range(_CMS_D))
        for u in exact
    }
    assert all(est[u] >= exact[u] for u in exact), "CMS undercounted"
    assert any(est[u] > exact[u] for u in exact), (
        "no collision overcount — the demo is vacuous"
    )
    expect = sorted(
        ((u, exact[u], est[u], est[u] - exact[u]) for u in exact),
        key=lambda t: (-t[2], t[0]),
    )[:_CMS_TOPK]
    got = [
        (r.user_id, r.exact, r.cms_est, r.overcount)
        for r in sketch_countmin_topk(spark, SF_DIR).collect()
    ]
    assert got == expect


def test_token_entropy_matches_python(spark):
    """Exact replication of the bottom-20 lowest-entropy docs (counts,
    types, integer micro-nat entropy — including the per-term
    quantize-before-sum discipline), plus the information-theoretic
    sanity bound 0 <= H <= ln(n_types) on every reported row."""
    import math

    from datafusion_ballista_spark.inventory.pipeline_text import (
        _ENTROPY_BOTTOMK,
        quality_token_entropy,
    )

    docs = _fixture_docs(spark)
    expect = []
    for d, toks in docs.items():
        if not toks:
            continue
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        n = sum(counts.values())
        s = sum(int(round(c * math.log(c) * 1e6)) for c in counts.values())
        h = int(round(math.log(n) * 1e6)) - s // n
        expect.append((h, d, n, len(counts)))
    expect.sort()
    got = quality_token_entropy(spark, SF_DIR).collect()
    assert len(got) == _ENTROPY_BOTTOMK
    for row, (h, d, n, types) in zip(got, expect[:_ENTROPY_BOTTOMK]):
        assert (row.entropy_mnat, row.doc_id) == (h, d)
        assert (row.n_toks, row.n_types) == (n, types)
        assert 0 <= row.entropy_mnat <= int(math.log(types) * 1e6) + 2


def test_concat_chunks_exact_occupancy(spark):
    """The packing invariants a training loader depends on: every chunk
    except the last holds EXACTLY C tokens, chunk ids are contiguous
    from 0, per-chunk doc-start counts sum to the packed doc count, and
    total occupancy equals the corpus token total."""
    from datafusion_ballista_spark.inventory.pipeline_train import (
        _CHUNK_C,
        train_pack_concat_chunks,
    )

    docs = _fixture_docs(spark)
    lens = [len(t) for t in docs.values() if t]
    rows = train_pack_concat_chunks(spark, SF_DIR).collect()
    assert [r.chunk_id for r in rows] == list(range(len(rows)))
    assert all(r.n_tokens == _CHUNK_C for r in rows[:-1])
    assert 1 <= rows[-1].n_tokens <= _CHUNK_C
    assert sum(r.n_tokens for r in rows) == sum(lens)
    assert sum(r.n_starts for r in rows) == len(lens)
    assert all(r.n_docs >= r.n_starts and r.n_docs >= 1 for r in rows)
