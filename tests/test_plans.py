"""Plan-shape audit — the 100x scale grade, enforced as tests.

Round-1 verdict: broadcast hints on unbounded sides are scale-killers, and
cartesian products must only appear for genuine 1-row scalar sides. This
sweep plans every inventory query statically (AQE off) and asserts:

- no CartesianProduct / BroadcastNestedLoopJoin outside the whitelist of
  known scalar (1-row) cross joins and the deliberate theta join;
- parquet scans in filtered TPC-H queries carry PushedFilters;
- every TPC-DS shape analogue still adds an operator kind to its
  verbatim twin's plan;
- no entry of a feature-probe module is subsumed by another entry;
- every assert_true guard an entry calls survives into its optimized plan.

Every registry entry is audited, from the one build per entry that
tests/conftest.py keeps for the session (the oracle check in
tests/test_inventory.py takes the same build's DataFrame).
"""

from __future__ import annotations

import os

import pytest

from datafusion_ballista_spark.inventory.tpcds_real import fixture_dir
from datafusion_ballista_spark.sources.registry import load_table
from tests.conftest import EAGER_QUERIES, REGISTRY, SF_DIR, module, static_plan

# Nested-loop / cartesian is legitimate only for genuinely-bounded sides:
# 1-row scalar aggregates (tpch q11/q14/q17/q22, NOT IN stats row, global
# top-k threshold, share-of-total denominators) or the deliberate theta
# join / small VALUES dims.
_NESTED_LOOP_OK = {
    "tpch_q11_important_parts",
    "tpch_q14_promo",
    "tpch_q16_part_supplier",  # not_in_join's 1-row stats crossJoin
    "tpch_q17_small_qty",
    "tpch_q22_global_sales",
    "rel_values_inmem",  # range-band join against a 3-row literal table
    "rel_theta_join",
    "rel_not_in_nulls",
    "win_share_of_total",
    "tpcds_real_q88",  # verbatim ds q88: same eight 1-row counts, real schema
    "tpcds_real_q28",  # verbatim ds q28: six 1-row quantity-band stat blocks
    "tpcds_real_q61",  # verbatim ds q61: two 1-row scalar revenue blocks
    "tpcds_real_q77",  # verbatim ds q77: published 6x6 call-center CTE cross
    "tpcds_real_q90",  # verbatim ds q90: two 1-row am/pm count blocks
    "tpcds_q23_shape",  # ds q23 shape: 1-row max-spend threshold crossJoin
    "tpcds_q24_shape",  # ds q24 shape: 1-row spine-average threshold crossJoin
    "h2o_w_basic_global_sum",  # OVER () rewrite: 1-row total crossJoin
    "dedup_containment",  # quote seeding: 1-row max(doc_id) scalar crossJoin
    "text_collocation_pmi",  # two 1-row corpus-total scalar crossJoins
    "quality_bigram_logprob",  # 1-row unigram-total scalar crossJoin
    "quality_kneser_ney_bigram",  # 1-row bigram-type-total scalar crossJoin
    "quality_ccnet_bucket",  # 1-row corpus-token-total scalar crossJoin
    "ann_mmr_rerank",  # broadcast of the bounded (5-row) query set
    "text_bm25_topk",  # 1-row corpus dl/N stats scalar crossJoin
    "sketch_hll_distinct",  # 1-row exact-distinct scalar crossJoin
    "sketch_hll_distinct_p12",  # same 1-row exact-distinct scalar crossJoin
    # deliberate brute-force pair spaces (documented scale path is the
    # LSH-bucketed variant, which planning confirms has NO nested loop):
    "ann_bruteforce_topk",  # exact baseline by design
    "emb_neardup_cosine",  # exact ground truth for the LSH variant
    "emb_knn_classify",  # broadcast of a bounded (20-row) query set
    "ann_ivf_topk",  # N x L centroid assignment: L bounded, centroids broadcast
    "tfidf_topk_terms",  # 1-row corpus-size scalar crossJoin
    "quality_unigram_logprob",  # 1-row corpus-token-total scalar crossJoin
    "train_mix_weights",  # 1-row total-chars scalar crossJoin
    "train_token_budget_sample",  # 1-row total-tokens scalar crossJoin
    "train_dsir_select",  # 1-row corpus/target token-total scalar crossJoin
    "rel_salted_skew_join",  # 5-row dim x 8 salts: bounded salting fan-out
    "sketch_ams_f2",  # 1-row exact-F2 + 1-row mean scalar crossJoins
    "train_priority_sample_sum",  # 1-row tau + 1-row exact-total crossJoins
    "train_epoch_shuffle_shards",  # 1-row corpus-count scalar crossJoin
    "ev_decayed_topk",  # 1-row max-timestamp anchor crossJoin
    "text_zipf_fit",  # 1-row corpus-totals scalar crossJoin
    "text_vocab_coverage",  # 1-row corpus-totals scalar crossJoin
    "emb_matryoshka_trunc",  # broadcast of the bounded (5-row) query set
    "ann_recall_eval",  # exact arm broadcasts the bounded (20-row) query set
    "sketch_quantile_bottomk",  # 1-row sample-quantile scalar crossJoin
    "sketch_range_partition_cuts",  # 1-row sample-cut scalar crossJoin
    "sketch_kll_quantiles",  # 1-row sample + 1-row KLL quantile crossJoins
    "ann_pq_adc",  # broadcast of the bounded (5-row) query set
    "h2o_w_sorted_rownum",  # 1-row FIRST_VALUE (min_by) scalar crossJoin
}

@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unbounded_cartesian(name, builds):
    plan = builds[name].plan
    # Python may enter a plan only through Arrow-vectorized evaluation
    # (ArrowEvalPython / mapInPandas / mapInArrow). BatchEvalPython is the
    # row-at-a-time pickle path — 10-100x slower — and must never appear.
    assert "BatchEvalPython" not in plan, (
        f"[{name}] row-at-a-time Python UDF in plan"
    )
    if name in _NESTED_LOOP_OK:
        return
    assert "CartesianProduct" not in plan, f"[{name}] cartesian product in plan"
    # BroadcastNestedLoopJoin is the non-equi fallback; outside the
    # whitelist it means a join lost its equi-key.
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"[{name}] nested-loop join in plan"
    )


def test_static_plan_keeps_the_relations_the_build_bound(spark):
    """The star fixture and TPC-H both name a table ``customer``, and each
    builder (re)binds its own temp view. The audit plans the analyzed plan
    a build left, so a view rebound after the build does not change which
    file the audited plan scans."""
    df = REGISTRY["tpcds_real_q19"].spark(spark, SF_DIR)
    load_table(spark, SF_DIR, "customer").createOrReplaceTempView("customer")
    plan = static_plan(spark, df)[0]
    assert os.path.join(fixture_dir(), "customer.parquet") in plan, plan


def test_in_plan_guards_survive_the_optimizer(builds):
    """An assert_true guard holds only while Catalyst keeps it. One whose
    value lands in a column that is later dropped is pruned, and the
    query returns what the guard was written to refuse: fold the guard
    into an output column or a filter instead."""
    guards = {name: builds[name].guard for name in sorted(REGISTRY)}
    assert any(called for called, _ in guards.values()), "no in-plan guard"
    pruned = [n for n, (called, kept) in guards.items() if called and not kept]
    assert not pruned, pruned


def test_global_topk_is_take_ordered(builds):
    """win_global_topk must reduce to a k-row TakeOrderedAndProject before
    its no-PARTITION-BY window — never a full-table single-partition sort
    (the reference's PartitionedBoundedWindowAggExec rationale)."""
    plan = builds["win_global_topk"].plan
    assert "TakeOrderedAndProject" in plan, plan
    # the window's sort must sit ABOVE the take-ordered k-row reduction,
    # i.e. the full-table scan feeds TakeOrderedAndProject, not a Sort
    assert plan.index("TakeOrderedAndProject") > plan.index("Window"), plan


@pytest.mark.parametrize(
    "name",
    ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q12_priority_shipping"],
)
def test_filters_reach_scan(name, builds):
    plan = builds[name].plan
    assert "PushedFilters: [" in plan
    # at least one scan actually pushes a predicate (not the empty list)
    pushed = [
        seg.split("]", 1)[0]
        for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any(p.strip() for p in pushed), f"[{name}] no pushed filters\n{plan}"


def test_allowlists_name_registered_queries():
    """An allowlist entry must not outlive its query: a stale name would
    silently exempt whatever later reuses it."""
    assert _NESTED_LOOP_OK <= set(REGISTRY), _NESTED_LOOP_OK - set(REGISTRY)
    assert EAGER_QUERIES <= set(REGISTRY), EAGER_QUERIES - set(REGISTRY)


_TPCDS_SHAPES = sorted(
    n for n in REGISTRY if n.startswith("tpcds_q") and n.endswith("_shape")
)


@pytest.mark.parametrize("name", _TPCDS_SHAPES)
def test_tpcds_shape_adds_an_operator(name, builds):
    """A DataFrame analogue stays only while it exercises an operator kind
    its verbatim twin does not; the rest were retired as subsumed. Red
    here means a Spark upgrade or an edit to either side made this shape
    redundant: retire it, or give it back something the twin lacks."""
    twin = name.replace("tpcds_q", "tpcds_real_q").removesuffix("_shape")
    added = builds[name].kinds - builds[twin].kinds
    assert added, f"[{name}] every operator kind also appears in {twin}"


# Modules whose entries exist only to exercise an engine feature. The
# benchmark suites (tpch, tpcds_real*, h2o) mirror published query texts,
# and each algorithm module's entry ships a capability: they stay whatever
# they overlap, though any planned entry can subsume a feature probe.
_FEATURE_PROBE_MODULES = {
    "relational",
    "windows",
    "sql_surface",
    "functions_cov",
    "udf_surface",
    "tpcds",
}


def test_feature_probes_are_not_subsumed(builds):
    """A feature-probe entry stays only while, against every other planned
    entry, its fingerprint holds an element the other's lacks. Red here names each subsumed entry and what subsumes it: retire the
    entry, or give it back something of its own."""
    prints = {name: builds[name].fingerprint for name in sorted(REGISTRY)}
    subsumed = {
        name: sorted(o for o in prints if o != name and fp <= prints[o])
        for name, fp in prints.items()
        if module(name) in _FEATURE_PROBE_MODULES
    }
    subsumed = {name: by for name, by in subsumed.items() if by}
    assert not subsumed, subsumed
