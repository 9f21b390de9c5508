"""The decision rule of ``tools/ab.py``: pure arithmetic over run results,
no Spark, git or subprocess."""

from __future__ import annotations

import json

from tools.ab import parse_run, schedule, summarize, verdicts

BOUND = 0.25


def _pairs(parent, change):
    return list(zip(parent, change))


def test_schedule_alternates_order_and_shares_the_seed_within_a_pair():
    plan = schedule(4, 7)
    assert [seed for _, seed, _ in plan] == [7, 8, 9, 10]
    assert [order for _, _, order in plan] == [("a", "b"), ("b", "a")] * 2
    assert [i for i, _, _ in plan] == [0, 1, 2, 3]


def test_nine_of_ten_wins_is_a_gain_and_eight_is_not():
    parent = [10.0, 10.1, 10.2, 10.3, 10.4, 10.5, 10.6, 10.7, 10.8, 10.9]
    nine = [8.0] * 9 + [11.0]
    v = verdicts(_pairs(parent, nine), BOUND, "lower")
    assert (v["wins"], v["gain"]) == (9, True)
    eight = [8.0] * 8 + [11.0, 11.0]
    v = verdicts(_pairs(parent, eight), BOUND, "lower")
    assert (v["wins"], v["gain"]) == (8, False)


def test_ties_count_for_neither_side():
    parent = [10.0] * 10
    change = [10.0] + [8.0] * 9
    v = verdicts(_pairs(parent, change), BOUND, "lower")
    assert (v["wins"], v["gain"]) == (9, True)
    change = [10.0, 10.0] + [8.0] * 8
    v = verdicts(_pairs(parent, change), BOUND, "lower")
    assert (v["wins"], v["gain"]) == (8, False)


def test_a_gain_needs_ten_pairs_and_a_lead_past_the_parent_quartiles():
    v = verdicts(_pairs([10.0] * 5, [8.0] * 5), BOUND, "lower")
    assert (v["wins"], v["gain"]) == (5, False)
    # every pair won, by less than the parent's own quartile distance
    parent = [9.0, 11.0] * 5
    change = [x - 0.5 for x in parent]
    v = verdicts(_pairs(parent, change), BOUND, "lower")
    assert (v["wins"], v["gain"]) == (10, False)


def test_a_median_past_the_bound_is_a_regression():
    parent = [10.0] * 5
    assert verdicts(_pairs(parent, [12.4] * 5), BOUND, "lower")["regression"] is False
    v = verdicts(_pairs(parent, [12.6] * 5), BOUND, "lower")
    assert (v["regression"], v["unresolved"]) == (True, False)


def test_a_spread_wider_than_the_bound_is_unresolved_unless_disjoint():
    parent = [7.0, 10.0, 13.0, 10.0, 10.0]
    change = [10.0, 10.0, 10.0, 10.0, 10.0]
    v = verdicts(_pairs(parent, change), BOUND, "lower")
    assert (v["unresolved"], v["regression"]) == (True, False)
    # the change's own spread counts too
    v = verdicts(_pairs(change, parent), BOUND, "lower")
    assert v["unresolved"] is True
    # every change run below every parent run resolves it
    v = verdicts(_pairs(parent, [3.0, 5.0, 6.5, 4.0, 5.0]), BOUND, "lower")
    assert v["unresolved"] is False
    v = verdicts(_pairs([10.0] * 5, [10.5] * 5), BOUND, "lower")
    assert v["unresolved"] is False


def test_a_failed_run_is_failed_not_a_sample():
    assert parse_run(1, '{"metrics": {}}') is None
    assert parse_run(0, "report\nTraceback (most recent call last)") is None
    assert parse_run(0, "") is None
    assert parse_run(0, "report\n[1, 2]") is None
    assert parse_run(0, 'report\n{"metrics": {}}\n') == {"metrics": {}}
    v = verdicts([(10.0, None), (10.0, 8.0), (None, 8.0)], BOUND, "lower")
    assert v["wins"] == 1
    assert v["a"]["runs"] == [10.0, 10.0] and v["b"]["runs"] == [8.0, 8.0]
    v = verdicts([(10.0, None)], BOUND, "lower")
    assert (v["gain"], v["regression"], v["unresolved"]) == (False, False, True)


def test_better_higher_flips_the_direction():
    parent = [10.0] * 10
    v = verdicts(_pairs(parent, [12.0] * 10), BOUND, "higher")
    assert (v["wins"], v["gain"], v["regression"]) == (10, True, False)
    v = verdicts(_pairs(parent, [7.0] * 10), BOUND, "higher")
    assert (v["wins"], v["gain"], v["regression"]) == (0, False, True)
    v = verdicts(_pairs(parent, [7.0] * 10), BOUND, "lower")
    assert (v["wins"], v["gain"], v["regression"]) == (10, True, False)


def _result(value, failed=0, **layers):
    metrics = {"pass_cpu_s": value, **layers}
    return {
        "attempted": 10,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()},
    }


def test_summary_counts_operations_and_lists_the_traced_layers():
    metric = {"name": "pass_cpu_s", "unit": "s", "better": "lower", "bound": BOUND}
    bench = {"end_to_end": [metric]}
    runs = [{"a": _result(10.0), "b": _result(8.0)} for _ in range(10)]
    traced = {
        "a": _result(1.0, **{"execute.exec_s": 4.0, "plan.plan_s": 1.0, "trace.overhead_s": 0.1}),
        "b": _result(1.0, **{"execute.exec_s": 3.5, "plan.plan_s": 0.2, "trace.overhead_s": 1.1}),
    }
    traced["a"]["metrics"]["execute.jobs"] = {"value": 1, "unit": "count"}
    traced["b"]["metrics"]["execute.jobs"] = {"value": 3, "unit": "count"}
    out = summarize(bench, runs, traced)
    json.dumps(out)
    assert out["metrics"]["pass_cpu_s"]["gain"] is True
    assert out["sides"]["a"] == {"failed_runs": 0, "attempted": 110, "failed": 0}
    # each side's traced values, unranked
    assert out["layers"]["plan.plan_s"] == {"unit": "s", "a": 1.0, "b": 0.2}
    assert out["layers"]["execute.jobs"] == {"unit": "count", "a": 1, "b": 3}
    assert sorted(out["layers"]) == [
        "execute.exec_s", "execute.jobs", "pass_cpu_s", "plan.plan_s", "trace.overhead_s",
    ]
    # more failed operations on the change cancel the gain
    runs[0]["b"] = _result(8.0, failed=1)
    out = summarize(bench, runs, traced)
    assert out["sides"]["b"]["failed"] == 1
    assert out["metrics"]["pass_cpu_s"]["gain"] is False
    runs[0]["b"] = None
    out = summarize(bench, runs, traced)
    assert out["sides"]["b"]["failed_runs"] == 1
    assert out["metrics"]["pass_cpu_s"]["wins"] == 9
    # no layers when a traced run failed
    out = summarize(bench, runs, {"a": traced["a"], "b": None})
    assert out["layers"] is None
