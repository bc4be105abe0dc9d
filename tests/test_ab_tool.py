"""tools/ab.py's verdict rule and leaf flattening, on synthetic legs: no
Spark, no git, no subprocess."""

import json

import pytest

from tools.ab import last_json, leaves, summarize

BASE = [10.0 + 0.1 * i for i in range(10)]  # parent IQR 0.45


def _verdict(parent, change):
    legs = [
        {"pair": i, "arm": arm, "cpu_steal_frac": 0.0, "metrics": {"m": v}}
        for i, (p, c) in enumerate(zip(parent, change))
        for arm, v in (("parent", p), ("change", c))
    ]
    return summarize(legs)[0]["m"]


@pytest.mark.parametrize(
    "change, want",
    [
        ([v - 1 for v in BASE], "resolved (change lower)"),  # 10/10, |Δ| > IQR
        ([v + 1 for v in BASE], "resolved (change higher)"),
        ([BASE[0]] + [v - 1 for v in BASE[1:]], "resolved (change lower)"),  # 9 + 1 tie
        (BASE[:2] + [v - 1 for v in BASE[2:]], "unresolved"),  # 8 + 2 ties
        ([v - 0.3 for v in BASE], "unresolved"),  # 10/10 but |Δ| <= IQR
        (list(BASE), "unresolved"),  # identical arms
    ],
    ids=["lower", "higher", "nine_wins_one_tie", "eight_wins_two_ties", "within_iqr", "identical"],
)
def test_verdict_rule(change, want):
    s = _verdict(BASE, change)
    assert s["verdict"] == want
    assert s["pairs"] == 10
    assert s["change_lower"] + s["change_higher"] + s["ties"] == 10


def test_verdict_counts_a_pair_missing_the_metric_for_neither_side():
    change = [v - 1 for v in BASE]
    change[3] = None  # that pair's change leg printed no such leaf
    s = _verdict(BASE, change)
    assert (s["change_lower"], s["ties"], s["pairs"]) == (9, 0, 10)
    assert s["verdict"] == "resolved (change lower)"


def test_leaves_of_a_perfbench_line():
    stdout = "\n".join([
        json.dumps({"detail": {}, "failed_frac": 0.0, "host": {"nproc": 4}}),
        json.dumps({"correct": True, "attempted": 47956, "failed": 0, "metrics": {
            "emit_latency_p50_s": {"value": 2.7, "unit": "s"},
            "session.get_spark_s": {"value": 6.1, "unit": "s"},
        }}),
    ])
    assert leaves(last_json(stdout)) == {
        "attempted": 47956, "failed": 0,
        "emit_latency_p50_s": 2.7, "session.get_spark_s": 6.1,
    }


def test_leaves_of_a_bench_line():
    line = {"metric": "headline_suite_wall_clock", "value": 95.2, "unit": "sec",
            "queries": {"ordered_emit": 3.1, "ordered_stream": 7.4}, "sf": 0.1,
            "ordered_turns_per_sec": 5120.5, "process_wall_s": 140.2}
    stdout = "session log line\n" + json.dumps(line) + "\n"
    assert leaves(last_json(stdout)) == {
        "value": 95.2, "queries.ordered_emit": 3.1, "queries.ordered_stream": 7.4,
        "sf": 0.1, "ordered_turns_per_sec": 5120.5, "process_wall_s": 140.2,
    }
