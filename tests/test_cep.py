"""CEP row-pattern matching: the numpy matcher (operators/cep_core) against
a pure-Python oracle under hypothesis, and the batch plans (plans/cep)
against the same oracle on Spark — both modes, within bounds, gap guards.

Semantics pinned: SQL:2016 ALL-matches (AFTER MATCH SKIP TO NEXT ROW),
strict contiguity = Flink CEP next(), skip-till-next = followedBy(),
within = FlinkCEP within() on the first→last ts span.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dataflow_ordered_processing_spark.operators.cep_core import (
    Step,
    match_strict,
)
from dataflow_ordered_processing_spark.plans.cep import match_pattern

FUNNEL_PLAN_DUMP = os.path.join(
    os.path.dirname(__file__), "../plans/r12/cep_funnel_after.txt"
)
ROLES = ["user", "assistant", "tool", "system"]
TOOLS = [None, "search", "code"]


# ---------------------------------------------------------------- references
def ref_strict(rows, steps, within_us=None):
    """rows: list of dicts sorted by turn_idx. Returns [(start, end)]."""
    k = len(steps)
    out = []
    for j in range(len(rows) - k + 1):
        win = rows[j : j + k]
        if win[-1]["turn_idx"] - win[0]["turn_idx"] != k - 1:
            continue
        if not all(_holds(s, r) for s, r in zip(steps, win)):
            continue
        if within_us is not None and win[-1]["ts_us"] - win[0]["ts_us"] > within_us:
            continue
        out.append((win[0]["turn_idx"], win[-1]["turn_idx"]))
    return out


def ref_skip(rows, steps, within_us=None):
    """Returns list of tuples of matched turn_idx per step."""
    out = []
    for j, r in enumerate(rows):
        if not _holds(steps[0], r):
            continue
        chain = [j]
        pos = j
        ok = True
        for s in steps[1:]:
            nxt = next(
                (i for i in range(pos + 1, len(rows)) if _holds(s, rows[i])), None
            )
            if nxt is None:
                ok = False
                break
            chain.append(nxt)
            pos = nxt
        if not ok:
            continue
        if (
            within_us is not None
            and rows[chain[-1]]["ts_us"] - rows[chain[0]]["ts_us"] > within_us
        ):
            continue
        out.append(tuple(rows[i]["turn_idx"] for i in chain))
    return out


def _holds(step: Step, row: dict) -> bool:
    for col, v in (("role", step.role), ("tool", step.tool)):
        if v is not None and not (
            row[col] in v if isinstance(v, tuple) else row[col] == v
        ):
            return False
    return True


# ------------------------------------------------- hypothesis: numpy matcher
rows_strategy = st.lists(
    st.tuples(st.sampled_from(ROLES), st.sampled_from(TOOLS), st.integers(0, 5)),
    min_size=0,
    max_size=60,
)


def _mk_rows(raw):
    rows, ts = [], 0
    for i, (role, tool, dt) in enumerate(raw):
        ts += dt
        rows.append(
            {"turn_idx": i + 1, "role": role, "tool": tool, "ts_us": ts}
        )
    return rows


def _to_cols(rows):
    return {
        "turn_idx": np.array([r["turn_idx"] for r in rows], dtype=np.int64),
        "role": np.array([r["role"] for r in rows], dtype=object),
        "tool": np.array([r["tool"] for r in rows], dtype=object),
        "ts_us": np.array([r["ts_us"] for r in rows], dtype=np.int64),
    }


STEPS3 = (
    Step("u", role="user"),
    Step("a", role="assistant"),
    Step("c", role="tool", tool="code"),
)
STEPS2 = (Step("t", role="tool"), Step("u", role="user"))


@settings(max_examples=200, deadline=None)
@given(raw=rows_strategy, cuts=st.lists(st.integers(0, 60), max_size=5),
       within=st.sampled_from([None, 0, 3, 10**9]),
       steps=st.sampled_from([STEPS3, STEPS2]))
def test_match_strict_chunked_equals_reference(raw, cuts, within, steps):
    """Feeding the run in arbitrary chunk splits (micro-batch boundaries)
    with carry finds exactly the whole-sequence matches, each once."""
    rows = _mk_rows(raw)
    expect = ref_strict(rows, steps, within)
    bounds = sorted({c for c in cuts if c < len(rows)} | {0, len(rows)})
    carry = None
    got = []
    for lo, hi in zip(bounds, bounds[1:]):
        m, carry = match_strict(steps, _to_cols(rows[lo:hi]), carry, within)
        got += list(zip(m["start_idx"].tolist(), m["end_idx"].tolist()))
    assert got == expect


def test_match_strict_never_matches_across_gap():
    rows = _mk_rows([("user", None, 1), ("assistant", None, 1),
                     ("tool", "code", 1)])
    rows[2]["turn_idx"] = 5  # gap: 1,2,5
    m, _ = match_strict(STEPS3, _to_cols(rows))
    assert len(m["start_idx"]) == 0


def test_match_strict_carry_spans_batches():
    rows = _mk_rows([("user", None, 1), ("assistant", None, 1),
                     ("tool", "code", 1)])
    m1, carry = match_strict(STEPS3, _to_cols(rows[:2]))
    assert len(m1["start_idx"]) == 0
    m2, _ = match_strict(STEPS3, _to_cols(rows[2:]), carry)
    assert m2["start_idx"].tolist() == [1] and m2["end_idx"].tolist() == [3]


def test_step_validation():
    with pytest.raises(ValueError):
        Step("bad")
    with pytest.raises(ValueError):
        match_strict((Step("u", role="user"),), _to_cols([]), None)


# ---------------------------------------------------------- Spark batch plans
def _table(spark, seed=7, n_convs=6, max_turns=25, gap_conv=True):
    rng = np.random.default_rng(seed)
    recs = []
    for c in range(n_convs):
        n = int(rng.integers(4, max_turns))
        ts = 0
        drop = set()
        if gap_conv and c == 0:
            drop = {3, 4}  # a turn_idx gap for the contiguity guard
        for i in range(1, n + 1):
            if i in drop:
                continue
            ts += int(rng.integers(1, 100))
            role = ROLES[int(rng.integers(0, 4))]
            tool = TOOLS[int(rng.integers(0, 3))] if role == "tool" else None
            recs.append(
                {
                    "conv_id": f"c{c}",
                    "turn_idx": i,
                    "role": role,
                    "tool": tool,
                    "ts_us": ts * 1_000_000,
                }
            )
    pdf = pd.DataFrame(recs)
    pdf["ts"] = pdf["ts_us"].astype("datetime64[us]")
    return pdf


@pytest.mark.parametrize("within", [None, 300])
def test_match_pattern_strict_vs_reference(spark, within):
    pdf = _table(spark)
    df = spark.createDataFrame(pdf.drop(columns=["ts_us"]))
    got = (
        match_pattern(df, STEPS3, mode="strict", within=within)
        .orderBy("conv_id", "start_idx")
        .toPandas()
    )
    expect = []
    for cid, g in pdf.groupby("conv_id"):
        rows = g.sort_values("turn_idx").to_dict("records")
        for s, e in ref_strict(rows, STEPS3, None if within is None else within * 10**6):
            expect.append((cid, s, e))
    assert list(map(tuple, got[["conv_id", "start_idx", "end_idx"]].values)) == sorted(expect)
    # span is exact micros
    if len(got):
        byidx = pdf.set_index(["conv_id", "turn_idx"])["ts_us"]
        for _, r in got.iterrows():
            assert r.span_us == byidx[(r.conv_id, r.end_idx)] - byidx[(r.conv_id, r.start_idx)]


@pytest.mark.parametrize("within", [None, 400])
def test_match_pattern_skip_vs_reference(spark, within):
    pdf = _table(spark, seed=11)
    df = spark.createDataFrame(pdf.drop(columns=["ts_us"]))
    fsteps = (
        Step("u", role="user"),
        Step("s", role="tool", tool="search"),
        Step("a", role="assistant"),
    )
    got = (
        match_pattern(df, fsteps, mode="skip", within=within)
        .orderBy("conv_id", "u_idx")
        .toPandas()
    )
    expect = []
    for cid, g in pdf.groupby("conv_id"):
        rows = g.sort_values("turn_idx").to_dict("records")
        for chain in ref_skip(rows, fsteps, None if within is None else within * 10**6):
            expect.append((cid, *chain))
    assert (
        list(map(tuple, got[["conv_id", "u_idx", "s_idx", "a_idx"]].values))
        == sorted(expect)
    )


def test_match_pattern_validation(spark):
    df = spark.createDataFrame(_table(spark).drop(columns=["ts_us"]))
    with pytest.raises(ValueError):
        match_pattern(df, [Step("u", role="user")])
    with pytest.raises(ValueError):
        match_pattern(df, [Step("u", role="user"), Step("u", role="tool")])
    with pytest.raises(ValueError):
        match_pattern(df, STEPS3, mode="bogus")


def test_strict_plan_is_single_exchange_no_join(spark):
    """The strict plan must stay one hash exchange on the key with zero
    joins — the 100-TB shape (SURVEY §2.14)."""
    df = spark.createDataFrame(_table(spark).drop(columns=["ts_us"]))
    plan = match_pattern(df, STEPS3, mode="strict")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def _plan_counts(plan: str) -> list[int]:
    # Join and Exchange matches (Exchange by the regex of perfbench/batch.py)
    return [
        len(re.findall(r"Join\b", plan)),
        len(re.findall(r"\b(?:Exchange|BroadcastExchange)\b", plan)),
    ]


def test_skip_plan_no_larger_than_committed_dump(spark, sf_dir):
    """The cep_funnel gate query (a plain skip pattern), once executed, has
    no more Join or Exchange matches than the committed dump of the skip
    plan, and the skip operator itself adds no join and exactly one hash
    exchange, on the key (the transcripts derivation brings its own, on
    user_id)."""
    import __spark_entry__ as E

    out = E._q_cep_funnel(spark, sf_dir)
    assert out.collect()  # runs out's own query execution: its plan is final
    plan = out._jdf.queryExecution().executedPlan().toString()
    got = _plan_counts(plan)
    with open(FUNNEL_PLAN_DUMP) as f:
        want = _plan_counts("".join(ln for ln in f if not ln.startswith("#")))
    assert all(g <= w for g, w in zip(got, want)), (got, want)
    final = plan.split("== Initial Plan ==")[0]
    assert got[0] == 0, plan
    assert re.findall(r"Exchange hashpartitioning\((\w+)", final) == [
        "conv_id",
        "user_id",
    ], final


def test_match_pattern_within_turns(spark):
    """Skip mode bounded by turn distance; strict mode rejects the knob."""
    pdf = _table(spark, seed=11)
    df = spark.createDataFrame(pdf.drop(columns=["ts_us"]))
    fsteps = (
        Step("u", role="user"),
        Step("s", role="tool", tool="search"),
        Step("a", role="assistant"),
    )
    allm = match_pattern(df, fsteps, mode="skip").toPandas()
    bounded = match_pattern(df, fsteps, mode="skip", within_turns=3).toPandas()
    assert len(bounded) == (allm["a_idx"] - allm["u_idx"] <= 3).sum()
    assert (bounded["a_idx"] - bounded["u_idx"] <= 3).all()
    with pytest.raises(ValueError, match="skip mode only"):
        match_pattern(df, STEPS3, mode="strict", within_turns=3)


def ref_skip_guarded(rows, steps, guards):
    """ref_skip + notFollowedBy guards: no guard-matching row strictly
    between matched step i and matched step i+1."""
    out = []
    pos = {r["turn_idx"]: i for i, r in enumerate(rows)}
    for chain in ref_skip(rows, steps):
        ok = True
        for seg, g in guards.items():
            lo, hi = pos[chain[seg]], pos[chain[seg + 1]]
            if any(_holds(g, rows[i]) for i in range(lo + 1, hi)):
                ok = False
                break
        if ok:
            out.append(chain)
    return out


def test_match_pattern_not_between_vs_reference(spark):
    pdf = _table(spark, seed=23, n_convs=8, max_turns=30)
    df = spark.createDataFrame(pdf.drop(columns=["ts_us"]))
    fsteps = (
        Step("u", role="user"),
        Step("s", role="tool", tool="search"),
        Step("a", role="assistant"),
    )
    guards = {0: Step("g", role="tool", tool="code"), 1: Step("g2", role="system")}
    got = (
        match_pattern(df, fsteps, mode="skip", not_between=guards)
        .orderBy("conv_id", "u_idx")
        .toPandas()
    )
    expect = []
    for cid, g in pdf.groupby("conv_id"):
        rows = g.sort_values("turn_idx").to_dict("records")
        for chain in ref_skip_guarded(rows, fsteps, guards):
            expect.append((cid, *chain))
    assert (
        list(map(tuple, got[["conv_id", "u_idx", "s_idx", "a_idx"]].values))
        == sorted(expect)
    )
    # guards must actually cut something on this seed, or the test is vacuous
    assert len(got) < len(
        match_pattern(df, fsteps, mode="skip").toPandas()
    )


def test_not_between_validation(spark):
    df = spark.createDataFrame(_table(spark).drop(columns=["ts_us"]))
    with pytest.raises(ValueError, match="skip mode only"):
        match_pattern(df, STEPS3, mode="strict",
                      not_between={0: Step("g", role="system")})
    fsteps = (Step("u", role="user"), Step("a", role="assistant"))
    with pytest.raises(ValueError, match="out of range"):
        match_pattern(df, fsteps, mode="skip",
                      not_between={1: Step("g", role="system")})
