"""Quantified CEP steps (cep_core.Times — Flink times(n)/times(n,m)/
oneOrMore analog, maximal-run semantics): the batch skip plan with
quantifiers must agree with a pure-Python brute-force oracle, and the
strict-mode times(n,n) expansion must equal the hand-repeated pattern.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest

from dataflow_ordered_processing_spark.operators.cep_core import (
    Step,
    Times,
    one_or_more,
    stream_matcher,
)
from dataflow_ordered_processing_spark.plans.cep import match_pattern


def _corpus(rng, n_convs=6, max_turns=40):
    """Gap-free per-key turns with a boolean `flag` column exhibiting
    genuine run-length variance (what quantifiers quantify over)."""
    rows = []
    for c in range(n_convs):
        n = rng.randint(5, max_turns)
        for i in range(1, n + 1):
            rows.append(
                {
                    "conv_id": f"c{c:03d}",
                    "turn_idx": i,
                    "role": ["user", "assistant", "tool"][rng.randrange(3)],
                    "flag": rng.random() < 0.55,
                    "ts": pd.Timestamp("2026-01-01")
                    + pd.Timedelta(seconds=c * 10_000 + i * 30),
                }
            )
    return pd.DataFrame(rows)


def _brute_quant_rows(rows, pairs, within_us=None, within_turns=None, guards=None):
    """Oracle over one conversation: ``rows`` are dicts in turn order with
    turn_idx and ts_us; pairs = [(pred_fn, quant, n_min, n_max)], guards =
    {segment: pred_fn}. Maximal-run semantics, skip-till-next hops from the
    run END. One tuple per match: each step's matched turn_idx, followed by
    its run's last turn_idx for a quantified step."""
    out = []
    n = len(rows)

    def run_end(p0, pred):
        e = p0
        while e + 1 < n and pred(rows[e + 1]):
            e += 1
        return e

    def is_run_start(p0, pred):
        return pred(rows[p0]) and (p0 == 0 or not pred(rows[p0 - 1]))

    first = pairs[0]
    for a in range(n):
        if first[1]:  # quantified anchor
            if not is_run_start(a, first[0]):
                continue
            e = run_end(a, first[0])
            ln = e - a + 1
            if ln < first[2] or (first[3] is not None and ln > first[3]):
                continue
            cpos, positions = e, [(a, e)]
        else:
            if not first[0](rows[a]):
                continue
            cpos, positions = a, [(a, a)]
        ok = True
        for si in range(1, len(pairs)):
            pred, quant, n_min, n_max = pairs[si]
            hit = None
            for q in range(cpos + 1, n):
                if quant:
                    if is_run_start(q, pred):
                        e = run_end(q, pred)
                        ln = e - q + 1
                        if ln >= n_min and (n_max is None or ln <= n_max):
                            hit = (q, e)
                            break
                elif pred(rows[q]):
                    hit = (q, q)
                    break
            if hit is None:
                ok = False
                break
            if guards and (si - 1) in guards and any(
                guards[si - 1](rows[q]) for q in range(cpos + 1, hit[0])
            ):
                ok = False
                break
            positions.append(hit)
            cpos = hit[1]
        if not ok:
            continue
        first_row, last_row = rows[positions[0][0]], rows[positions[-1][1]]
        if within_us is not None and last_row["ts_us"] - first_row["ts_us"] > within_us:
            continue
        if (
            within_turns is not None
            and last_row["turn_idx"] - first_row["turn_idx"] > within_turns
        ):
            continue
        vals = []
        for si2, (p0, p1) in enumerate(positions):
            vals.append(int(rows[p0]["turn_idx"]))
            if pairs[si2][1]:
                vals.append(int(rows[p1]["turn_idx"]))
        out.append(tuple(vals))
    return out


def _brute_quant(df, pairs, within_us=None, within_turns=None, guards=None):
    """_brute_quant_rows per conversation of ``df`` (conv_id, turn_idx,
    ts, predicate columns); sorted (conv_id, *turn_idx values) tuples."""
    out = []
    for conv, g in df.groupby("conv_id", sort=True):
        g = g.sort_values("turn_idx")
        g = g.assign(ts_us=g["ts"].astype("datetime64[us]").astype("int64"))
        rows = g.to_dict("records")
        out += [
            (conv, *m)
            for m in _brute_quant_rows(rows, pairs, within_us, within_turns, guards)
        ]
    return sorted(out)


FLAG = ("h", "flag")
USER = Step("u", role="user")


def _got_rows(m, cols):
    return sorted(
        tuple(r) for r in m.select(*cols).toPandas().itertuples(index=False, name=None)
    )


def test_times_runs_then_step_vs_bruteforce(spark):
    rng = random.Random(11)
    df = _corpus(rng)
    sdf = spark.createDataFrame(df)
    for n_min, n_max in [(2, None), (3, None), (2, 4), (1, 1)]:
        m = match_pattern(
            sdf, [Times(FLAG, n_min, n_max), USER], mode="skip"
        )
        got = _got_rows(m, ["conv_id", "h_idx", "h_end_idx", "u_idx"])
        pairs = [
            (lambda r: bool(r["flag"]), True, n_min, n_max),
            (lambda r: r["role"] == "user", False, 1, 1),
        ]
        expect = _brute_quant(df, pairs)
        assert got == expect, f"times({n_min},{n_max})"
        if n_min <= 2:
            assert len(got) > 0


def test_step_then_times_last_quant_vs_bruteforce(spark):
    """Quantified LAST step: ts_last/span measured at the run END row."""
    rng = random.Random(23)
    df = _corpus(rng)
    sdf = spark.createDataFrame(df)
    m = match_pattern(sdf, [USER, Times(FLAG, 2, None)], mode="skip")
    got = _got_rows(m, ["conv_id", "u_idx", "h_idx", "h_end_idx"])
    pairs = [
        (lambda r: r["role"] == "user", False, 1, 1),
        (lambda r: bool(r["flag"]), True, 2, None),
    ]
    assert got == _brute_quant(df, pairs)
    assert len(got) > 0
    # span spans to the run end (strictly positive whenever the run has >1
    # row after a user anchor 30 s earlier)
    spans = m.select("span_us").toPandas()["span_us"]
    assert (spans > 0).all()


def test_three_quant_steps_with_guard_and_bounds(spark):
    rng = random.Random(5)
    df = _corpus(rng, n_convs=8)
    sdf = spark.createDataFrame(df)
    guard = {0: ("g", "role = 'tool'")}
    m = match_pattern(
        sdf,
        [Times(FLAG, 2, None), USER, one_or_more(("f2", "NOT flag"))],
        mode="skip",
        within_turns=12,
        not_between=guard,
    )
    got = _got_rows(
        m, ["conv_id", "h_idx", "h_end_idx", "u_idx", "f2_idx", "f2_end_idx"]
    )
    pairs = [
        (lambda r: bool(r["flag"]), True, 2, None),
        (lambda r: r["role"] == "user", False, 1, 1),
        (lambda r: not r["flag"], True, 1, None),
    ]
    expect = _brute_quant(
        df, pairs, within_turns=12, guards={0: lambda r: r["role"] == "tool"}
    )
    assert got == expect
    assert len(got) > 0


def test_conversation_spanning_arrow_batches(spark):
    """Batch skip mode matches a conversation whole when its rows span many
    Arrow batches (16 records each here): a quantified pattern with a guard
    against the brute-force oracle, every output column compared."""
    rng = random.Random(31)
    df = _corpus(rng, n_convs=8, max_turns=150).astype({"turn_idx": "int32"})
    assert df.groupby("conv_id").size().max() > 3 * 16
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "16")
    try:
        m = match_pattern(
            spark.createDataFrame(df),
            [Times(FLAG, 2, None), USER, one_or_more(("f2", "NOT flag"))],
            mode="skip",
            within_turns=30,
            not_between={1: ("g", "role = 'tool'")},
        ).toPandas()
    finally:
        spark.conf.set(conf, old)
    assert m.dtypes["h_idx"] == "int32" and m.dtypes["span_us"] == "int64"
    got = sorted(m.itertuples(index=False, name=None))
    pairs = [
        (lambda r: bool(r["flag"]), True, 2, None),
        (lambda r: r["role"] == "user", False, 1, 1),
        (lambda r: not r["flag"], True, 1, None),
    ]
    ts = df.set_index(["conv_id", "turn_idx"])["ts"]
    expect = []
    for r in _brute_quant(
        df, pairs, within_turns=30, guards={1: lambda r: r["role"] == "tool"}
    ):
        t0, t1 = ts[(r[0], r[1])], ts[(r[0], r[-1])]
        expect.append((*r, t0, t1, (t1 - t0) // pd.Timedelta(microseconds=1)))
    assert got == expect and len(got) > 0


def test_times_null_predicate_breaks_runs(spark):
    """A NULL predicate row (tool = 'x' where tool IS NULL) must BREAK a
    run, not silently extend it — three-valued logic regression guard."""
    df = pd.DataFrame(
        {
            "conv_id": ["c"] * 6,
            "turn_idx": range(1, 7),
            "role": ["tool", "tool", "user", "tool", "tool", "user"],
            # turns 1,2 are search; turn 3 has NULL tool; 4,5 search again
            "tool": ["search", "search", None, "search", "search", None],
            "ts": pd.date_range("2026-01-01", periods=6, freq="30s"),
        }
    )
    m = match_pattern(
        spark.createDataFrame(df),
        [Times(Step("s", role="tool", tool="search"), 2, None), USER],
        mode="skip",
    ).toPandas()
    # two separate 2-runs (1-2 and 4-5), each followed by a user turn —
    # NOT one 4-run spanning the NULL row
    got = sorted(zip(m.s_idx, m.s_end_idx, m.u_idx))
    assert got == [(1, 2, 3), (4, 5, 6)]


def test_strict_times_expansion_equals_repeats(spark):
    rng = random.Random(9)
    df = _corpus(rng)
    sdf = spark.createDataFrame(df)
    a = match_pattern(sdf, [Times(FLAG, 2, 2), USER], mode="strict")
    b = match_pattern(
        sdf, [("h1", "flag"), ("h2", "flag"), USER], mode="strict"
    )
    ga = sorted(
        a.select("conv_id", "start_idx", "end_idx")
        .toPandas()
        .itertuples(index=False, name=None)
    )
    gb = sorted(
        b.select("conv_id", "start_idx", "end_idx")
        .toPandas()
        .itertuples(index=False, name=None)
    )
    assert ga == gb and len(ga) > 0


def test_times_validation():
    with pytest.raises(ValueError, match="n_min"):
        Times(USER, 0)
    with pytest.raises(ValueError, match="n_max"):
        Times(USER, 3, 2)
    with pytest.raises(ValueError, match="Step or a"):
        Times("flag", 2)
    # streaming Times is supported for structural Steps (r7 late addition);
    # the raw (name, sql) tuple form stays batch-only (no mask to evaluate)
    m = stream_matcher((Times(USER, 2), Step("a", role="assistant")), "skip")
    assert isinstance(m.steps[0], Times)
    with pytest.raises(ValueError, match="structural Step"):
        stream_matcher(
            (Times(("h", "flag"), 2), Step("a", role="assistant")), "skip"
        )


def test_strict_open_ended_times_raises(spark):
    df = spark.createDataFrame(_corpus(random.Random(1)))
    with pytest.raises(ValueError, match="exact count"):
        match_pattern(df, [Times(FLAG, 2, None), USER], mode="strict").count()


def test_quant_plan_shape(spark):
    """The quantified skip plan finds runs inside the matcher: no
    Cartesian product, and every shuffle is keyed hash partitioning."""
    df = spark.createDataFrame(_corpus(random.Random(2)))
    plan = (
        match_pattern(df, [Times(FLAG, 3, None), USER], mode="skip")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # every shuffle exchange must be keyed hash partitioning (no
    # all-to-all / range repartition)
    import re

    for m in re.finditer(r"(?<!Broadcast)Exchange (\w+)", plan):
        assert m.group(1) in ("hashpartitioning", "SinglePartition"), plan


def test_strict_times_expansion_name_collision_raises():
    """ADVICE r7 hardening: a quantified step 'a' expands to a_1..a_n; a
    literal step already named 'a_1' must fail with a descriptive error,
    not the generic unique-name check (or duplicated <name>_idx columns)."""
    from dataflow_ordered_processing_spark.operators.cep_core import (
        expand_strict_times,
    )

    steps = [Times(Step("a", role="user"), 2, 2), Step("a_1", role="assistant")]
    with pytest.raises(ValueError, match="duplicate step names"):
        expand_strict_times(steps)
