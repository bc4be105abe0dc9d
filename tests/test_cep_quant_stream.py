"""Streaming quantified CEP (Times steps on cfg.pattern, skip mode): the
incremental frontier matcher with maximal-run quantifiers must agree with
the brute-force oracle (test_cep_times._brute_quant) on completed
conversations, across micro-batch boundaries, out-of-order arrival, and
duplicates — and must HOLD a run that touches the last delivered turn until
a break row or the conversation's completion proves it maximal.
"""

from __future__ import annotations

import functools
import pickle
import random

import numpy as np
import pandas as pd
import pytest

from dataflow_ordered_processing_spark.operators.cep_core import (
    Step,
    Times,
    match_skip,
)
from dataflow_ordered_processing_spark.streaming.ordered_stream import (
    OrderedStreamConfig,
    split_output_cep,
)

from streaming_utils import run_pipeline_module, run_to_memory
from test_cep import _holds
from test_cep_times import _brute_quant, _brute_quant_rows

ROLES = ["user", "assistant", "tool"]
TOOLS = [None, "search", "code"]


def _random_convs(seed, n_convs=5, max_turns=35, sentinel=True):
    """Transcript-shaped corpus with i.i.d. random roles — consecutive
    same-role RUNS arise naturally (the scenario generator's rigid
    user→assistant→tool cycle never produces them)."""
    rng = random.Random(seed)
    rows = []
    for c in range(n_convs):
        n = rng.randint(8, max_turns)
        for i in range(1, n + 1):
            last = sentinel and i == n
            role = "system" if last else rng.choice(ROLES)
            rows.append(
                {
                    "conv_id": f"q{c:03d}",
                    "turn_idx": np.int32(i),
                    "role": role,
                    "text": "__end__" if last else f"t{c}:{i}",
                    "tool": (
                        rng.choice(TOOLS) if role == "tool" else None
                    ),
                    "ts": pd.Timestamp("2026-02-01")
                    + pd.Timedelta(seconds=c * 9_000 + i * 30),
                }
            )
    return pd.DataFrame(rows)


STEPS = (Times(Step("t", role="tool"), 2, None), Step("u", role="user"))


def _oracle_expected(full, steps=STEPS, within_turns=None):
    """The brute-force oracle (test_cep_times._brute_quant) projected to
    the streaming match-row shape (first step's idx, last step's last
    idx)."""
    return sorted(
        (r[0], r[1], r[-1])
        for r in _brute_quant(full, _pairs(steps), within_turns=within_turns)
    )


def _pairs(steps):
    """Steps as the brute-force oracle's (pred_fn, quant, n_min, n_max)."""
    return [
        (functools.partial(_holds, s.step), True, s.n_min, s.n_max)
        if isinstance(s, Times)
        else (functools.partial(_holds, s), False, 1, 1)
        for s in steps
    ]


def _stream_got(spark, tmp_path, batches, cfg, **run_kw):
    q, name, _ = run_to_memory(spark, str(tmp_path), batches, cfg=cfg, **run_kw)
    try:
        _, _, matches = split_output_cep(spark.table(name))
        return sorted(
            matches.select("conv_id", "start_idx", "end_idx")
            .toPandas()
            .astype({"start_idx": "int64", "end_idx": "int64"})
            .itertuples(index=False, name=None)
        )
    finally:
        q.stop()


def test_quant_stream_equals_batch(spark, tmp_path):
    full = _random_convs(3)
    b1 = full[full.turn_idx % 2 == 0]
    b2 = pd.concat([full[full.turn_idx % 2 == 1], full.head(6)], ignore_index=True)
    cfg = OrderedStreamConfig(pattern=STEPS, pattern_mode="skip")
    got = _stream_got(spark, tmp_path, [b1, b2], cfg)
    expect = _oracle_expected(full)
    assert got == expect and len(got) > 0
    # quantified runs genuinely longer than the minimum occur
    assert any(e - s >= 2 for _, s, e in got)


def test_quant_stream_equals_batch_sharded(spark, tmp_path):
    full = _random_convs(7)
    b1 = full[full.turn_idx % 3 == 0]
    b2 = full[full.turn_idx % 3 == 1]
    b3 = pd.concat([full[full.turn_idx % 3 == 2], full.head(4)], ignore_index=True)
    cfg = OrderedStreamConfig(
        pattern=STEPS, pattern_mode="skip", pattern_within_turns=9
    )
    got = _stream_got(
        spark, tmp_path, [b1, b2, b3], cfg, n_shards=4
    )
    expect = _oracle_expected(full, within_turns=9)
    assert got == expect and len(got) > 0


def test_quant_open_run_holds_until_proven_maximal(spark, tmp_path):
    """A run touching the last delivered turn stays OPEN (no match) until a
    break row or completion closes it — delivering the rest later yields
    exactly the batch result, still exactly once."""
    rows = []
    seq = ["user", "tool", "tool", "tool", "user", "system"]
    for i, role in enumerate(seq, start=1):
        rows.append(
            {
                "conv_id": "h000",
                "turn_idx": np.int32(i),
                "role": role,
                "text": "__end__" if role == "system" else f"x{i}",
                "tool": None,
                "ts": pd.Timestamp("2026-02-02") + pd.Timedelta(seconds=i * 30),
            }
        )
    full = pd.DataFrame(rows)
    steps = (Step("u", role="user"), Times(Step("t", role="tool"), 2, None))
    cfg = OrderedStreamConfig(pattern=steps, pattern_mode="skip")
    # batch 1 = turns 1..4 (tool run 2-4 touches the batch end → open);
    # batch 2 = turns 5..6 (user breaks the run, sentinel completes)
    got = _stream_got(spark, tmp_path, [full.iloc[:4], full.iloc[4:]], cfg)
    expect = _oracle_expected(full, steps=steps)
    assert got == expect == [("h000", 1, 4)]


def test_quant_final_flush_closes_open_run(spark, tmp_path):
    """The completion sentinel itself can close a quantified run (a run
    touching the conversation's final data turn is maximal)."""
    rows = []
    seq = ["user", "tool", "tool", "system"]
    for i, role in enumerate(seq, start=1):
        rows.append(
            {
                "conv_id": "f000",
                "turn_idx": np.int32(i),
                "role": role,
                "text": "__end__" if role == "system" else f"x{i}",
                "tool": None,
                "ts": pd.Timestamp("2026-02-03") + pd.Timedelta(seconds=i * 30),
            }
        )
    full = pd.DataFrame(rows)
    steps = (Step("u", role="user"), Times(Step("t", role="tool"), 2, None))
    cfg = OrderedStreamConfig(pattern=steps, pattern_mode="skip")
    got = _stream_got(spark, tmp_path, [full], cfg)
    assert got == _oracle_expected(full, steps=steps) == [("f000", 1, 3)]


def test_quant_property_vs_bruteforce():
    """Randomized roles/tools, quantifier bounds, guards, within bounds,
    arbitrary micro-batch splits, frontier round-tripped through pickle
    every hop, completion flush on the last chunk."""

    rng = random.Random(41)
    for trial in range(250):
        n = rng.randint(0, 40)
        t = 0
        rows = []
        for i in range(n):
            t += rng.randint(1, 5) * 1_000_000
            role = rng.choice(ROLES)
            rows.append(
                (i + 1, role, rng.choice(TOOLS) if role == "tool" else None, t)
            )
        k = rng.randint(2, 3)
        steps = []
        for i in range(k):
            role = rng.choice(ROLES)
            s = Step(f"s{i}", role=role)
            if rng.random() < 0.6:
                nm = rng.randint(1, 3)
                s = Times(s, nm, rng.choice([None, nm, nm + 2]))
            steps.append(s)
        steps = tuple(steps)
        within_us = rng.choice([None, 10_000_000, 40_000_000])
        within_turns = rng.choice([None, 4, 10])
        guards = None
        if rng.random() < 0.5:
            guards = {
                seg: Step("g", role=rng.choice(ROLES))
                for seg in rng.sample(range(k - 1), rng.randint(1, k - 1))
            }
        expect = sorted(
            (m[0], m[-1])
            for m in _brute_quant_rows(
                [dict(zip(("turn_idx", "role", "tool", "ts_us"), r)) for r in rows],
                _pairs(steps),
                within_us,
                within_turns,
                {g: functools.partial(_holds, st) for g, st in (guards or {}).items()},
            )
        )
        if n == 0:
            continue
        fr, got, i = None, [], 0
        while i < len(rows):
            j = rng.randint(i + 1, len(rows))
            chunk = rows[i:j]
            i = j
            rn = {
                "turn_idx": np.array([r[0] for r in chunk], np.int64),
                "role": np.array([r[1] for r in chunk], object),
                "tool": np.array([r[2] for r in chunk], object),
                "ts_us": np.array([r[3] for r in chunk], np.int64),
            }
            mm, fr = match_skip(
                steps, rn, fr, within_us, within_turns, guards,
                final=(i == len(rows)),
            )
            fr = pickle.loads(pickle.dumps(fr))
            got.extend(zip(mm["start_idx"].tolist(), mm["end_idx"].tolist()))
        assert sorted(got) == expect, (
            f"trial {trial}: {steps} guards={guards} "
            f"wu={within_us} wt={within_turns}"
        )


def test_quant_state_schema_and_marker(tmp_path):
    import os

    from dataflow_ordered_processing_spark.streaming.sinks import (
        _check_engine_marker,
        _pattern_spec,
    )

    # the quantified pattern and its plain twin must NOT share a marker
    plain = (Step("t", role="tool"), Step("u", role="user"))
    quant = (Times(Step("t", role="tool"), 2, None), Step("u", role="user"))
    ckpt = os.path.join(str(tmp_path), "ckpt")
    _check_engine_marker(ckpt, "sharded", 8, _pattern_spec(quant, None, "skip"))
    _check_engine_marker(ckpt, "sharded", 8, _pattern_spec(quant, None, "skip"))
    with pytest.raises(ValueError, match="cannot resume"):
        _check_engine_marker(
            ckpt, "sharded", 8, _pattern_spec(plain, None, "skip")
        )
    with pytest.raises(ValueError, match="cannot resume"):
        _check_engine_marker(
            ckpt,
            "sharded",
            8,
            _pattern_spec(
                (Times(Step("t", role="tool"), 3, None), Step("u", role="user")),
                None,
                "skip",
            ),
        )


def test_quant_validation_and_strict_expansion():
    from dataflow_ordered_processing_spark.operators.cep_core import (
        stream_matcher,
    )

    # strict times(2,2) expands into plain steps (no quant state)
    m = stream_matcher(
        (Times(Step("t", role="tool"), 2, 2), Step("u", role="user")), "strict"
    )
    assert not any(isinstance(s, Times) for s in m.steps) and len(m.steps) == 3
    with pytest.raises(ValueError, match="exact count"):
        stream_matcher((Times(Step("t", role="tool"), 2, None), Step("u", role="user")), "strict")
    with pytest.raises(ValueError, match="structural Step"):
        stream_matcher((Times(("h", "flag"), 2, None), Step("u", role="user")), "skip")


def test_quant_cli_parse():
    parse_pattern = run_pipeline_module().parse_pattern
    steps = parse_pattern("t=tool*3+,u=user,s=tool/search*2-4,x=assistant*2")
    assert isinstance(steps[0], Times) and steps[0].n_min == 3 and steps[0].n_max is None
    assert isinstance(steps[1], Step)
    assert steps[2].n_min == 2 and steps[2].n_max == 4
    assert steps[3].n_min == 2 and steps[3].n_max == 2


def test_in_set_step_sql_mask_and_validation():
    s = Step("x", role=("assistant", "tool"))
    assert s.sql == "role IN ('assistant', 'tool')"
    run = {
        "turn_idx": np.arange(1, 5, dtype=np.int64),
        "role": np.array(["user", "tool", "assistant", "system"], object),
        "tool": np.array([None, "search", None, None], object),
        "ts_us": np.arange(1, 5, dtype=np.int64) * 1_000_000,
    }
    assert s.mask(run).tolist() == [False, True, True, False]
    # lists normalize to tuples; sets (unordered) are rejected; each value
    # stays identifier-validated
    assert Step("y", role=["user", "tool"]).role == ("user", "tool")
    with pytest.raises(ValueError, match="set"):
        Step("z", role={"user", "tool"})
    with pytest.raises(ValueError, match="identifier"):
        Step("z", role=("user", "o'brien"))
    with pytest.raises(ValueError, match="empty"):
        Step("z", role=())


def test_in_set_quantified_run_stream_equals_batch(spark, tmp_path):
    """'2+ consecutive NON-USER turns then a user turn' — the IN-set
    alphabet quantifiers naturally want; streaming == the oracle."""
    steps = (
        Times(Step("b", role=("assistant", "tool")), 2, None),
        Step("u", role="user"),
    )
    full = _random_convs(29, n_convs=4, max_turns=28)
    b1 = full[full.turn_idx % 2 == 0]
    b2 = pd.concat([full[full.turn_idx % 2 == 1], full.head(5)], ignore_index=True)
    cfg = OrderedStreamConfig(pattern=steps, pattern_mode="skip")
    got = _stream_got(spark, tmp_path, [b1, b2], cfg)
    expect = _oracle_expected(full, steps=steps)
    assert got == expect and len(got) > 0
    assert any(e - s >= 2 for _, s, e in got)


def test_in_set_marker_roundtrip(tmp_path):
    """A tuple-valued step must survive the JSON marker round-trip (tuples
    serialize as lists — the spec normalizes so resume compares equal)."""
    import os

    from dataflow_ordered_processing_spark.streaming.sinks import (
        _check_engine_marker,
        _pattern_spec,
    )

    steps = (
        Times(Step("b", role=("assistant", "tool")), 2, None),
        Step("u", role="user"),
    )
    ckpt = os.path.join(str(tmp_path), "ckpt")
    spec = _pattern_spec(steps, None, "skip")
    _check_engine_marker(ckpt, "sharded", 8, spec)
    _check_engine_marker(ckpt, "sharded", 8, _pattern_spec(steps, None, "skip"))
    with pytest.raises(ValueError, match="cannot resume"):
        _check_engine_marker(
            ckpt,
            "sharded",
            8,
            _pattern_spec(
                (Times(Step("b", role=("tool", "assistant")), 2, None),
                 Step("u", role="user")),
                None,
                "skip",
            ),
        )


def test_in_set_cli_parse():
    parse_pattern = run_pipeline_module().parse_pattern
    steps = parse_pattern("b=assistant|tool*2+,u=user")
    assert isinstance(steps[0], Times)
    assert steps[0].step.role == ("assistant", "tool")
    assert steps[1].role == "user"


def test_quant_with_capped_drain(spark, tmp_path):
    """max_emit_per_batch splits one conversation's drain across many timer
    firings; the quantified frontier (incl. open runs spanning the capped
    emission boundaries) must still find exactly the batch matches.
    ProcessingTimeTimeout queries never quiesce under processAllAvailable —
    drive with a trigger and poll the sink."""
    import time

    from streaming_utils import StagedStream
    from dataflow_ordered_processing_spark.streaming import ordered_stream

    full = _random_convs(13, n_convs=1, max_turns=24)
    shuffled = full.sample(frac=1.0, random_state=3)
    cfg = OrderedStreamConfig(
        pattern=STEPS,
        pattern_mode="skip",
        max_emit_per_batch=3,
        status_heartbeat_ms=300,
    )
    src = StagedStream(spark, str(tmp_path))
    name = "quant_capped"
    q = (
        ordered_stream(src.source(), cfg)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        src.push(shuffled)
        _, _, matches_df = split_output_cep(spark.table(name))
        expect = _oracle_expected(full)
        deadline = time.time() + 90
        while time.time() < deadline:
            if matches_df.count() >= len(expect):
                break
            time.sleep(0.5)  # timer-driven drains flush the capped remainder
        got = sorted(
            matches_df.select("conv_id", "start_idx", "end_idx")
            .toPandas()
            .astype({"start_idx": "int64", "end_idx": "int64"})
            .itertuples(index=False, name=None)
        )
    finally:
        q.stop()
    assert got == expect and len(got) > 0


def test_deferred_quant_match_survives_merge_on_key(spark, tmp_path):
    """Review r7a regression: a quantified match whose final run closes one
    batch AFTER its end turn was committed (run open at the epoch boundary,
    broken by the next batch's first row) must NOT be dropped by
    merge_on_key — matches dedup against the committed MATCH-end watermark
    (keyidx hi_match), not the data-turn watermark."""
    import os

    from dataflow_ordered_processing_spark.streaming import (
        start_ordered_pipeline,
    )
    from dataflow_ordered_processing_spark.streaming.sinks import (
        SinkConfig,
        read_sink,
    )
    from streaming_utils import StagedStream

    rows = []
    seq = ["user", "tool", "tool", "user", "system"]
    for i, role in enumerate(seq, start=1):
        rows.append(
            {
                "conv_id": "r000",
                "turn_idx": np.int32(i),
                "role": role,
                "text": "__end__" if role == "system" else f"x{i}",
                "tool": None,
                "ts": pd.Timestamp("2026-02-05") + pd.Timedelta(seconds=i * 30),
            }
        )
    full = pd.DataFrame(rows)
    steps = (Step("u", role="user"), Times(Step("t", role="tool"), 2, None))
    base = str(tmp_path)
    sink = SinkConfig(
        data_path=os.path.join(base, "data"),
        checkpoint=os.path.join(base, "ckpt"),
        merge_on_key=True,
    )
    cfg = OrderedStreamConfig(pattern=steps, pattern_mode="skip")
    st = StagedStream(spark, base)
    q = start_ordered_pipeline(st.source(), sink, cfg)
    try:
        # epoch 1: turns 1-3 — the tool run (2,3) is OPEN at the boundary,
        # data watermark commits hi_turn=3
        st.push(full.iloc[:3])
        q.processAllAvailable()
        # epoch 2: turn 4 breaks the run → match (1,3) emits NOW, with
        # match_end_idx=3 == the already-committed data watermark
        st.push(full.iloc[3:])
        q.processAllAvailable()
    finally:
        q.stop()
    matches = read_sink(spark, sink.data_path, table="matches").toPandas()
    got = sorted(
        matches[["conv_id", "start_idx", "end_idx"]]
        .astype({"start_idx": "int64", "end_idx": "int64"})
        .itertuples(index=False, name=None)
    )
    assert got == [("r000", 1, 3)]  # dropped entirely before the hi_match fix
