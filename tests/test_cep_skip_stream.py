"""Streaming skip-till-next CEP (cfg.pattern_mode='skip', Flink
`followedBy`): the engine-integrated frontier matcher must find exactly the
pure-Python brute-force oracle's matches (test_cep.ref_skip) across
micro-batch boundaries, out-of-order arrival, and duplicates — each match
exactly once.
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
    stream_matcher,
)
from dataflow_ordered_processing_spark.sources import scenarios
from dataflow_ordered_processing_spark.streaming.ordered_stream import (
    OrderedStreamConfig,
    split_output_cep,
)

from streaming_utils import run_pipeline_module, run_to_memory
from test_cep import _holds, ref_skip, ref_skip_guarded
from test_cep_times import _brute_quant_rows

# a real funnel: user → a search tool call somewhere later → an assistant
# turn somewhere after that (skip mode — strict would almost never match)
STEPS = (
    Step("u", role="user"),
    Step("s", role="tool", tool="search"),
    Step("a", role="assistant"),
)
GUARD = {0: Step("g", role="tool", tool="code")}


def _oracle_expected(full, within=None, within_turns=None, guards=None):
    """The brute-force oracle (test_cep.ref_skip / ref_skip_guarded)
    projected to the streaming match-row shape (start = anchor step,
    end = final step)."""
    out = []
    for cid, g in full.groupby("conv_id", sort=True):
        g = g.sort_values("turn_idx")
        ts = dict(zip(g["turn_idx"].tolist(), g["ts"]))
        rows = g.to_dict("records")
        chains = (
            ref_skip_guarded(rows, STEPS, guards) if guards else ref_skip(rows, STEPS)
        )
        for chain in chains:
            s, e = chain[0], chain[-1]
            span = (ts[e] - ts[s]) // pd.Timedelta(microseconds=1)
            if within is not None and span > within * 1_000_000:
                continue
            if within_turns is not None and e - s > within_turns:
                continue
            out.append((cid, s, e, ts[s], ts[e], span))
    cols = ["conv_id", "start_idx", "end_idx", "ts_first", "ts_last", "span_us"]
    return pd.DataFrame(out, columns=cols).astype(
        {"start_idx": "int64", "end_idx": "int64", "span_us": "int64"}
    )


def _stream_matches(spark, tmp_path, batches, cfg, **run_kw):
    q, name, _ = run_to_memory(spark, str(tmp_path), batches, cfg=cfg, **run_kw)
    try:
        _, _, matches = split_output_cep(spark.table(name))
        return matches.orderBy("conv_id", "start_idx", "end_idx").toPandas()
    finally:
        q.stop()


def _damaged_batches(n_convs=5, n_turns=19):
    """Multi-batch out-of-order arrival with duplicates — evens buffer
    first, odds close the gaps, head rows re-deliver."""
    full = pd.concat(
        [scenarios.conversation(c, n_turns) for c in range(n_convs)],
        ignore_index=True,
    )
    b1 = full[full.turn_idx % 2 == 0]
    b2 = pd.concat(
        [full[full.turn_idx % 2 == 1], full.head(7)], ignore_index=True
    )
    return full, [b1, b2]


def _assert_equal(got: pd.DataFrame, expect: pd.DataFrame):
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), expect.reset_index(drop=True)
    )


def test_skip_stream_equals_batch_across_boundaries(spark, tmp_path):
    full, batches = _damaged_batches()
    cfg = OrderedStreamConfig(pattern=STEPS, pattern_mode="skip")
    got = _stream_matches(spark, tmp_path, batches, cfg)
    expect = _oracle_expected(full)
    assert len(expect) > 0
    _assert_equal(got, expect)
    # skip matches genuinely span non-consecutive turns somewhere
    assert (expect.end_idx - expect.start_idx > 2).any()


def test_skip_sharded_equals_batch(spark, tmp_path):
    full, batches = _damaged_batches()
    cfg = OrderedStreamConfig(pattern=STEPS, pattern_mode="skip")
    got = _stream_matches(
        spark, tmp_path, batches, cfg, n_shards=4
    )
    _assert_equal(got, _oracle_expected(full))


def test_skip_stream_within_seconds(spark, tmp_path):
    full, batches = _damaged_batches(n_convs=3, n_turns=25)
    cfg = OrderedStreamConfig(
        pattern=STEPS, pattern_mode="skip", pattern_within_s=200
    )
    got = _stream_matches(spark, tmp_path, batches, cfg)
    expect = _oracle_expected(full, within=200)
    unbounded = _oracle_expected(full)
    assert 0 < len(expect) < len(unbounded)  # the bound actually cuts
    _assert_equal(got, expect)


def test_skip_stream_within_turns(spark, tmp_path):
    full, batches = _damaged_batches(n_convs=3, n_turns=25)
    cfg = OrderedStreamConfig(
        pattern=STEPS, pattern_mode="skip", pattern_within_turns=6
    )
    got = _stream_matches(spark, tmp_path, batches, cfg)
    expect = _oracle_expected(full, within_turns=6)
    unbounded = _oracle_expected(full)
    assert 0 < len(expect) < len(unbounded)
    _assert_equal(got, expect)


def test_skip_stream_not_between_guard(spark, tmp_path):
    full, batches = _damaged_batches(n_convs=5, n_turns=25)
    cfg = OrderedStreamConfig(
        pattern=STEPS, pattern_mode="skip", pattern_not_between=GUARD
    )
    got = _stream_matches(spark, tmp_path, batches, cfg)
    expect = _oracle_expected(full, guards=GUARD)
    unguarded = _oracle_expected(full)
    assert 0 < len(expect) < len(unguarded)  # the guard actually kills some
    _assert_equal(got, expect)


def test_skip_property_vs_bruteforce():
    """Randomized splits / bounds / guards vs a pure-Python brute-force
    oracle, with the frontier round-tripped through pickle every hop
    (exactly what the engine persists). A candidate waiting on a
    (plain) step whose segment guard row has already arrived is dead: it
    must not stay in the returned frontier."""

    rng = random.Random(7)
    roles = ["user", "assistant", "tool"]
    tools = [None, "search", "code"]
    for trial in range(200):
        n = rng.randint(0, 40)
        ts, rows = 0, []
        for i in range(n):
            ts += rng.randint(1, 5) * 1_000_000
            rows.append((i + 1, rng.choice(roles), rng.choice(tools), ts))
        k = rng.randint(2, 4)
        steps = tuple(
            Step(
                f"s{i}",
                role=rng.choice(roles),
                tool=rng.choice(tools) if rng.random() < 0.4 else None,
            )
            for i in range(k)
        )
        within_us = rng.choice([None, 8_000_000, 30_000_000])
        within_turns = rng.choice([None, 3, 8])
        guards = (
            {
                seg: Step("g", role=rng.choice(roles))
                for seg in rng.sample(range(k - 1), rng.randint(1, k - 1))
            }
            if rng.random() < 0.5
            else None
        )
        ts = {r[0]: r[3] for r in rows}
        expect = sorted(
            (m[0], m[-1], ts[m[0]], ts[m[-1]])
            for m in _brute_quant_rows(
                [dict(zip(("turn_idx", "role", "tool", "ts_us"), r)) for r in rows],
                [(functools.partial(_holds, st), False, 1, 1) for st in steps],
                within_us,
                within_turns,
                {g: functools.partial(_holds, st) for g, st in (guards or {}).items()},
            )
        )
        fr, got, i = None, [], 0
        while i < len(rows):
            j = rng.randint(i + 1, len(rows))
            chunk = rows[i:j]
            i = j
            run = {
                "turn_idx": np.array([r[0] for r in chunk], dtype=np.int64),
                "role": np.array([r[1] for r in chunk], dtype=object),
                "tool": np.array([r[2] for r in chunk], dtype=object),
                "ts_us": np.array([r[3] for r in chunk], dtype=np.int64),
            }
            m, fr = match_skip(steps, run, fr, within_us, within_turns, guards)
            fr = pickle.loads(pickle.dumps(fr))
            for w, cpos in zip(fr["wait"].tolist(), fr["cpos"].tolist()):
                g = (guards or {}).get(w - 1)
                assert g is None or not any(
                    r[0] > cpos and r[1] == g.role for r in rows[:i]
                ), f"trial {trial}: guarded candidate kept in {fr}"
            got.extend(
                zip(
                    m["start_idx"].tolist(),
                    m["end_idx"].tolist(),
                    m["ts_first_us"].tolist(),
                    m["ts_last_us"].tolist(),
                )
            )
        assert sorted(got) == expect, f"trial {trial}: {steps} {guards}"


def test_skip_step_trail_only_for_candidates_anchored_in_the_call():
    """match_skip reports each step's matched turn (and a quantified step's
    run end) for candidates anchored in the call; a step matched in an
    earlier call reads -1, because the frontier does not carry it."""

    def run(lo, roles):
        n = len(roles)
        return {
            "turn_idx": np.arange(lo, lo + n, dtype=np.int64),
            "role": np.array(roles, dtype=object),
            "tool": np.array([None] * n, dtype=object),
            "ts_us": np.arange(lo, lo + n, dtype=np.int64),
        }

    steps = (Step("u", role="user"), Times(Step("t", role="tool"), 1, None))
    m, fr = match_skip(steps, run(1, ["user", "tool"]))
    assert m["step_idx"].shape == (0, 2)
    m, _ = match_skip(steps, run(3, ["user", "tool", "tool"]), fr, final=True)
    assert m["start_idx"].tolist() == [1, 3]
    assert m["step_idx"].tolist() == [[-1, 2], [3, 4]]
    assert m["step_end_idx"].tolist() == [[-1, 2], [3, 5]]


def test_skip_gap_guard_drops_stale_candidates():
    """A turn_idx jump (state re-creation after TTL eviction) drops open
    candidates instead of matching across rows the incarnation never saw."""
    mk = lambda idx, role: (
        {
            "turn_idx": np.array([i for i, _ in idx_role], dtype=np.int64),
            "role": np.array([r for _, r in idx_role], dtype=object),
            "tool": np.array([None] * len(idx_role), dtype=object),
            "ts_us": np.array(
                [i * 1_000_000 for i, _ in idx_role], dtype=np.int64
            ),
        }
        for idx_role in [list(zip(idx, role))]
    ).__next__()
    steps = (Step("u", role="user"), Step("a", role="assistant"))
    m1, fr = match_skip(steps, mk([1, 2], ["user", "tool"]), None)
    assert len(m1["start_idx"]) == 0 and len(fr["anchor_idx"]) == 1
    # contiguous continuation completes the candidate...
    m2, _ = match_skip(steps, mk([3], ["assistant"]), fr)
    assert m2["start_idx"].tolist() == [1]
    # ...a gapped continuation (idx jumps 2→5) must NOT
    m3, fr3 = match_skip(steps, mk([5], ["assistant"]), fr)
    assert len(m3["start_idx"]) == 0 and len(fr3["anchor_idx"]) == 0


def test_skip_frontier_dropped_at_completion():
    """A completed conversation's tombstone must not retain open frontier
    candidates (they can never complete — the sentinel ends the scope)."""
    from test_cep_stream import _FakeGroupState

    from dataflow_ordered_processing_spark.streaming.ordered_sharded import (
        _CEP,
        make_sharded_func,
    )

    full = scenarios.conversation(1, 6)
    cfg = OrderedStreamConfig(pattern=STEPS, pattern_mode="skip")
    func = make_sharded_func(cfg)
    state = _FakeGroupState()
    list(func((0,), iter([full.iloc[:4]]), state))
    fr = pickle.loads(state.get[0])[_CEP]["conv-000001"]
    assert len(fr["anchor_idx"]) > 0  # open anchors carried
    list(func((0,), iter([full.iloc[4:]]), state))
    assert _CEP not in pickle.loads(state.get[0])  # frontier dropped


def test_config_validation():
    with pytest.raises(ValueError, match="skip mode only"):
        OrderedStreamConfig(pattern=STEPS, pattern_within_turns=4)
    with pytest.raises(ValueError, match="skip mode only"):
        OrderedStreamConfig(pattern=STEPS, pattern_not_between=GUARD)
    with pytest.raises(ValueError, match="unknown pattern mode"):
        OrderedStreamConfig(pattern=STEPS, pattern_mode="greedy")
    with pytest.raises(ValueError, match="require pattern"):
        OrderedStreamConfig(pattern_mode="skip")
    with pytest.raises(ValueError, match="require pattern"):
        OrderedStreamConfig(pattern_within_s=5)
    with pytest.raises(ValueError, match="requires status_heartbeat_ms"):
        OrderedStreamConfig(evict_idle_after_heartbeats=3)
    with pytest.raises(ValueError, match="must be a.*Step"):
        stream_matcher(STEPS, "skip", not_between={0: "role = 'tool'"})
    with pytest.raises(ValueError, match="out of range"):
        stream_matcher(STEPS, "skip", not_between={5: GUARD[0]})


def test_marker_pins_mode(tmp_path):
    """Resuming a skip checkpoint as strict (or vice versa) is refused by
    the engine marker — the state algebras are incompatible."""
    import os

    from dataflow_ordered_processing_spark.streaming.sinks import (
        _check_engine_marker,
        _pattern_spec,
    )

    ckpt = os.path.join(str(tmp_path), "ckpt")
    spec_skip = _pattern_spec(STEPS, None, "skip", 6, GUARD)
    _check_engine_marker(ckpt, "sharded", 8, spec_skip)
    _check_engine_marker(ckpt, "sharded", 8, spec_skip)  # same: fine
    with pytest.raises(ValueError, match="cannot resume"):
        _check_engine_marker(ckpt, "sharded", 8, _pattern_spec(STEPS))
    with pytest.raises(ValueError, match="cannot resume"):
        _check_engine_marker(
            ckpt, "sharded", 8, _pattern_spec(STEPS, None, "skip", 9, GUARD)
        )


def test_pipeline_sink_lands_skip_matches(spark, tmp_path):
    """End-to-end: a skip-pattern pipeline lands match rows in the unified
    epoch sink and the brute-force oracle agrees."""
    import os

    from dataflow_ordered_processing_spark.streaming import (
        start_ordered_pipeline,
    )
    from dataflow_ordered_processing_spark.streaming.sinks import (
        SinkConfig,
        read_sink,
    )
    from streaming_utils import StagedStream

    full = pd.concat(
        [scenarios.conversation(c, 13) for c in range(3)], ignore_index=True
    )
    base = str(tmp_path)
    sink = SinkConfig(
        data_path=os.path.join(base, "data"),
        checkpoint=os.path.join(base, "ckpt"),
    )
    cfg = OrderedStreamConfig(pattern=STEPS, pattern_mode="skip")
    st = StagedStream(spark, base)
    q = start_ordered_pipeline(st.source(), sink, cfg)
    try:
        st.push(full.sample(frac=1.0, random_state=9))
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        read_sink(spark, sink.data_path, table="matches")
        .orderBy("conv_id", "start_idx", "end_idx")
        .toPandas()
    )
    expect = _oracle_expected(full)
    assert len(got) == len(expect) > 0
    assert got["start_idx"].tolist() == expect["start_idx"].tolist()
    assert got["end_idx"].tolist() == expect["end_idx"].tolist()


def test_parse_not_between_cli():
    parse_not_between = run_pipeline_module().parse_not_between
    g = parse_not_between("0:g=tool/code,1:h=user")
    assert g[0].role == "tool" and g[0].tool == "code"
    assert g[1].role == "user" and g[1].tool is None
    with pytest.raises(ValueError):
        parse_not_between("nonsense")


def test_skip_matches_deduped_under_merge_on_key(spark, tmp_path):
    """Eager cleanup + post-completion re-delivery re-emits AND re-matches
    in skip mode too; merge_on_key must drop duplicate match rows by the
    same match_end_idx watermark rule as strict mode."""
    import os

    from dataflow_ordered_processing_spark.streaming import (
        start_ordered_pipeline,
    )
    from dataflow_ordered_processing_spark.streaming.sinks import (
        SinkConfig,
        read_sink,
    )
    from streaming_utils import StagedStream

    full = pd.concat(
        [scenarios.conversation(c, 13) for c in range(2)], ignore_index=True
    )
    base = str(tmp_path)
    sink = SinkConfig(
        data_path=os.path.join(base, "data"),
        checkpoint=os.path.join(base, "ckpt"),
        merge_on_key=True,
    )
    cfg = OrderedStreamConfig(
        pattern=STEPS, pattern_mode="skip", cleanup_on_complete=True
    )
    st = StagedStream(spark, base)
    q = start_ordered_pipeline(st.source(), sink, cfg)
    try:
        st.push(full)
        q.processAllAvailable()
        st.push(full)  # full re-delivery into fresh (removed) state
        q.processAllAvailable()
    finally:
        q.stop()
    data = read_sink(spark, sink.data_path).toPandas()
    assert not data.duplicated(subset=["conv_id", "turn_idx"]).any()
    matches = read_sink(spark, sink.data_path, table="matches").toPandas()
    expect = _oracle_expected(full)
    assert len(matches) == len(expect) > 0
    assert not matches.duplicated(subset=["conv_id", "start_idx", "end_idx"]).any()
