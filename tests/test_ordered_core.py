"""Unit tests for the pure-pandas ordering state machine — the layer-1 tests
of SURVEY.md §5 (reference analog: MatcherTest / pipeline test expectations in
OrderBookProcessingPipelineTest.java:128-132,180-191)."""

import itertools

import numpy as np
import pandas as pd
import pytest

from dataflow_ordered_processing_spark.operators import ordered_core as core
from dataflow_ordered_processing_spark.operators.ordered_core import (
    OrderedState,
    apply_batch,
    status_dict,
)
from dataflow_ordered_processing_spark.sources.scenarios import (
    SCENARIOS,
    scenario,
    serial_oracle,
)
from dataflow_ordered_processing_spark.streaming import OrderedStreamConfig


def _to_core(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.assign(ts_us=pdf["ts"].astype("int64") // 1000)


def _run(batches):
    states: dict[str, OrderedState] = {}
    emitted = []
    for b in batches:
        for conv_id, grp in b.groupby("conv_id"):
            st = states.setdefault(conv_id, OrderedState())
            out = apply_batch(st, _to_core(grp))
            out["conv_id"] = conv_id
            emitted.append(out)
    return states, pd.concat(emitted, ignore_index=True)


def test_perfect_order_processes_every_event_on_arrival():
    # reference: every event processed on arrival, buffered_count == 0
    # (OrderBookProcessingPipelineTest.java:128-132)
    st = OrderedState()
    batches = scenario("perfect_order")
    for i, b in enumerate(batches, start=1):
        out = apply_batch(st, _to_core(b))
        assert len(out) == 1
        assert st.last_emitted == i
        assert st.buffered_count == 0
        assert st.received_count == i
        assert st.result_count == i
        assert st.duplicate_count == 0


def test_reverse_order_buffers_then_drains():
    # reference: statuses (buffered=1, earliest=3) → (buffered=2, earliest=2)
    # → (last_emitted=3, buffered=0, result=3), all output on 3rd arrival
    # (OrderBookProcessingPipelineTest.java:180-191)
    st = OrderedState()
    b3, b2, b1 = scenario("reverse_order")

    out = apply_batch(st, _to_core(b3))
    assert len(out) == 0
    assert (st.buffered_count, st.earliest_buffered, st.latest_buffered) == (1, 3, 3)
    assert st.last_event_received  # turn 3 is the sentinel, detected on arrival

    out = apply_batch(st, _to_core(b2))
    assert len(out) == 0
    assert (st.buffered_count, st.earliest_buffered, st.latest_buffered) == (2, 2, 3)

    out = apply_batch(st, _to_core(b1))
    assert list(out["turn_idx"]) == [1, 2, 3]
    assert list(out["emit_seq"]) == [1, 2, 3]
    assert (st.last_emitted, st.buffered_count, st.result_count) == (3, 0, 3)
    assert st.complete


def test_duplicates_discarded_and_counted():
    # docs/pipeline-design.md:115-122
    st = OrderedState()
    for b in scenario("duplicates"):
        apply_batch(st, _to_core(b))
    assert st.result_count == 3
    assert st.duplicate_count == 2
    assert st.received_count == 5
    assert st.buffered_count == 0


def test_duplicate_inside_single_batch():
    b = scenario("batch_in_order")[0]
    doubled = pd.concat([b, b.iloc[[0, 2]]], ignore_index=True)
    st = OrderedState()
    out = apply_batch(st, _to_core(doubled))
    assert list(out["turn_idx"]) == [1, 2, 3]
    assert st.duplicate_count == 2


def test_gap_never_arrives_leaves_buffer():
    st = OrderedState()
    for b in scenario("gap_never_arrives"):
        apply_batch(st, _to_core(b))
    assert st.last_emitted == 2
    assert (st.earliest_buffered, st.latest_buffered, st.buffered_count) == (4, 5, 2)
    assert not st.complete  # sentinel (turn 5) received but gap remains
    s = status_dict("conv-000001", st)
    assert s["last_event_received"] is True and s["buffered_count"] == 2


def test_max_emit_caps_drain_but_resumes():
    df = pd.concat(scenario("random_permutation"), ignore_index=True)
    st = OrderedState()
    out1 = apply_batch(st, _to_core(df), max_emit=10)
    assert list(out1["turn_idx"]) == list(range(1, 11))
    assert st.buffered_count == 40
    out2 = apply_batch(st, _to_core(df.head(0)), max_emit=None)
    assert list(out2["turn_idx"]) == list(range(11, 51))
    assert st.result_count == 50


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_all_scenarios_match_serial_oracle(name):
    batches = scenario(name)
    _, emitted = _run(batches)
    oracle = serial_oracle(batches)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "emit_seq"]
    got = emitted[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = oracle[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)


def test_emit_seq_is_emission_order_across_batches():
    st = OrderedState()
    df = scenario("random_permutation")
    all_out = []
    for b in df:
        all_out.append(apply_batch(st, _to_core(b)))
    out = pd.concat(all_out, ignore_index=True)
    assert list(out["emit_seq"]) == list(range(1, 51))
    assert list(out["turn_idx"]) == list(range(1, 51))
    # within-conversation ts must be nondecreasing once ordered
    assert (np.diff(out["ts_us"].to_numpy()) >= 0).all()


# ------------------------------------------------ transition (engine policy)
HB_MS = 1000
TTL = 3


def _arrays(turns, end_at=None):
    final = [t == end_at for t in turns]
    return {
        "turn_idx": np.array(turns, dtype=np.int64),
        "role": np.array([core.END_ROLE if f else "user" for f in final], dtype=object),
        "text": np.array([core.END_TEXT if f else "t" for f in final], dtype=object),
        "tool": np.full(len(turns), None, dtype=object),
        "ts_us": np.array(turns, dtype=np.int64),
    }


_TOMB = dict(last_emitted=3, last_event_received=True, received_count=3, result_count=3)
# (timer, ends complete, emits rows) → (OrderedState kwargs, arrival batch).
# A timer firing emits rows only by draining a capped (max_emit=2) remainder.
_CASES = {
    (True, True, True): (  # remainder [2, 3=final] drains fully
        dict(last_emitted=1, last_event_received=True, buffer=_arrays([2, 3], end_at=3)),
        None,
    ),
    (True, True, False): (_TOMB, None),
    (True, False, True): (dict(last_emitted=1, buffer=_arrays([2, 3, 4])), None),
    (True, False, False): (dict(last_emitted=1, buffer=_arrays([3])), None),  # gap
    (False, True, True): (dict(last_emitted=1), _arrays([2, 3], end_at=3)),
    (False, True, False): (_TOMB, _arrays([2])),  # post-completion duplicate
    (False, False, True): ({}, _arrays([1])),
    (False, False, False): ({}, _arrays([3])),  # gap: buffers
}


class _RecordingMatcher:
    """Stand-in StreamMatcher: records `final`, returns a marked carry."""

    def __init__(self):
        self.finals = []

    def match(self, run, carry, final=False):
        self.finals.append(final)
        none = np.empty(0, dtype=np.int64)
        return {k: none for k in ("start_idx", "end_idx", "ts_first_us", "ts_last_us")}, "after"


@pytest.mark.parametrize(
    "timer,complete,cleanup,ttl,rows",
    list(itertools.product(
        [False, True], [False, True], [False, True], ["none", "idle", "reached"],
        [False, True],
    )),
)
def test_transition_policy_table(timer, complete, cleanup, ttl, rows):
    cfg = OrderedStreamConfig(
        status_heartbeat_ms=HB_MS,
        max_emit_per_batch=2,
        cleanup_on_complete=cleanup,
        evict_idle_after_heartbeats=None if ttl == "none" else TTL,
    )
    kwargs, batch = _CASES[timer, complete, rows]
    state = OrderedState(**kwargs, idle_heartbeats=TTL - 1 if ttl == "reached" else 0)
    matcher = _RecordingMatcher()
    tr = core.transition("c", state, "before", batch, cfg, matcher)

    assert state.complete == complete
    assert (len(tr.emitted["turn_idx"]) > 0) == rows
    # a timer firing counts toward the TTL; an arrival resets the clock
    assert state.idle_heartbeats == ((TTL if ttl == "reached" else 1) if timer else 0)
    # CEP runs on emitted rows only, flushing at completion
    assert matcher.finals == ([complete] if rows else [])

    # status: every arrival (emit_status_every_batch); on a timer, all but
    # a completed tombstone that drained nothing
    if timer and complete and not rows:
        assert tr.status is None
    else:
        assert tr.status["conv_id"] == "c"
        assert tr.status["buffered_count"] == state.buffered_count

    # disposition: TTL eviction only on a timer that emitted nothing; then
    # completion cleanup vs tombstone; else keep
    if timer and ttl == "reached" and not rows:
        action = core.REMOVE
    elif complete:
        action = core.REMOVE if cleanup else core.TOMBSTONE
    else:
        action = core.KEEP
    assert tr.disposition.action == action

    # re-arm: never after REMOVE; open keys always; tombstones only under a TTL
    if action == core.REMOVE or (complete and ttl == "none"):
        assert tr.disposition.rearm_ms is None
    else:
        assert tr.disposition.rearm_ms == HB_MS

    # the carry survives only on KEEP (completion and eviction drop it)
    assert tr.carry == (("after" if rows else "before") if action == core.KEEP else None)


def test_transition_without_heartbeat_never_rearms():
    cfg = OrderedStreamConfig()
    tr = core.transition("c", OrderedState(), None, _arrays([3]), cfg)
    assert tr.disposition == core.Disposition(core.KEEP, None)
    assert tr.matches is None and tr.carry is None


def test_transition_status_off_between_timers():
    cfg = OrderedStreamConfig(emit_status_every_batch=False, status_heartbeat_ms=HB_MS)
    st = OrderedState()
    assert core.transition("c", st, None, _arrays([3]), cfg).status is None
    assert core.transition("c", st, None, None, cfg).status is not None
