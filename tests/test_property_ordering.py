"""Property-based tests (hypothesis) for the ordering state machine — any
arrival permutation, any batching, any duplication/gap pattern must drain to
exactly the serial oracle. The reference has no property tests
(SURVEY.md §5); this goes beyond its example-based suite."""

from datetime import datetime, timedelta

import pandas as pd
from hypothesis import given, settings, strategies as st

from dataflow_ordered_processing_spark.operators.ordered_core import (
    OrderedState,
    apply_batch,
)

T0 = datetime(2026, 1, 1)


def _rows(turn_idxs):
    return pd.DataFrame(
        {
            "turn_idx": pd.Series(turn_idxs, dtype="int64"),
            "role": ["user"] * len(turn_idxs),
            "text": [f"t{t}" for t in turn_idxs],
            "tool": [None] * len(turn_idxs),
            "ts_us": [int((T0 + timedelta(seconds=30 * t)).timestamp() * 1e6) for t in turn_idxs],
        }
    )


@st.composite
def arrival_plan(draw):
    """A set of turns (with a possible gap), duplicated arbitrarily,
    permuted, and split into arbitrary batches."""
    n = draw(st.integers(min_value=1, max_value=60))
    present = draw(
        st.sets(st.integers(min_value=1, max_value=n), min_size=1, max_size=n)
    )
    dups = draw(
        st.lists(st.sampled_from(sorted(present)), min_size=0, max_size=10)
    )
    seq = sorted(present) + dups
    perm = draw(st.permutations(seq))
    n_batches = draw(st.integers(min_value=1, max_value=6))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=len(perm)),
                min_size=n_batches - 1,
                max_size=n_batches - 1,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(perm)]:
        batches.append(perm[prev:c])
        prev = c
    return present, seq, batches


@given(arrival_plan())
@settings(max_examples=200, deadline=None)
def test_any_arrival_plan_matches_serial_oracle(plan):
    present, seq, batches = plan
    st_ = OrderedState()
    emitted = []
    for b in batches:
        out = apply_batch(st_, _rows(b))
        emitted.extend(out["turn_idx"].tolist())

    # oracle: maximal contiguous prefix of the present set, in order
    expected = []
    t = 1
    while t in present:
        expected.append(t)
        t += 1
    assert emitted == expected
    # counters
    assert st_.received_count == len(seq)
    assert st_.result_count == len(expected)
    assert st_.duplicate_count == len(seq) - len(present)
    assert st_.buffered_count == len(present) - len(expected)
    # buffer holds exactly the non-drained turns, sorted
    assert st_.buffer["turn_idx"].tolist() == sorted(present - set(expected))
    # emit_seq/depth invariants
    if expected:
        assert st_.last_emitted == expected[-1]
        assert st_.n_user == len(expected)  # all rows are 'user' here
        assert st_.chars == sum(len(f"t{t}") for t in expected)


@given(arrival_plan(), st.integers(min_value=1, max_value=7))
@settings(max_examples=100, deadline=None)
def test_max_emit_never_changes_the_final_result(plan, cap):
    present, seq, batches = plan
    st_ = OrderedState()
    emitted = []
    for b in batches:
        out = apply_batch(st_, _rows(b), max_emit=cap)
        emitted.extend(out["turn_idx"].tolist())
    # keep draining with empty batches until the capped runs flush
    for _ in range(200):
        out = apply_batch(st_, _rows([]), max_emit=cap)
        if not len(out):
            break
        emitted.extend(out["turn_idx"].tolist())

    expected = []
    t = 1
    while t in present:
        expected.append(t)
        t += 1
    assert emitted == expected
    assert st_.duplicate_count == len(seq) - len(present)


# ------------------------- sharded engine: same properties, real func body
from test_ordered_sharded import (  # GroupState stand-in, arrival frames
    _FakeState,
    _shard_batch_rows as _shard_batch,
)


@given(st.lists(arrival_plan(), min_size=1, max_size=3), st.randoms())
@settings(max_examples=50, deadline=None)
def test_sharded_func_multi_conv_matches_serial_oracle(plans, rng):
    from dataflow_ordered_processing_spark.streaming.ordered_sharded import (
        make_sharded_func,
    )
    from dataflow_ordered_processing_spark.streaming.ordered_stream import (
        OrderedStreamConfig,
    )

    func = make_sharded_func(OrderedStreamConfig())
    state = _FakeState()
    # interleave the per-conv batch lists into shared shard batches
    n_rounds = max(len(p[2]) for p in plans)
    emitted: dict[str, list] = {f"c{i}": [] for i in range(len(plans))}
    for r in range(n_rounds):
        rows = []
        for i, (_present, _seq, batches) in enumerate(plans):
            if r < len(batches):
                rows.extend((f"c{i}", t) for t in batches[r])
        rng.shuffle(rows)
        if not rows:
            continue
        for frame in func((0,), iter([_shard_batch(rows)]), state):
            data = frame[frame["row_type"] == "data"]
            for conv, t in zip(data["conv_id"], data["turn_idx"]):
                emitted[conv].append(int(t))

    for i, (present, _seq, _batches) in enumerate(plans):
        expected = []
        t = 1
        while t in present:
            expected.append(t)
            t += 1
        assert emitted[f"c{i}"] == expected, f"conv c{i}"


# ------------------- engine transition: arrivals, capped drains and timers
@given(
    arrival_plan(),
    st.one_of(st.none(), st.integers(min_value=1, max_value=7)),
    st.lists(st.booleans(), min_size=6, max_size=6),
)
@settings(max_examples=100, deadline=None)
def test_transition_any_arrival_plan_matches_serial_oracle(plan, cap, timers):
    """ordered_core.transition, the step both streaming engines run: any
    permutation/batching/duplication, any max_emit cap, with heartbeat
    firings between batches, drains to exactly the serial oracle; statuses
    track the counters; an open conversation is always kept and re-armed."""
    from dataflow_ordered_processing_spark.operators.ordered_core import (
        KEEP,
        transition,
    )
    from dataflow_ordered_processing_spark.streaming import OrderedStreamConfig

    present, seq, batches = plan
    cfg = OrderedStreamConfig(status_heartbeat_ms=1000, max_emit_per_batch=cap)
    state = OrderedState()
    emitted, statuses = [], []

    def step(batch):
        tr = transition("c", state, None, batch, cfg)
        emitted.extend(tr.emitted["turn_idx"].tolist())
        statuses.append(tr.status)
        assert tr.disposition == (KEEP, 1000)  # no final turn: never complete
        return len(tr.emitted["turn_idx"])

    for b, fire in zip(batches, timers):
        step(_rows(b))
        assert state.idle_heartbeats == 0
        if fire:
            step(None)
            assert state.idle_heartbeats == 1
    for _ in range(200):  # heartbeats flush whatever the cap left behind
        if not step(None):
            break

    expected = []
    t = 1
    while t in present:
        expected.append(t)
        t += 1
    assert emitted == expected
    assert state.duplicate_count == len(seq) - len(present)
    last = statuses[-1]
    assert last["received_count"] == len(seq)
    assert last["result_count"] == len(expected)
    assert last["duplicate_count"] == len(seq) - len(present)
    assert last["buffered_count"] == len(present) - len(expected)
