"""Sharded-state streaming engine: row-level parity with the classic
per-key operator across the scenario suite (same data rows, same statuses,
same duplicate/TTL/capped-drain semantics)."""

import pandas as pd
import pytest

from dataflow_ordered_processing_spark.sources.scenarios import scenario, serial_oracle
from dataflow_ordered_processing_spark.streaming import OrderedStreamConfig

from streaming_utils import run_to_memory

CMP = ["conv_id", "turn_idx", "role", "text", "tool", "emit_seq"]
STATUS_CMP = [
    "conv_id",
    "last_emitted",
    "buffered_count",
    "earliest_buffered",
    "latest_buffered",
    "received_count",
    "result_count",
    "duplicate_count",
    "last_event_received",
]


def _rows(spark, name, row_type, sort_cols):
    return (
        spark.sql(f"SELECT * FROM {name} WHERE row_type = '{row_type}'")
        .toPandas()
        .sort_values(sort_cols)
        .reset_index(drop=True)
    )


@pytest.mark.parametrize(
    "scen",
    ["perfect_order", "reverse_order", "duplicates", "random_permutation",
     "multi_conversation", "skewed", "gap_never_arrives"],
)
def test_sharded_matches_serial_oracle(spark, tmp_path, scen):
    batches = scenario(scen)
    q, name, _ = run_to_memory(spark, str(tmp_path), batches, engine="sharded")
    try:
        got = _rows(spark, name, "data", ["conv_id", "turn_idx"])[CMP]
        want = (
            serial_oracle(batches)[CMP]
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        got["turn_idx"] = got["turn_idx"].astype("int64")
        want["turn_idx"] = want["turn_idx"].astype("int64")
        pd.testing.assert_frame_equal(got, want)
    finally:
        q.stop()


def test_sharded_statuses_match_classic(spark, tmp_path):
    """Status rows (the per-batch snapshots) must be identical between the
    two engines, batch for batch."""
    batches = scenario("multi_conversation")
    qa, na, _ = run_to_memory(spark, str(tmp_path) + "/a", batches, engine="classic")
    qb, nb, _ = run_to_memory(spark, str(tmp_path) + "/b", batches, engine="sharded")
    try:
        key = ["conv_id", "received_count"]
        a = _rows(spark, na, "status", key)[STATUS_CMP]
        b = _rows(spark, nb, "status", key)[STATUS_CMP]
        assert len(a) > 0
        pd.testing.assert_frame_equal(a, b)
    finally:
        qa.stop()
        qb.stop()


def test_sharded_duplicate_counts(spark, tmp_path):
    # default tombstone config: post-completion re-delivery is discarded and
    # counted (with cleanup_on_complete=True it would re-emit, like classic)
    batches = scenario("duplicates")
    q, name, _ = run_to_memory(spark, str(tmp_path), batches, engine="sharded")
    try:
        st = _rows(spark, name, "status", ["received_count"])
        last = st.iloc[-1]
        assert last["duplicate_count"] == 2
        assert last["received_count"] == 5
        assert last["result_count"] == 3
    finally:
        q.stop()


def test_sharded_capped_drain(spark, tmp_path):
    """O9: max_emit_per_batch caps each batch's drain; the remainder emits on
    subsequent arrivals (same contract as the classic engine)."""
    batches = scenario("reverse_order")  # 3,2,1 → full drain on 3rd arrival
    q, name, _ = run_to_memory(
        spark,
        str(tmp_path),
        batches,
        cfg=OrderedStreamConfig(max_emit_per_batch=2),
        engine="sharded",
    )
    try:
        data = _rows(spark, name, "data", ["emit_seq"])
        # capped at 2 on the draining batch; turn 3 stays buffered (no later
        # arrival or timer in this staged run flushes it)
        assert list(data["turn_idx"].astype(int)) == [1, 2]
        st = _rows(spark, name, "status", ["received_count"])
        assert int(st.iloc[-1]["buffered_count"]) == 1
    finally:
        q.stop()


# -------- review-regression tests (round-2 code review findings 1, 2, 3, 4)
import pickle
import time as _time

import numpy as np

from dataflow_ordered_processing_spark.operators import ordered_core as core
from dataflow_ordered_processing_spark.streaming.ordered_sharded import (
    _HB_AT,
    _conv_to_tuple,
    make_sharded_func,
)


class _FakeState:
    def __init__(self, blob=None, timed_out=False):
        self._v = (blob,) if blob is not None else None
        self.hasTimedOut = timed_out

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        pass


def _state_with(conv_states: dict, hb_at=None) -> bytes:
    d = dict(conv_states)
    if hb_at is not None:
        d[_HB_AT] = hb_at
    return pickle.dumps(d, protocol=5)


def _buffered_state(turns, last_emitted=0):
    buf = pd.DataFrame(
        {
            "turn_idx": pd.Series(turns, dtype="int64"),
            "role": ["user"] * len(turns),
            "text": [f"t{t}" for t in turns],
            "tool": [None] * len(turns),
            "ts_us": pd.Series([1000 * t for t in turns], dtype="int64"),
        }
    )
    return _conv_to_tuple(core.OrderedState(last_emitted=last_emitted, buffer=buf))


def _collect(frames):
    data, status = [], []
    for f in frames:
        data.extend(
            (c, int(t))
            for c, t, rt in zip(f["conv_id"], f["turn_idx"], f["row_type"])
            if rt == "data"
        )
        status.extend(c for c, rt in zip(f["conv_id"], f["row_type"]) if rt == "status")
    return data, status


def test_ttl_eviction_never_drops_capped_drain_remainder():
    """Finding 1: a TTL-eligible key whose heartbeat drain just EMITTED rows
    must not be evicted — the capped remainder would be lost."""
    cfg = OrderedStreamConfig(
        status_heartbeat_ms=1000, max_emit_per_batch=1, evict_idle_after_heartbeats=1
    )
    func = make_sharded_func(cfg)
    state = _FakeState(_state_with({"cA": _buffered_state([1, 2])}), timed_out=True)
    emitted = []
    for _ in range(4):
        if not state.exists:
            break
        data, _ = _collect(func((0,), iter([]), state))
        emitted.extend(t for _, t in data)
        state.hasTimedOut = True
    assert emitted == [1, 2]  # nothing dropped
    assert not state.exists  # evicted only after the drain completed


def test_busy_shard_still_heartbeats_idle_keys():
    """Finding 2: arrivals for key B must not starve co-sharded idle key A of
    heartbeat statuses/TTL (per-key timer semantics of the classic engine)."""
    cfg = OrderedStreamConfig(status_heartbeat_ms=50, emit_status_every_batch=False)
    func = make_sharded_func(cfg)
    # A idle with a gap (buffered turn 2); last sweep long ago
    blob = _state_with({"cA": _buffered_state([2])}, hb_at=_time.time() - 10.0)
    state = _FakeState(blob)
    batch = _shard_batch_rows([("cB", 1)])
    _, statuses = _collect(func((0,), iter([batch]), state))
    assert "cA" in statuses  # idle key got its heartbeat despite B's arrival


def _shard_batch_rows(conv_turns):
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    n = len(conv_turns)
    return pd.DataFrame(
        {
            "conv_id": [c for c, _ in conv_turns],
            "turn_idx": pd.Series([t for _, t in conv_turns], dtype="int32"),
            "role": ["user"] * n,
            "text": [f"t{t}" for _, t in conv_turns],
            "tool": [None] * n,
            "ts": [t0 + timedelta(seconds=t) for _, t in conv_turns],
        }
    )


def test_null_conv_id_is_its_own_group():
    """A NULL conv_id sharing a shard with real keys is ordered as its own
    group (as the classic engine's NULL key is), so the sink can route its
    rows to the DLQ instead of the shard failing."""
    func = make_sharded_func(OrderedStreamConfig())
    state = _FakeState()
    batch = _shard_batch_rows([("cB", 1), (None, 1), ("cA", 1), (None, 2)])
    data, statuses = _collect(func((0,), iter([batch]), state))
    assert sorted(data, key=str) == sorted(
        [("cA", 1), ("cB", 1), (None, 1), (None, 2)], key=str
    )
    assert sorted(statuses, key=str) == sorted(["cA", "cB", None], key=str)
