"""Streaming CEP: the engine-integrated strict matcher (cfg.pattern) must
find exactly the batch matcher's matches — across micro-batch boundaries,
out-of-order arrival, duplicates, and capped drains — each exactly once.
"""

from __future__ import annotations

import pandas as pd
import pytest

from dataflow_ordered_processing_spark.operators.cep_core import Step
from dataflow_ordered_processing_spark.plans.cep import match_pattern
from dataflow_ordered_processing_spark.sources import scenarios
from dataflow_ordered_processing_spark.streaming.ordered_stream import (
    OrderedStreamConfig,
    split_output_cep,
)

from streaming_utils import run_to_memory

STEPS = (
    Step("u", role="user"),
    Step("a", role="assistant"),
    Step("t", role="tool"),
)


def _batch_expected(spark, full: pd.DataFrame, within=None):
    df = spark.createDataFrame(full)
    return (
        match_pattern(df, STEPS, mode="strict", within=within)
        .orderBy("conv_id", "start_idx")
        .toPandas()
    )


def _stream_matches(spark, tmp_path, batches, cfg):
    q, name, _ = run_to_memory(spark, str(tmp_path), batches, cfg=cfg)
    try:
        _, _, matches = split_output_cep(spark.table(name))
        return matches.orderBy("conv_id", "start_idx").toPandas()
    finally:
        q.stop()


def test_stream_matches_equal_batch_across_boundaries(spark, tmp_path):
    """Out-of-order multi-batch arrival: every match found once, including
    matches whose turns emit in different micro-batches."""
    full = pd.concat(
        [scenarios.conversation(c, 13) for c in range(4)], ignore_index=True
    )
    # batch 1: even turns (buffer mostly), batch 2: the rest + duplicates
    b1 = full[full.turn_idx % 2 == 0]
    b2 = pd.concat([full[full.turn_idx % 2 == 1], full.head(5)], ignore_index=True)
    cfg = OrderedStreamConfig(pattern=STEPS)
    got = _stream_matches(spark, tmp_path, [b1, b2], cfg)
    expect = _batch_expected(spark, full)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True),
        expect.astype({"start_idx": "int64", "end_idx": "int64"}).reset_index(
            drop=True
        ),
    )
    assert len(got) > 0


def test_stream_matches_with_capped_drain(spark, tmp_path):
    """max_emit_per_batch splits one conversation's drain across many
    triggers; the carry must stitch matches across every split.
    NOTE: ProcessingTimeTimeout queries never quiesce under
    processAllAvailable — drive with a trigger and poll the sink."""
    import time

    from streaming_utils import StagedStream
    from dataflow_ordered_processing_spark.streaming import ordered_stream

    full = scenarios.conversation(7, 12)
    shuffled = full.sample(frac=1.0, random_state=3)
    cfg = OrderedStreamConfig(
        pattern=STEPS, max_emit_per_batch=2, status_heartbeat_ms=300
    )
    src = StagedStream(spark, str(tmp_path))
    name = "cep_capped"
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
        expect = _batch_expected(spark, full)
        deadline = time.time() + 90
        while time.time() < deadline:
            if matches_df.count() >= len(expect):
                break
            time.sleep(0.5)  # timer-driven drains flush the capped remainder
        got = matches_df.orderBy("conv_id", "start_idx").toPandas()
    finally:
        q.stop()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True),
        expect.astype({"start_idx": "int64", "end_idx": "int64"}).reset_index(
            drop=True
        ),
    )


def test_stream_within_bound_applies(spark, tmp_path):
    full = scenarios.conversation(3, 16)  # strict-triple spans 48/71/53/73/63 s
    cfg = OrderedStreamConfig(pattern=STEPS, pattern_within_s=60)
    got = _stream_matches(spark, tmp_path, [full], cfg)
    expect = _batch_expected(spark, full, within=60)
    assert len(got) == len(expect)
    assert len(got) < len(_batch_expected(spark, full))  # bound actually cuts
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True),
        expect.astype({"start_idx": "int64", "end_idx": "int64"}).reset_index(
            drop=True
        ),
    )


def test_plain_stream_unchanged_without_pattern(spark, tmp_path):
    """No pattern → legacy schemas: the unified output has no match columns
    (checkpoint/state compat for every existing deployment)."""
    full = scenarios.conversation(1, 5)
    q, name, _ = run_to_memory(spark, str(tmp_path), [full], cfg=None)
    try:
        cols = spark.table(name).columns
    finally:
        q.stop()
    assert "match_start_idx" not in cols


def test_sharded_stream_matches_equal_batch(spark, tmp_path):
    """The sharded engine's matcher (carry in the shard dict's _CEP side
    map) finds exactly the batch matches too — same two-batch out-of-order
    arrival as the classic test, state keyed by shard instead of conv."""
    full = pd.concat(
        [scenarios.conversation(c, 13) for c in range(4)], ignore_index=True
    )
    b1 = full[full.turn_idx % 2 == 0]
    b2 = pd.concat([full[full.turn_idx % 2 == 1], full.head(5)], ignore_index=True)
    cfg = OrderedStreamConfig(pattern=STEPS)
    q, name, _ = run_to_memory(
        spark, str(tmp_path), [b1, b2], cfg=cfg, engine="sharded", n_shards=4
    )
    try:
        _, _, matches = split_output_cep(spark.table(name))
        got = matches.orderBy("conv_id", "start_idx").toPandas()
    finally:
        q.stop()
    expect = _batch_expected(spark, full)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True),
        expect.astype({"start_idx": "int64", "end_idx": "int64"}).reset_index(
            drop=True
        ),
    )
    assert len(got) > 0


def test_sharded_plain_stream_unchanged_without_pattern(spark, tmp_path):
    full = scenarios.conversation(1, 5)
    q, name, _ = run_to_memory(
        spark, str(tmp_path), [full], cfg=None, engine="sharded", n_shards=2
    )
    try:
        cols = spark.table(name).columns
    finally:
        q.stop()
    assert "match_start_idx" not in cols


def test_pipeline_sink_lands_match_rows(spark, tmp_path):
    """End-to-end: a pattern-configured pipeline lands match rows in the
    unified epoch sink (row_type='match'); read_sink(..., 'matches') reads
    them back with the natural schema, and the batch operator agrees."""
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
        [scenarios.conversation(c, 10) for c in range(3)], ignore_index=True
    )
    base = str(tmp_path)
    sink = SinkConfig(
        data_path=os.path.join(base, "data"),
        dlq_path=os.path.join(base, "dlq"),
        checkpoint=os.path.join(base, "ckpt"),
    )
    cfg = OrderedStreamConfig(pattern=STEPS)
    st = StagedStream(spark, base)
    q = start_ordered_pipeline(st.source(), sink, cfg)
    try:
        st.push(full.sample(frac=1.0, random_state=9))
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        read_sink(spark, sink.data_path, table="matches")
        .orderBy("conv_id", "start_idx")
        .toPandas()
    )
    expect = _batch_expected(spark, full)
    assert len(got) == len(expect) > 0
    assert got[["conv_id"]].equals(expect[["conv_id"]])
    assert got["start_idx"].tolist() == expect["start_idx"].astype("int64").tolist()
    # data rows unaffected, and nothing got DLQ'd
    assert read_sink(spark, sink.data_path).count() == len(full)
    assert not os.path.exists(os.path.join(base, "dlq"))


def test_pipeline_marker_pins_pattern(spark, tmp_path):
    """Resuming a pattern checkpoint with a DIFFERENT pattern (or none) is
    refused by the engine marker before the state store can mismatch."""
    import os

    import pytest as _pytest

    from dataflow_ordered_processing_spark.streaming.sinks import (
        _check_engine_marker,
        _pattern_spec,
    )

    ckpt = os.path.join(str(tmp_path), "ckpt")
    _check_engine_marker(ckpt, "classic", None, _pattern_spec(STEPS))
    # same pattern: fine
    _check_engine_marker(ckpt, "classic", None, _pattern_spec(STEPS))
    with _pytest.raises(ValueError, match="cannot resume"):
        _check_engine_marker(ckpt, "classic", None, None)
    with _pytest.raises(ValueError, match="cannot resume"):
        _check_engine_marker(
            ckpt, "classic", None, _pattern_spec(STEPS[:2])
        )
    # pre-CEP marker (no "pattern" key) still resumes pattern-less configs
    import json

    ckpt2 = os.path.join(str(tmp_path), "ckpt2")
    os.makedirs(ckpt2)
    with open(os.path.join(ckpt2, "_ordered_engine.json"), "w") as f:
        json.dump({"engine": "classic", "n_shards": None}, f)
    _check_engine_marker(ckpt2, "classic", None, None)


def test_parse_pattern_cli():
    import sys

    sys.path.insert(0, "jobs")
    from run_pipeline import parse_pattern

    steps = parse_pattern("u=user,a=assistant,c=tool/code,s=/search")
    assert [s.name for s in steps] == ["u", "a", "c", "s"]
    assert steps[2].role == "tool" and steps[2].tool == "code"
    assert steps[3].role is None and steps[3].tool == "search"
    with pytest.raises(ValueError):
        parse_pattern("nonsense")


class _FakeGroupState:
    """Minimal applyInPandasWithState GroupState stand-in — lets us assert
    what the function SAVES."""

    def __init__(self, value=None):
        self._value = value
        self.hasTimedOut = False
        self.removed = False

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = tuple(v)

    def remove(self):
        self._value = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        pass


def test_classic_carry_dropped_at_completion():
    """A completed conversation's tombstone must not retain the CEP carry
    (review r6c): the saved state tuple's carry fields are empty."""
    from dataflow_ordered_processing_spark.streaming.ordered_stream import (
        make_ordered_func,
    )

    full = scenarios.conversation(1, 6)  # ends with the system sentinel
    cfg = OrderedStreamConfig(pattern=STEPS)
    func = make_ordered_func(cfg)
    state = _FakeGroupState()
    list(func(("conv-000001",), iter([full.iloc[:4]]), state))
    mid = state.get
    assert len(mid) == 19 and len(mid[15]) == 2  # carry = last k-1 = 2 turns
    list(func(("conv-000001",), iter([full.iloc[4:]]), state))
    done = state.get
    assert done[4] is True or done[4] == 1  # last_event_received
    assert list(done[15]) == [] and list(done[16]) == []  # carry dropped


def test_sharded_carry_dropped_at_completion():
    import pickle

    from dataflow_ordered_processing_spark.streaming.ordered_sharded import (
        _CEP,
        make_sharded_func,
    )

    full = scenarios.conversation(1, 6)
    cfg = OrderedStreamConfig(pattern=STEPS)
    func = make_sharded_func(cfg)
    state = _FakeGroupState()
    list(func((0,), iter([full.iloc[:4]]), state))
    states = pickle.loads(state.get[0])
    assert "conv-000001" in states.get(_CEP, {})
    list(func((0,), iter([full.iloc[4:]]), state))
    states = pickle.loads(state.get[0])
    assert "conv-000001" not in states.get(_CEP, {})


def test_match_rows_deduped_under_merge_on_key(spark, tmp_path):
    """Eager cleanup + post-completion re-delivery re-emits AND re-matches;
    merge_on_key must drop the duplicate match rows like the data rows."""
    import os

    from dataflow_ordered_processing_spark.streaming import (
        start_ordered_pipeline,
    )
    from dataflow_ordered_processing_spark.streaming.sinks import (
        SinkConfig,
        read_sink,
    )
    from streaming_utils import StagedStream

    full = scenarios.conversation(2, 7)
    base = str(tmp_path)
    sink = SinkConfig(
        data_path=os.path.join(base, "data"),
        checkpoint=os.path.join(base, "ckpt"),
        merge_on_key=True,
    )
    cfg = OrderedStreamConfig(pattern=STEPS, cleanup_on_complete=True)
    st = StagedStream(spark, base)
    q = start_ordered_pipeline(st.source(), sink, cfg)
    try:
        st.push(full)
        q.processAllAvailable()
        st.push(full)  # full re-delivery into a fresh (removed) state
        q.processAllAvailable()
    finally:
        q.stop()
    data = read_sink(spark, sink.data_path).toPandas()
    assert not data.duplicated(subset=["conv_id", "turn_idx"]).any()
    matches = read_sink(spark, sink.data_path, table="matches").toPandas()
    assert len(matches) == len(_batch_expected(spark, full))
    assert not matches.duplicated(subset=["conv_id", "start_idx"]).any()


def test_marker_pins_within_bound(tmp_path):
    import os

    from dataflow_ordered_processing_spark.streaming.sinks import (
        _check_engine_marker,
        _pattern_spec,
    )

    ckpt = os.path.join(str(tmp_path), "ckpt")
    _check_engine_marker(ckpt, "classic", None, _pattern_spec(STEPS, 60))
    _check_engine_marker(ckpt, "classic", None, _pattern_spec(STEPS, 60))
    with pytest.raises(ValueError, match="cannot resume"):
        _check_engine_marker(ckpt, "classic", None, _pattern_spec(STEPS, 3600))
    with pytest.raises(ValueError, match="cannot resume"):
        _check_engine_marker(ckpt, "classic", None, _pattern_spec(STEPS))


def test_parse_pattern_rejects_single_step_and_injection():
    import sys

    sys.path.insert(0, "jobs")
    from run_pipeline import parse_pattern

    with pytest.raises(ValueError, match="at least 2"):
        parse_pattern("u=user")
    # non-identifier values are rejected outright (review r6d: escaping
    # can't be both injection-safe and Spark/DuckDB-identical — Spark
    # interprets backslash escapes in string literals, DuckDB does not)
    with pytest.raises(ValueError, match="identifier"):
        Step("x", role="o'brien")
    with pytest.raises(ValueError, match="identifier"):
        Step("x", role="a\\b")


def test_timer_drain_completion_honors_cleanup_on_complete():
    """A conversation finished by a timer-driven capped drain must be
    eagerly removed under cleanup_on_complete=True, like the arrival path
    and the sharded sweep (review r6d)."""
    from dataflow_ordered_processing_spark.streaming.ordered_stream import (
        make_ordered_func,
    )

    full = scenarios.conversation(1, 6)
    cfg = OrderedStreamConfig(
        cleanup_on_complete=True, max_emit_per_batch=4, status_heartbeat_ms=100
    )
    func = make_ordered_func(cfg)
    state = _FakeGroupState()
    list(func(("conv-000001",), iter([full]), state))  # caps at 4 emitted
    assert state.exists and not state.removed
    state.hasTimedOut = True
    out = list(func(("conv-000001",), iter([]), state))  # drains 5..6 → complete
    assert state.removed
    assert sum(len(f) for f in out if (f["row_type"] == "data").any()) == 2


def test_marker_normalizes_list_form_pattern():
    import json
    import os
    import tempfile

    from dataflow_ordered_processing_spark.streaming.sinks import (
        _check_engine_marker,
        _pattern_spec,
    )

    ckpt = os.path.join(tempfile.mkdtemp(prefix="cep-marker-"), "ckpt")
    os.makedirs(ckpt)
    spec = _pattern_spec(STEPS)  # {"steps": [...], "within_s": None}
    with open(os.path.join(ckpt, "_ordered_engine.json"), "w") as f:
        json.dump(
            {"engine": "classic", "n_shards": None, "pattern": spec["steps"]}, f
        )
    _check_engine_marker(ckpt, "classic", None, spec)  # list form upgrades
    with pytest.raises(ValueError, match="cannot resume"):
        _check_engine_marker(ckpt, "classic", None, _pattern_spec(STEPS, 60))
