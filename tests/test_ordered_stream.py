"""End-to-end streaming ordered-processor tests — the layer-2 tests of
SURVEY.md §5 (reference: OrderBookProcessingPipelineTest.java:91-195), over
staged out-of-order micro-batches."""

import time

import pandas as pd
import pytest

from dataflow_ordered_processing_spark.sources.scenarios import (
    conversation,
    scenario,
    serial_oracle,
)
from dataflow_ordered_processing_spark.streaming import OrderedStreamConfig, ordered_stream

from streaming_utils import StagedStream, run_to_memory

CMP = ["conv_id", "turn_idx", "role", "text", "tool", "emit_seq"]


def _data(spark, name):
    return (
        spark.sql(f"SELECT * FROM {name} WHERE row_type = 'data'")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def _statuses(spark, name):
    return spark.sql(
        f"SELECT * FROM {name} WHERE row_type = 'status' ORDER BY received_count"
    ).toPandas()


def _assert_oracle(spark, name, batches):
    got = _data(spark, name)[CMP]
    want = serial_oracle(batches)[CMP].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)


def test_perfect_order_stream(spark, tmp_path):
    # reference :91-137 — every event processed on arrival, buffered=0 always
    batches = scenario("perfect_order")
    q, name, _ = run_to_memory(spark, str(tmp_path), batches)
    try:
        _assert_oracle(spark, name, batches)
        st = _statuses(spark, name)
        assert len(st) == 3
        assert list(st["buffered_count"]) == [0, 0, 0]
        assert list(st["last_emitted"]) == [1, 2, 3]
        assert list(st["result_count"]) == [1, 2, 3]
        assert list(st["duplicate_count"]) == [0, 0, 0]
    finally:
        q.stop()


def test_reverse_order_stream(spark, tmp_path):
    # reference :139-195 — the three status snapshots then the full drain
    batches = scenario("reverse_order")
    q, name, _ = run_to_memory(spark, str(tmp_path), batches)
    try:
        _assert_oracle(spark, name, batches)
        st = _statuses(spark, name)
        assert len(st) == 3
        # arrival 3 → buffered; arrival 2 → buffered; arrival 1 → drained
        assert list(st["buffered_count"]) == [1, 2, 0]
        assert list(st["earliest_buffered"].fillna(-1)) == [3, 2, -1]
        assert list(st["latest_buffered"].fillna(-1)) == [3, 3, -1]
        assert list(st["last_emitted"].fillna(-1)) == [-1, -1, 3]
        assert list(st["result_count"]) == [0, 0, 3]
        # sentinel (turn 3) arrived first → last_event_received from step 1
        assert list(st["last_event_received"]) == [True, True, True]
        data = _data(spark, name)
        assert list(data["emit_seq"]) == [1, 2, 3]  # all emitted on 3rd arrival, in order
    finally:
        q.stop()


def test_duplicates_stream(spark, tmp_path):
    batches = scenario("duplicates")
    q, name, _ = run_to_memory(spark, str(tmp_path), batches)
    try:
        _assert_oracle(spark, name, batches)
        st = _statuses(spark, name)
        last = st.iloc[-1]
        assert last["duplicate_count"] == 2
        assert last["received_count"] == 5
        assert last["result_count"] == 3
    finally:
        q.stop()


@pytest.mark.parametrize("name_", ["random_permutation", "multi_conversation", "skewed"])
def test_streams_match_serial_oracle(spark, tmp_path, name_):
    batches = scenario(name_)
    q, name, _ = run_to_memory(spark, str(tmp_path), batches)
    try:
        _assert_oracle(spark, name, batches)
    finally:
        q.stop()


def test_state_cleanup_on_completion(spark, tmp_path):
    # F8: after the sentinel drains, state must be removed (O4) — observable
    # via the state-store numRowsTotal in the final progress.
    batches = scenario("last_turn_flag")
    q, name, _ = run_to_memory(
        spark, str(tmp_path), batches, cfg=OrderedStreamConfig(cleanup_on_complete=True)
    )
    try:
        _assert_oracle(spark, name, batches)
        prog = q.lastProgress
        state = prog["stateOperators"][0]
        assert state["numRowsTotal"] == 0  # conversation finished → no state left
    finally:
        q.stop()


def test_gap_keeps_state(spark, tmp_path):
    batches = scenario("gap_never_arrives")
    q, name, _ = run_to_memory(spark, str(tmp_path), batches)
    try:
        st = _statuses(spark, name).iloc[-1]
        assert st["last_emitted"] == 2
        assert st["buffered_count"] == 2
        assert (st["earliest_buffered"], st["latest_buffered"]) == (4, 5)
        prog = q.lastProgress
        assert prog["stateOperators"][0]["numRowsTotal"] == 1  # key still open
    finally:
        q.stop()


def test_heartbeat_status_for_idle_gapped_key(spark, tmp_path):
    # O10 (timer-driven status): a key stuck on a gap emits heartbeat
    # statuses on processing-time timeout with NO new input (the reference's
    # advanceProcessingTime test :214-215). NOTE: with ProcessingTimeTimeout
    # Spark constructs timer micro-batches continuously, so
    # processAllAvailable() never quiesces — poll the sink instead.
    cfg = OrderedStreamConfig(status_heartbeat_ms=300)
    st_src = StagedStream(spark, str(tmp_path))
    q = (
        ordered_stream(st_src.source(), cfg)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hb")
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def n_status():
        return spark.sql(
            "SELECT count(*) c FROM hb WHERE row_type='status' AND conv_id='conv-000001'"
        ).collect()[0]["c"]

    try:
        for b in scenario("gap_never_arrives"):
            st_src.push(b)
        deadline = time.time() + 120
        # both input batches processed → >= 2 per-batch statuses
        while n_status() < 2 and time.time() < deadline:
            time.sleep(0.5)
        n0 = n_status()
        assert n0 >= 2
        # heartbeats accumulate although no further input arrives
        while n_status() <= n0 + 1 and time.time() < deadline:
            time.sleep(0.5)
        n1 = n_status()
        assert n1 > n0 + 1, "no heartbeat statuses fired"
        hb = spark.sql(
            "SELECT * FROM hb WHERE row_type='status' AND conv_id='conv-000001' "
            "ORDER BY status_ts DESC LIMIT 1"
        ).collect()[0]
        assert hb["buffered_count"] == 2 and hb["last_emitted"] == 2
    finally:
        q.stop()


def test_idle_state_eviction(spark, tmp_path):
    # State TTL (SURVEY §7): a key stuck on a gap is evicted after K idle
    # heartbeats — pending turns dropped, state freed, final status emitted.
    cfg = OrderedStreamConfig(status_heartbeat_ms=300, evict_idle_after_heartbeats=3)
    st_src = StagedStream(spark, str(tmp_path))
    q = (
        ordered_stream(st_src.source(), cfg)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("evict")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        for b in scenario("gap_never_arrives"):
            st_src.push(b)
        deadline = time.time() + 120
        # wait until the state store is empty (key evicted)
        while time.time() < deadline:
            prog = q.lastProgress
            if (
                prog
                and prog["stateOperators"]
                and prog["stateOperators"][0]["numRowsTotal"] == 0
                and prog["batchId"] > 3
            ):
                break
            time.sleep(0.5)
        prog = q.lastProgress
        assert prog["stateOperators"][0]["numRowsTotal"] == 0, "state not evicted"
        # the tombstone status still reports the unresolved gap
        last = spark.sql(
            "SELECT * FROM evict WHERE row_type='status' ORDER BY received_count DESC, "
            "buffered_count DESC LIMIT 1"
        ).collect()[0]
        assert last["buffered_count"] == 2 and last["last_emitted"] == 2
    finally:
        q.stop()


def test_capped_drain_tombstone_ttl_counts_idle_firings(spark, tmp_path):
    """A conversation completed by a timer-driven capped drain is evicted on
    exactly the evict_idle_after_heartbeats-th timer firing after its last
    arrival: the drain firings count toward the TTL."""
    # 10 turns, cap 3: batch 0 (the arrival) emits 3, firings 1-3 drain the
    # rest and complete it, firings 4-5 age the tombstone, firing 6 evicts.
    # A 1 ms heartbeat has expired by every next batch (they run back to
    # back), so batch k is firing k.
    cfg = OrderedStreamConfig(
        status_heartbeat_ms=1, max_emit_per_batch=3, evict_idle_after_heartbeats=6
    )
    st_src = StagedStream(spark, str(tmp_path))
    st_src.push(conversation(1, 10))
    stream = ordered_stream(st_src.source(), cfg, n_shards=2)
    q = stream.writeStream.format("memory").queryName("ttl_capped").start()

    def state_rows():
        return {p["batchId"]: p["stateOperators"][0]["numRowsTotal"] for p in q.recentProgress}

    try:
        deadline = time.time() + 120
        while 0 not in state_rows().values() and time.time() < deadline:
            time.sleep(0.2)
    finally:
        q.stop()
    rows = state_rows()
    assert [rows.get(b) for b in range(7)] == [1] * 6 + [0], rows
    got = _data(spark, "ttl_capped")
    assert list(got["turn_idx"]) == list(range(1, 11))
    assert list(got["emit_seq"]) == list(range(1, 11))


def test_capped_drain_flushes_via_timer(spark, tmp_path):
    # with max_emit_per_batch, the contiguous remainder
    # must flush on processing-time timers even with NO further arrivals
    cfg = OrderedStreamConfig(max_emit_per_batch=3, status_heartbeat_ms=300)
    st_src = StagedStream(spark, str(tmp_path))
    q = (
        ordered_stream(st_src.source(), cfg)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("capflush")
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def n_data():
        return spark.sql(
            "SELECT count(*) c FROM capflush WHERE row_type='data'"
        ).collect()[0]["c"]

    try:
        st_src.push(conversation(1, 10))  # one batch, cap 3 → 3 emitted now
        deadline = time.time() + 120
        while n_data() < 10 and time.time() < deadline:
            time.sleep(0.5)
        assert n_data() == 10, "capped remainder never flushed by the timer"
        got = spark.sql(
            "SELECT turn_idx, emit_seq FROM capflush WHERE row_type='data' ORDER BY turn_idx"
        ).toPandas()
        assert list(got["turn_idx"]) == list(range(1, 11))
        assert list(got["emit_seq"]) == list(range(1, 11))
    finally:
        q.stop()
