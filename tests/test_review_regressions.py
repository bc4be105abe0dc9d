"""Regression tests for the round-1 code-review findings."""

import time

import pandas as pd
import pytest

from dataflow_ordered_processing_spark.operators.ordered_batch import (
    ordered_emit_batch,
    ordered_status_batch,
)
from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA
from dataflow_ordered_processing_spark.sources.scenarios import conversation
from dataflow_ordered_processing_spark.streaming import OrderedStreamConfig, ordered_stream

from streaming_utils import StagedStream


@pytest.mark.parametrize("impl", ["sql", "pandas"])
def test_initial_idx_discards_subinitial_rows(spark, impl):
    # rows below initial_idx are already-emitted history: discard as
    # duplicates, never shift ranks; the salted plan is
    # held to the SQL one at initial_idx=3 in test_skew.py
    df = spark.createDataFrame(conversation(1, 10), schema=TRANSCRIPT_SCHEMA)
    out = ordered_emit_batch(df, impl=impl, initial_idx=5).toPandas()
    assert sorted(out["turn_idx"]) == [5, 6, 7, 8, 9, 10]
    assert sorted(out["emit_seq"]) == [1, 2, 3, 4, 5, 6]


def test_initial_idx_status_counts_subinitial_as_duplicates(spark):
    df = spark.createDataFrame(conversation(1, 10), schema=TRANSCRIPT_SCHEMA)
    row = ordered_status_batch(df, initial_idx=5).collect()[0].asDict()
    assert row["result_count"] == 6
    assert row["duplicate_count"] == 4  # turns 1-4 are sub-initial history
    assert row["buffered_count"] == 0
    assert row["received_count"] == 10
    assert row["last_emitted"] == 10


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
