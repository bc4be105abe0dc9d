"""Streaming windows + stream-stream join (N1-N5) with watermark late-data
policy (N4): late rows are dropped by windows; windows emit (append mode)
once the watermark passes their end."""

import pandas as pd
import pytest

from dataflow_ordered_processing_spark.plans import analytics as A
from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA
from dataflow_ordered_processing_spark.sources.scenarios import scenario
from dataflow_ordered_processing_spark.streaming.windows import (
    _watermark_seconds,
    start_first_match_join_pipeline,
    stream_tumbling_tool_counts,
    stream_user_assistant_join,
)

from streaming_utils import StagedStream


def _pusher(name: str, ts):
    return pd.DataFrame(
        [
            {
                "conv_id": name,
                "turn_idx": 1,
                "role": "user",
                "text": "wm",
                "tool": None,
                "ts": ts,
            }
        ]
    )


def test_stream_tumbling_emits_on_watermark_and_drops_late(spark, tmp_path):
    pdf = scenario("windows_joins")[0]
    t_max = pdf["ts"].max()

    st = StagedStream(spark, str(tmp_path))
    q = (
        stream_tumbling_tool_counts(st.source(), watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("tumbling")
        .start()
    )
    try:
        st.push(pdf)
        q.processAllAvailable()
        # advance the watermark far past every F10 window end (two pushes:
        # watermark takes effect one batch later)
        st.push(_pusher("conv-wm", t_max + pd.Timedelta(hours=2)))
        q.processAllAvailable()
        st.push(_pusher("conv-wm2", t_max + pd.Timedelta(hours=3)))
        q.processAllAvailable()

        got = (
            spark.sql("SELECT * FROM tumbling WHERE conv_id LIKE 'conv-0%'")
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )
        want = (
            A.tumbling_tool_counts(spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA))
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

        # N4: a row far behind the watermark is dropped by the window agg
        late = pdf.head(1).assign(conv_id="conv-late")
        st.push(late)
        q.processAllAvailable()
        st.push(_pusher("conv-wm3", t_max + pd.Timedelta(hours=4)))
        q.processAllAvailable()
        n_late = spark.sql(
            "SELECT count(*) c FROM tumbling WHERE conv_id = 'conv-late'"
        ).collect()[0]["c"]
        assert n_late == 0, "late row must be dropped by the watermark"
    finally:
        q.stop()


def test_stream_user_assistant_join_matches_full_join(spark, tmp_path):
    pdf = scenario("windows_joins")[0]
    st = StagedStream(spark, str(tmp_path))
    q = (
        stream_user_assistant_join(st.source(), horizon_minutes=10)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("uaj")
        .start()
    )
    try:
        # stage users and assistants in separate micro-batches (join state
        # must hold the user side across batches)
        st.push(pdf[pdf["role"] == "user"])
        q.processAllAvailable()
        st.push(pdf[pdf["role"] != "user"])
        q.processAllAvailable()

        got = (
            spark.table("uaj")
            .toPandas()
            .sort_values(["conv_id", "user_turn_idx", "assistant_turn_idx"])
            .reset_index(drop=True)
        )
        # oracle: ALL (user, assistant) matches within the horizon (the inner
        # stream-stream join emits every match, not just the first)
        users = pdf[pdf["role"] == "user"]
        asst = pdf[pdf["role"] == "assistant"]
        rows = []
        for u in users.itertuples():
            m = asst[
                (asst["conv_id"] == u.conv_id)
                & (asst["ts"] >= u.ts)
                & (asst["ts"] < u.ts + pd.Timedelta(minutes=10))
                & (asst["turn_idx"] > u.turn_idx)
            ]
            for a in m.itertuples():
                rows.append(
                    dict(
                        conv_id=u.conv_id,
                        user_turn_idx=u.turn_idx,
                        assistant_turn_idx=a.turn_idx,
                    )
                )
        want = (
            pd.DataFrame(rows)
            .sort_values(["conv_id", "user_turn_idx", "assistant_turn_idx"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want)
        pd.testing.assert_frame_equal(
            got[["conv_id", "user_turn_idx", "assistant_turn_idx"]].astype(
                {"user_turn_idx": "int64", "assistant_turn_idx": "int64"}
            ),
            want.astype({"user_turn_idx": "int64", "assistant_turn_idx": "int64"}),
        )
    finally:
        q.stop()


def test_stream_session_windows(spark, tmp_path):
    from dataflow_ordered_processing_spark.streaming.windows import stream_session_windows

    pdf = scenario("windows_joins")[0]
    t_max = pdf["ts"].max()
    st = StagedStream(spark, str(tmp_path))
    q = (
        stream_session_windows(st.source(), gap="30 minutes", watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess")
        .start()
    )
    try:
        st.push(pdf)
        q.processAllAvailable()
        for i, h in enumerate((4, 5)):  # two watermark pushes (takes effect next batch)
            st.push(_pusher(f"conv-wm{i}", t_max + pd.Timedelta(hours=h)))
            q.processAllAvailable()
        got = (
            spark.sql("SELECT * FROM sess WHERE conv_id LIKE 'conv-0%'")
            .toPandas()
            .sort_values(["conv_id", "session_start"])
            .reset_index(drop=True)
        )
        want = (
            A.session_windows(
                spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA), "30 minutes"
            )
            .toPandas()
            .sort_values(["conv_id", "session_start"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_like=True)
    finally:
        q.stop()


def test_stream_dedup_turns(spark, tmp_path):
    from dataflow_ordered_processing_spark.streaming.windows import stream_dedup_turns

    batches = scenario("duplicates")  # turns 1,2,3 then re-delivery of 1,2
    st = StagedStream(spark, str(tmp_path))
    q = (
        stream_dedup_turns(st.source())
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .start()
    )
    try:
        for b in batches:
            st.push(b)
            q.processAllAvailable()
        got = spark.table("dedup_stream").toPandas()
        assert len(got) == 3  # the 2 re-deliveries were shed
        assert sorted(got["turn_idx"]) == [1, 2, 3]
    finally:
        q.stop()


def test_first_match_pipeline_equals_batch_pairs(spark, tmp_path):
    """VERDICT r1 #8: the streaming join + foreachBatch first-match MERGE
    must produce EXACTLY the rows of the batch user_assistant_pairs on the
    same input, regardless of how arrival was split into micro-batches."""
    import os

    from dataflow_ordered_processing_spark.plans.analytics import user_assistant_pairs
    from dataflow_ordered_processing_spark.streaming.windows import (
        read_first_match,
        start_first_match_join_pipeline,
    )

    pdf = scenario("windows_joins")[0]
    st = StagedStream(spark, str(tmp_path))
    out = os.path.join(str(tmp_path), "fm")
    ckpt = os.path.join(str(tmp_path), "fm-ckpt")
    # huge watermark: nothing drops as late, so stream == batch exactly
    q = start_first_match_join_pipeline(
        st.source(), out, ckpt, horizon_minutes=10, watermark="365 days",
        bounded_input=True,  # finite staged replay: nothing may be late
    )
    try:
        # staged out-of-order arrival: assistants first, then users, then a
        # re-delivery of the assistant rows (idempotent min must not change)
        st.push(pdf[pdf["role"] != "user"])
        q.processAllAvailable()
        st.push(pdf[pdf["role"] == "user"])
        q.processAllAvailable()
        st.push(pdf[pdf["role"] == "assistant"])
        q.processAllAvailable()
    finally:
        q.stop()

    cols = ["conv_id", "user_turn_idx", "assistant_turn_idx", "user_ts", "assistant_ts"]
    got = (
        read_first_match(spark, out)
        .toPandas()[cols]
        .sort_values(["conv_id", "user_turn_idx"])
        .reset_index(drop=True)
    )
    tdf = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    want = (
        user_assistant_pairs(tdf, horizon_minutes=10)
        .toPandas()[cols]
        .sort_values(["conv_id", "user_turn_idx"])
        .reset_index(drop=True)
    )
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_first_match_watermark_guard():
    """Stream-stream join refuses unbounded-state watermarks on continuous
    streams; finite replays must say so explicitly."""
    assert _watermark_seconds("10 minutes") == 600.0
    assert _watermark_seconds("2 days") == 172800.0
    with pytest.raises(ValueError, match="unbounded state"):
        # guard fires before the source is touched
        start_first_match_join_pipeline(None, "x", "y", watermark="2 days")


def test_watermark_parser_lenient():
    assert _watermark_seconds("1 hour 30 minutes") == 5400.0
    assert _watermark_seconds("interval 2 days") == 172800.0
    assert _watermark_seconds("complete gibberish here") is None  # fails open


def test_watermark_parser_case_insensitive():
    assert _watermark_seconds("24 HOURS") == 86400.0  # uppercase must parse
    assert _watermark_seconds("10 Minutes") == 600.0
    with pytest.raises(ValueError, match="unbounded state"):
        start_first_match_join_pipeline(None, "x", "y", watermark="24 HOURS")
