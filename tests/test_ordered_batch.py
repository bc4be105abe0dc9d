"""Batch ordering operator: SQL impl ≡ pandas impl ≡ serial oracle, and the
transcripts derivation is bit-identical between Spark and DuckDB (the
foundation of every oracle_sql() entry)."""

import duckdb
import pandas as pd
import pytest

from dataflow_ordered_processing_spark.operators.ordered_batch import (
    ordered_emit_batch,
    ordered_status_batch,
)
from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA
from dataflow_ordered_processing_spark.sources.scenarios import (
    conversation,
    scenario,
    serial_oracle,
)
from dataflow_ordered_processing_spark.sources.transcripts import (
    TRANSCRIPTS_SQL,
    derive_transcripts,
    shuffled_arrival,
)

CMP = ["conv_id", "turn_idx", "role", "text", "tool", "emit_seq"]


def _spark_df(spark, batches):
    pdf = pd.concat(batches, ignore_index=True)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


@pytest.mark.parametrize("name", ["duplicates", "multi_conversation", "gap_never_arrives", "skewed"])
@pytest.mark.parametrize("impl", ["sql", "pandas"])
def test_batch_matches_serial_oracle(spark, name, impl):
    batches = scenario(name)
    df = _spark_df(spark, batches)
    got = (
        ordered_emit_batch(df, impl=impl)
        .select(*CMP)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        serial_oracle(batches)[CMP].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)


def test_status_batch(spark):
    batches = scenario("gap_never_arrives")
    df = _spark_df(spark, batches)
    row = ordered_status_batch(df).collect()[0].asDict()
    assert row == {
        "conv_id": "conv-000001",
        "last_emitted": 2,
        "buffered_count": 2,
        "earliest_buffered": 4,
        "latest_buffered": 5,
        "received_count": 4,
        "result_count": 2,
        "duplicate_count": 0,
        "last_event_received": True,
    }


def test_status_batch_duplicates(spark):
    df = _spark_df(spark, scenario("duplicates"))
    row = ordered_status_batch(df).collect()[0].asDict()
    assert row["duplicate_count"] == 2
    assert row["result_count"] == 3
    assert row["received_count"] == 5
    assert row["buffered_count"] == 0


def test_transcripts_derivation_matches_duckdb(spark, sf_dir):
    got = (
        derive_transcripts(spark, sf_dir)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = (
        con.execute(TRANSCRIPTS_SQL).df().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    got["ts"] = pd.to_datetime(got["ts"]).dt.tz_localize(None)
    want["ts"] = pd.to_datetime(want["ts"]).dt.tz_localize(None)
    want["turn_idx"] = want["turn_idx"].astype(got["turn_idx"].dtype)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # every conversation is gap-free 1..n and ends with the sentinel
    sent = got.groupby("conv_id").tail(1)
    assert (sent["role"] == "system").all() and (sent["text"] == "__end__").all()
    sizes = got.groupby("conv_id")["turn_idx"].agg(["min", "max", "count"])
    assert (sizes["min"] == 1).all() and (sizes["max"] == sizes["count"]).all()


def test_shuffled_arrival_is_permutation(spark, sf_dir):
    t = derive_transcripts(spark, sf_dir)
    shuffled = shuffled_arrival(t)
    assert shuffled.count() == t.count()
    assert ordered_emit_batch(shuffled, impl="sql").count() == t.count()


# ---------------------------------------------------------------- O8 history
def _arrival_with_seq(spark, conv, order):
    """Build an arrival DataFrame for `conv` delivering turn_idx values in
    the given order (duplicates allowed), with arrival_seq = position."""
    from dataflow_ordered_processing_spark.sources.scenarios import conversation
    from pyspark.sql import types as T

    base = conversation(conv, max(order)).set_index("turn_idx", drop=False)
    rows = []
    for i, t in enumerate(order, start=1):
        r = base.loc[t].to_dict()
        r["ts"] = pd.Timestamp(r["ts"]).to_pydatetime()
        r["turn_idx"] = int(r["turn_idx"])
        r["arrival_seq"] = i
        rows.append(r)
    schema = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields) + [T.StructField("arrival_seq", T.LongType(), False)]
    )
    return spark.createDataFrame(rows, schema=schema)


def test_per_event_status_snapshots(spark):
    from dataflow_ordered_processing_spark.operators.ordered_batch import (
        per_event_status_batch,
    )

    # arrivals: 2 (buffer), 1 (emit 1-2), 4 (buffer; 4 is the end sentinel —
    # last_event_received flips on ARRIVAL, before it can emit), 2 (dup),
    # 3 (emit 3-4)
    df = _arrival_with_seq(spark, 7, [2, 1, 4, 2, 3])
    got = (
        per_event_status_batch(df)
        .orderBy("arrival_seq")
        .select(
            "arrival_seq",
            "received_count",
            "duplicate_count",
            "last_emitted",
            "result_count",
            "buffered_count",
            "latest_buffered",
            "last_event_received",
        )
        .collect()
    )
    want = [
        # seq, recv, dup, last, res, buf, latest_buf, end
        # last_emitted is NULL before the first emission (matches
        # ordered_status_batch / streaming status semantics)
        (1, 1, 0, None, 0, 1, 2, False),
        (2, 2, 0, 2, 2, 0, None, False),
        (3, 3, 0, 2, 2, 1, 4, True),
        (4, 4, 1, 2, 2, 1, 4, True),
        (5, 5, 1, 4, 4, 0, None, True),
    ]
    assert [tuple(r) for r in got] == want


def test_per_event_status_final_matches_ordered_status(spark):
    """The last history row per key must agree with the final-status
    operator on every shared field (internal consistency of O8 vs O4)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window
    from dataflow_ordered_processing_spark.operators.ordered_batch import (
        per_event_status_batch,
    )

    df = _arrival_with_seq(spark, 3, [5, 2, 1, 1, 7, 6, 2])
    hist = per_event_status_batch(df)
    w = Window.partitionBy("conv_id").orderBy(F.desc("arrival_seq"))
    last = (
        hist.withColumn("rk", F.rank().over(w)).filter("rk = 1").collect()[0].asDict()
    )
    final = ordered_status_batch(df.drop("arrival_seq")).collect()[0].asDict()
    for k in [
        "conv_id",
        "received_count",
        "duplicate_count",
        "last_emitted",
        "result_count",
        "buffered_count",
        "latest_buffered",
        "last_event_received",
    ]:
        assert last[k] == final[k], k


def test_per_event_status_empty(spark):
    from dataflow_ordered_processing_spark.operators.ordered_batch import (
        per_event_status_batch,
    )

    empty = _arrival_with_seq(spark, 1, [1]).limit(0)
    assert per_event_status_batch(empty).count() == 0


def test_per_event_status_null_last_emitted_before_first_emit(spark):
    """Review finding: a conversation whose turn 1 never arrives must report
    last_emitted NULL (not 0) — same as ordered_status_batch and the
    streaming status rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window
    from dataflow_ordered_processing_spark.operators.ordered_batch import (
        per_event_status_batch,
    )

    df = _arrival_with_seq(spark, 4, [2, 3])  # no turn 1 -> nothing emits
    hist = per_event_status_batch(df).orderBy("arrival_seq").collect()
    assert [r["last_emitted"] for r in hist] == [None, None]
    assert [r["result_count"] for r in hist] == [0, 0]
    # and the latest-row view agrees with the final-status operator
    w = Window.partitionBy("conv_id").orderBy(F.desc("arrival_seq"))
    last = (
        per_event_status_batch(df)
        .withColumn("rk", F.rank().over(w))
        .filter("rk = 1")
        .collect()[0]
    )
    final = ordered_status_batch(df.drop("arrival_seq")).collect()[0]
    assert last["last_emitted"] is None and final["last_emitted"] is None


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
