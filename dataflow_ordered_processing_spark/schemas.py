"""Explicit schemas — declared once, never inferred.

Mirrors the reference's three-layer schema discipline (proto IDL +
hand-written coders + BigQuery JSON schemas; see reference
business-model/src/main/proto/marketdata.proto and
terraform/bigquery-schema/*.json) collapsed into Spark StructTypes.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input table (BASELINE.json input_hint).
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Ordered output = input columns + emission metadata + the per-turn running
# conversation-depth snapshot (the MarketDepth analog: the reference emits a
# derived state snapshot per in-order event, OrderBookBuilder.java:92-141).
DEPTH_FIELDS = [
    T.StructField("n_user_cum", T.LongType(), True),
    T.StructField("n_assistant_cum", T.LongType(), True),
    T.StructField("n_tool_cum", T.LongType(), True),
    T.StructField("chars_cum", T.LongType(), True),
]
ORDERED_OUTPUT_SCHEMA = T.StructType(
    list(TRANSCRIPT_SCHEMA.fields)
    + [T.StructField("emit_seq", T.LongType(), False)]  # 1-based per-key emission ordinal
    + DEPTH_FIELDS
)

# OrderedProcessingStatus analog — field set from the reference's
# ProcessingStatusToTableRowConverter.java:33-41 /
# terraform/bigquery-schema/processing-status.json.
STATUS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("status_ts", T.TimestampType(), True),
        T.StructField("last_emitted", T.LongType(), True),
        T.StructField("buffered_count", T.LongType(), False),
        T.StructField("earliest_buffered", T.LongType(), True),
        T.StructField("latest_buffered", T.LongType(), True),
        T.StructField("received_count", T.LongType(), False),
        T.StructField("result_count", T.LongType(), False),
        T.StructField("duplicate_count", T.LongType(), False),
        T.StructField("last_event_received", T.BooleanType(), False),
    ]
)

# Unified streaming output: one stateful operator emits both data rows and
# status rows (discriminated by row_type) — the dual-output pattern of
# OrderBookProcessingPipeline.java:107-120 folded into a single schema so a
# single applyInPandasWithState query can feed both sinks via foreachBatch.
# All fields nullable: data rows leave status fields NULL and vice versa.
STREAM_OUTPUT_SCHEMA = T.StructType(
    [T.StructField("row_type", T.StringType(), True)]  # 'data' | 'status'
    + [T.StructField(f.name, f.dataType, True) for f in ORDERED_OUTPUT_SCHEMA.fields]
    + [
        T.StructField(f.name, f.dataType, True)
        for f in STATUS_SCHEMA.fields
        if f.name != "conv_id"
    ]
)

# CEP variant (streaming/ordered_stream.py cfg.pattern): the unified output
# grows a third row_type 'match' with its own columns. A SEPARATE schema,
# used only when a pattern is configured — pattern-less outputs never see it.
_MATCH_FIELDS = [
    T.StructField("match_start_idx", T.LongType(), True),
    T.StructField("match_end_idx", T.LongType(), True),
    T.StructField("match_ts_first", T.TimestampType(), True),
    T.StructField("match_ts_last", T.TimestampType(), True),
    T.StructField("match_span_us", T.LongType(), True),
]

STREAM_OUTPUT_SCHEMA_CEP = T.StructType(
    list(STREAM_OUTPUT_SCHEMA.fields) + _MATCH_FIELDS
)

SINK_SCHEMA = T.StructType(
    list(ORDERED_OUTPUT_SCHEMA.fields)
    + [T.StructField("ingest_ts", T.TimestampType(), True)]
)


def ddl(schema: T.StructType) -> str:
    """Schema as a DDL string (for applyInPandas signatures)."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
