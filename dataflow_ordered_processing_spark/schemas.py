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

# CEP variants (streaming/ordered_stream.py cfg.pattern): the unified output
# grows a third row_type 'match' with its own columns, and the state grows
# the (k-1)-row carry of the last emitted turns so strict-contiguity matches
# spanning micro-batch boundaries are found exactly once. SEPARATE schemas,
# used only when a pattern is configured — existing checkpoints (and the
# state-store schema-compat check) never see them.
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

# applyInPandasWithState state struct: cursor + counters + columnar buffer of
# pending (out-of-sequence) rows. The buffer is parallel arrays (not an array
# of structs) so the pandas side can go straight to numpy without object
# boxing. ts stored as int64 epoch-micros (timezone-proof).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_emitted", T.LongType(), False),
        T.StructField("received_count", T.LongType(), False),
        T.StructField("result_count", T.LongType(), False),
        T.StructField("duplicate_count", T.LongType(), False),
        T.StructField("last_event_received", T.BooleanType(), False),
        T.StructField("n_user", T.LongType(), False),
        T.StructField("n_assistant", T.LongType(), False),
        T.StructField("n_tool", T.LongType(), False),
        T.StructField("chars", T.LongType(), False),
        T.StructField("buf_turn_idx", T.ArrayType(T.LongType()), True),
        T.StructField("buf_role", T.ArrayType(T.StringType()), True),
        T.StructField("buf_text", T.ArrayType(T.StringType()), True),
        T.StructField("buf_tool", T.ArrayType(T.StringType()), True),
        T.StructField("buf_ts_us", T.ArrayType(T.LongType()), True),
        # timer firings since the last arrival (drives idle-state eviction)
        T.StructField("idle_heartbeats", T.LongType(), False),
    ]
)

# STATE_SCHEMA + the CEP carry: the trailing (k-1) emitted turns, columnar
# like the buffer. Only used when cfg.pattern is set (see note above).
STATE_SCHEMA_CEP = T.StructType(
    list(STATE_SCHEMA.fields)
    + [
        T.StructField("cep_turn_idx", T.ArrayType(T.LongType()), True),
        T.StructField("cep_role", T.ArrayType(T.StringType()), True),
        T.StructField("cep_tool", T.ArrayType(T.StringType()), True),
        T.StructField("cep_ts_us", T.ArrayType(T.LongType()), True),
    ]
)

# STATE_SCHEMA + the skip-mode (followedBy) partial-match frontier of
# cep_core.match_skip, for plain and quantified patterns alike: per open
# candidate the anchor turn/ts, the next step it waits for, cpos (its last
# consumed turn — hop targets start strictly after it) and guard_seen (the
# earliest pending guard row, for a wait on a quantified step); per
# quantified step the start/end idx+ts of a predicate run still open at
# the batch boundary; and the expected next turn_idx (the gap guard).
# Distinct from STATE_SCHEMA_CEP because the payload types differ (all-int
# arrays), so a checkpoint written under one pattern mode refuses the other
# via the state store's schema-compat check instead of silently
# mis-decoding.
STATE_SCHEMA_CEP_SKIP_Q = T.StructType(
    list(STATE_SCHEMA.fields)
    + [
        T.StructField("cep_anchor_idx", T.ArrayType(T.LongType()), True),
        T.StructField("cep_anchor_ts_us", T.ArrayType(T.LongType()), True),
        T.StructField("cep_wait", T.ArrayType(T.LongType()), True),
        T.StructField("cep_cpos", T.ArrayType(T.LongType()), True),
        T.StructField("cep_guard_seen", T.ArrayType(T.LongType()), True),
        T.StructField("cep_open_s", T.ArrayType(T.LongType()), True),
        T.StructField("cep_open_s_ts", T.ArrayType(T.LongType()), True),
        T.StructField("cep_open_e", T.ArrayType(T.LongType()), True),
        T.StructField("cep_open_e_ts", T.ArrayType(T.LongType()), True),
        T.StructField("cep_next_expected", T.LongType(), True),
    ]
)

SINK_SCHEMA = T.StructType(
    list(ORDERED_OUTPUT_SCHEMA.fields)
    + [T.StructField("ingest_ts", T.TimestampType(), True)]
)


def ddl(schema: T.StructType) -> str:
    """Schema as a DDL string (for applyInPandas signatures)."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
