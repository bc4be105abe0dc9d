"""The streaming ordered processor — applyInPandasWithState over conv_id.

This is the Spark-native reimplementation of Beam's OrderedEventProcessor as
used by the reference pipeline (OrderBookProducer.java:59-76, semantics from
docs/pipeline-design.md and OrderBookProcessingPipelineTest.java:91-195):

  - groupBy("conv_id") hash-partitions the stream so each conversation's
    state lives on exactly one partition (the GroupByKey the reference's
    keyed state implies).
  - Per key, state holds the last-emitted cursor, counters, and a sorted
    columnar buffer of pending out-of-sequence turns (STATE_SCHEMA).
  - Each micro-batch (or heartbeat timer firing) runs one
    ordered_core.transition step: it appends the rows to the buffer,
    drains the maximal contiguous run (ordered_core.apply_batch — all
    vectorized), and decides the status, the CEP carry, TTL eviction,
    completion cleanup vs tombstone, and the timer re-arm. This module
    only decodes the STATE_SCHEMA* tuple and maps the step's disposition
    onto state.update / state.remove; the sharded engine
    (ordered_sharded.py) runs the same step per conversation.
  - The same operator emits both ordered data rows and
    OrderedProcessingStatus rows, discriminated by `row_type` — the
    reference's dual-output (results + statuses,
    OrderBookProcessingPipeline.java:107-120) — through the frame builder
    (``_Output``) both engines share.
  - A processing-time timeout emits heartbeat statuses for idle keys with
    buffered gaps (the reference's timer-driven status,
    OrderBookProcessingPipelineTest.java:214-215).
  - When a key's final event was seen and its buffer is empty, state is
    removed (cleanup on lastContractMessage,
    OrderBookEventExaminer.java:46-49) or kept as a tombstone.

At 100 TB: state is per-key O(pending gap), not O(history); the only shuffle
is the hash exchange on conv_id; the Python boundary is Arrow-batched and
every per-row operation is numpy. Mega-key skew is handled by the two-phase
salted variant in operators/skew.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators import cep_core
from ..operators import ordered_core as core
from ..schemas import (
    STATE_SCHEMA,
    STATE_SCHEMA_CEP,
    STATE_SCHEMA_CEP_SKIP_Q,
    STREAM_OUTPUT_SCHEMA,
    STREAM_OUTPUT_SCHEMA_CEP,
)

_DEPTH_COLS = ["n_user_cum", "n_assistant_cum", "n_tool_cum", "chars_cum"]
_DATA_COLS = ["turn_idx", "role", "text", "tool", "ts", "emit_seq", *_DEPTH_COLS]
_STATUS_COLS = [
    "last_emitted",
    "buffered_count",
    "earliest_buffered",
    "latest_buffered",
    "received_count",
    "result_count",
    "duplicate_count",
    "last_event_received",
]


@dataclass(frozen=True)
class OrderedStreamConfig:
    """Knobs mirroring the reference's OrderBookProducer options
    (OrderBookProducer.java:41-57)."""

    # How these knobs drive each step (status, TTL eviction, completion
    # cleanup vs tombstone, timer re-arm): ordered_core.transition.
    emit_status_every_batch: bool = True  # produceStatusUpdatesOnEveryEvent analog
    status_heartbeat_ms: int | None = None  # timer-driven status frequency (O10)
    max_emit_per_batch: int | None = None  # maxOutputElementsPerBundle analog (O9)
    initial_turn_idx: int = core.INITIAL_TURN_IDX
    # False (default): on completion keep a ~50-byte tombstone so duplicates
    # re-delivered AFTER the final turn are still discarded+counted
    # (docs/pipeline-design.md:115-122). True: remove state eagerly like the
    # reference (OrderBookEventExaminer.java:46-49) — post-completion
    # re-delivery then re-emits, and the sink's (conv_id, turn_idx)
    # idempotent MERGE guarantees exactly-once.
    cleanup_on_complete: bool = False
    # State TTL for turns that never arrive (docs/pipeline-design.md:124-128
    # leaves this open): evict a key after this many idle heartbeat firings,
    # dropping its pending turns. Requires status_heartbeat_ms.
    evict_idle_after_heartbeats: int | None = None
    # CEP: a tuple of cep_core.Step matched over the in-order EMITTED turns,
    # once per match across micro-batch boundaries and capped drains (the
    # carry rides in the state and is dropped at completion). Under
    # cleanup_on_complete=True or a TTL eviction re-delivered turns re-emit
    # AND re-match; SinkConfig.merge_on_key dedupes both. Matches surface as
    # row_type='match' rows; output/state use the *_CEP schema variants, so
    # a checkpoint refuses a pattern change via the schema-compat check.
    pattern: tuple | None = None
    pattern_within_s: int | None = None  # FlinkCEP within() on first→last ts
    # "strict" (Flink `next`) or "skip" (Flink `followedBy`): skip state is a
    # partial-match FRONTIER (one open candidate per anchor, plain and
    # quantified patterns alike) with its own state schema. Bound open
    # candidates with pattern_within_s / pattern_within_turns (otherwise
    # they live until completion).
    pattern_mode: str = "strict"
    pattern_within_turns: int | None = None  # skip: max last_idx - first_idx
    pattern_not_between: dict | None = None  # skip: {segment_i: Step} guards

    def __post_init__(self) -> None:
        # fail at config time, not mid-stream
        cep_core.validate_pattern_knobs(
            self.pattern,
            self.pattern_mode,
            self.pattern_within_s,
            self.pattern_within_turns,
            self.pattern_not_between,
        )


def _state_to_tuple(st: core.OrderedState) -> tuple:
    # field order MUST match schemas.STATE_SCHEMA
    return (
        *core.counters(st),
        *(core._col(st.buffer, c).tolist() for c in core.BUF_COLS),
        st.idle_heartbeats,
    )


def _state_from_tuple(t: tuple) -> core.OrderedState:
    buf = {
        c: np.asarray(list(v or []), dtype=core._EMPTY_BUFFER[c].dtype)
        for c, v in zip(core.BUF_COLS, t[9:14])
    }
    idle = t[14] if len(t) > 14 and t[14] is not None else 0
    return core.OrderedState(*t[:9], idle_heartbeats=idle, buffer=buf)


def _null(dtype: T.DataType, n: int):
    """A column of n typed nulls (NaN for numbers: Arrow masks it)."""
    if isinstance(dtype, T.TimestampType):
        return pd.Series(np.full(n, None), dtype="datetime64[us]")
    if isinstance(dtype, (T.StringType, T.BooleanType)):
        return np.full(n, None, dtype=object)
    return np.full(n, np.nan)


def _frame(schema: T.StructType, n: int, cols: dict) -> pd.DataFrame:
    """An output frame of n rows: ``cols``, and nulls in every other column
    of ``schema`` (data rows leave status fields null and vice versa)."""
    return pd.DataFrame(
        {f.name: cols[f.name] if f.name in cols else _null(f.dataType, n) for f in schema}
    )


class _Output:
    """Output rows of one engine invocation, collected per conversation and
    built into output frames once (data, matches, statuses). ONE builder for
    both engines, so the row layout cannot drift."""

    def __init__(self, has_cep: bool):
        self.schema = STREAM_OUTPUT_SCHEMA_CEP if has_cep else STREAM_OUTPUT_SCHEMA
        self.data_convs: list[np.ndarray] = []
        self.data: list[dict] = []
        self.match_convs: list[np.ndarray] = []
        self.matches: list[dict] = []
        self.statuses: list[dict] = []

    def add(self, conv_id, tr: core.Transition) -> None:
        n = len(tr.emitted["turn_idx"])
        if n:
            self.data_convs.append(np.full(n, conv_id, dtype=object))
            self.data.append(tr.emitted)
        m = 0 if tr.matches is None else len(tr.matches["start_idx"])
        if m:
            self.match_convs.append(np.full(m, conv_id, dtype=object))
            self.matches.append(tr.matches)
        if tr.status is not None:
            self.statuses.append(tr.status)

    def frames(self) -> Iterator[pd.DataFrame]:
        if self.data:
            conv = np.concatenate(self.data_convs)
            d = {k: np.concatenate([p[k] for p in self.data]) for k in self.data[0]}
            yield _frame(self.schema, len(conv), {
                "row_type": np.full(len(conv), "data", dtype=object),
                "conv_id": conv,
                "turn_idx": d["turn_idx"].astype("int32", copy=False),
                "role": d["role"],
                "text": d["text"],
                "tool": d["tool"],
                "ts": d["ts_us"].astype("int64", copy=False).view("M8[us]"),
                **{c: d[c].astype("int64", copy=False) for c in ("emit_seq", *_DEPTH_COLS)},
            })
        if self.matches:
            conv = np.concatenate(self.match_convs)
            m = {k: np.concatenate([p[k] for p in self.matches]) for k in self.matches[0]}
            yield _frame(self.schema, len(conv), {
                "row_type": np.full(len(conv), "match", dtype=object),
                "conv_id": conv,
                "match_start_idx": m["start_idx"],
                "match_end_idx": m["end_idx"],
                "match_ts_first": m["ts_first_us"].view("M8[us]"),
                "match_ts_last": m["ts_last_us"].view("M8[us]"),
                "match_span_us": m["ts_last_us"] - m["ts_first_us"],
            })
        if self.statuses:
            n = len(self.statuses)
            now = datetime.now(timezone.utc).replace(tzinfo=None)
            yield _frame(self.schema, n, {
                "row_type": np.full(n, "status", dtype=object),
                "status_ts": pd.Series(np.full(n, now), dtype="datetime64[us]"),
                **{
                    c: np.array([s[c] for s in self.statuses], dtype=object)
                    for c in ("conv_id", *_STATUS_COLS)
                },
            })


def cfg_matcher(cfg: "OrderedStreamConfig") -> cep_core.StreamMatcher | None:
    """The config's pattern knobs → ONE StreamMatcher (shared with the
    sharded engine so mode dispatch can't drift)."""
    if cfg.pattern is None:
        return None
    return cep_core.stream_matcher(
        cfg.pattern,
        cfg.pattern_mode,
        cfg.pattern_within_s,
        cfg.pattern_within_turns,
        cfg.pattern_not_between,
    )


def make_ordered_func(cfg: OrderedStreamConfig):
    """Build the (key, pdf_iter, state) function for applyInPandasWithState:
    decode the key's STATE_SCHEMA* tuple, run ordered_core.transition, and
    map its disposition onto state.update / state.remove."""

    matcher = cfg_matcher(cfg)
    has_cep = matcher is not None

    def func(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        carry = None
        if state.exists:
            t = tuple(state.get)
            st = _state_from_tuple(t)
            # CEP state fields start at position 15 (after idle_heartbeats)
            # and span matcher.n_state_fields; absent/None → no carry
            if has_cep and len(t) > 15 and t[15] is not None:
                carry = matcher.state_from_lists(*t[15:15 + matcher.n_state_fields])
        else:
            st = core.OrderedState(last_emitted=cfg.initial_turn_idx - 1)
        batch = None
        if not state.hasTimedOut:
            frames = list(pdfs)
            batch = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        tr = core.transition(conv_id, st, carry, batch, cfg, matcher)
        action, rearm_ms = tr.disposition
        if action == core.REMOVE:
            state.remove()
        else:
            t_new = _state_to_tuple(st)
            if has_cep:
                c = tr.carry if tr.carry is not None else matcher.empty_state()
                t_new += tuple(matcher.state_to_lists(c))
            state.update(t_new)
            if rearm_ms:
                state.setTimeoutDuration(rearm_ms)
        out = _Output(has_cep)
        out.add(conv_id, tr)
        yield from out.frames()

    return func


def ordered_stream(df: DataFrame, cfg: OrderedStreamConfig | None = None) -> DataFrame:
    """Apply the ordered processor to a (streaming or batch) transcripts
    DataFrame. Returns the unified data+status stream (STREAM_OUTPUT_SCHEMA).
    """
    cfg = cfg or OrderedStreamConfig()
    timeout = "ProcessingTimeTimeout" if cfg.status_heartbeat_ms else "NoTimeout"
    has_cep = cfg.pattern is not None
    if has_cep:
        # per-mode state schema: the carry (strict) and the skip frontier
        # have different field sets, so a checkpoint written under one
        # refuses the other via the state-store schema-compat check
        skip = cfg.pattern_mode == "skip"
        state_schema = STATE_SCHEMA_CEP_SKIP_Q if skip else STATE_SCHEMA_CEP
    else:
        state_schema = STATE_SCHEMA
    return df.groupBy("conv_id").applyInPandasWithState(
        make_ordered_func(cfg),
        outputStructType=STREAM_OUTPUT_SCHEMA_CEP if has_cep else STREAM_OUTPUT_SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def split_output(unified: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the unified stream into (ordered data rows, status rows) with
    their natural schemas — used inside foreachBatch so ONE stateful query
    feeds both sinks (SURVEY.md §7 'dual-output' resolution)."""
    data = unified.filter(unified.row_type == "data").select(
        "conv_id", *_DATA_COLS
    )
    status = unified.filter(unified.row_type == "status").select(
        "conv_id", "status_ts", *_STATUS_COLS
    )
    return data, status


def split_output_cep(unified: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """split_output + the match channel (row_type='match') with its natural
    schema — for streams built with cfg.pattern."""
    data, status = split_output(unified)
    matches = unified.filter(unified.row_type == "match").select(
        "conv_id",
        unified.match_start_idx.alias("start_idx"),
        unified.match_end_idx.alias("end_idx"),
        unified.match_ts_first.alias("ts_first"),
        unified.match_ts_last.alias("ts_last"),
        unified.match_span_us.alias("span_us"),
    )
    return data, status, matches
