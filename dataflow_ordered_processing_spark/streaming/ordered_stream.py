"""The ordered stream's contract: its config, its output rows and how they split.

This is the Spark-native reimplementation of Beam's OrderedEventProcessor as
used by the reference pipeline (OrderBookProducer.java:59-76, semantics from
docs/pipeline-design.md and OrderBookProcessingPipelineTest.java:91-195).
The engine that runs it is ``ordered_sharded.ordered_stream`` (exported as
``streaming.ordered_stream``); this module holds what does not depend on
where the state lives:

  - ``OrderedStreamConfig``: the knobs of each per-conversation step
    (``ordered_core.transition``): status cadence, capped drain, TTL
    eviction, completion cleanup vs tombstone, and the CEP pattern.
  - ``cfg_matcher``: the config's pattern knobs as one
    ``cep_core.StreamMatcher``.
  - ``_Output``: the frame builder. One operator emits ordered data rows,
    OrderedProcessingStatus rows and CEP match rows, discriminated by
    ``row_type`` — the reference's dual output (results + statuses,
    OrderBookProcessingPipeline.java:107-120) in one schema.
  - ``split_output`` / ``split_output_cep``: the unified stream back into
    its channels with their natural schemas, inside ``foreachBatch``.

Heartbeat statuses for idle keys with buffered gaps follow the reference's
timer-driven status (OrderBookProcessingPipelineTest.java:214-215); state
of a key whose final event was seen and whose buffer is empty is removed
(cleanup on lastContractMessage, OrderBookEventExaminer.java:46-49) or
kept as a tombstone. Mega-key skew is handled by the two-phase salted
variant in operators/skew.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators import cep_core
from ..operators import ordered_core as core
from ..schemas import STREAM_OUTPUT_SCHEMA, STREAM_OUTPUT_SCHEMA_CEP

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
    # row_type='match' rows in STREAM_OUTPUT_SCHEMA_CEP; the checkpoint's
    # engine marker (sinks._pattern_spec) refuses a pattern change.
    pattern: tuple | None = None
    pattern_within_s: int | None = None  # FlinkCEP within() on first→last ts
    # "strict" (Flink `next`) or "skip" (Flink `followedBy`): skip state is a
    # partial-match FRONTIER (one open candidate per anchor, plain and
    # quantified patterns alike) instead of a carry. Bound open
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
    built into output frames once (data, matches, statuses)."""

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
    """The config's pattern knobs → ONE StreamMatcher."""
    if cfg.pattern is None:
        return None
    return cep_core.stream_matcher(
        cfg.pattern,
        cfg.pattern_mode,
        cfg.pattern_within_s,
        cfg.pattern_within_turns,
        cfg.pattern_not_between,
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
