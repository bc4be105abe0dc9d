"""The per-key ordered-processing state machine — pure pandas/numpy.

This is the engine analog of Beam's OrderedEventProcessor (consumed by the
reference at order-book-pipeline/pom.xml:56-57; semantics pinned by
reference docs/pipeline-design.md and
OrderBookProcessingPipelineTest.java:91-195):

  O1  events apply to per-key state in strictly increasing CONTIGUOUS
      sequence; an event with seq == last_emitted+1 is processed immediately,
      then any now-contiguous buffered events drain.
  O2  the initial sequence number is configurable (here 1, as the reference's
      OrderBookEventExaminer.java:33-37).
  O4  a configurable predicate marks the per-key final event
      (lastContractMessage analog) → state can be cleaned up.
  O5  out-of-sequence events buffer until their predecessors arrive.
  O6  events with seq <= last_emitted are discarded and counted as
      duplicates (docs/pipeline-design.md:115-122). We additionally dedupe
      inside the buffer (the reference leaves in-buffer duplicates
      "unpredictable"; we define them: first arrival wins).
  O7  every drained event is emitted immediately, in order.
  O8  a status snapshot (OrderedProcessingStatus analog) is available after
      every batch.

``transition`` wraps ``apply_batch`` with every per-conversation policy
decision of the streaming engine (arrival vs heartbeat timer, status,
TTL eviction, completion cleanup vs tombstone, CEP carry, timer re-arm);
streaming/ordered_sharded.py only maps its disposition onto the shard's
state dict.

Everything is vectorized: one numpy sort + one contiguity scan per
(key, batch) — no per-row Python (input_hint requirement).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd

from .cep_core import CEP_COLS

INITIAL_TURN_IDX = 1
END_ROLE = "system"
END_TEXT = "__end__"

# Buffer columns (ts as int64 epoch-micros: timezone- and Arrow-proof).
BUF_COLS = ["turn_idx", "role", "text", "tool", "ts_us"]

IsLastFn = Callable[[pd.DataFrame], np.ndarray]


def ts_to_us(s: pd.Series) -> pd.Series:
    """Timestamp series → int64 epoch-micros, robust to ns/us units and tz."""
    s = pd.to_datetime(s)
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64")


def _col(obj, name: str) -> np.ndarray:
    """Column accessor that serves both pandas frames and dict-of-arrays."""
    c = obj[name]
    return c.to_numpy(copy=False) if hasattr(c, "to_numpy") else c


def default_is_last(pdf) -> np.ndarray:
    """lastContractMessage analog: sentinel final turn (FIXTURES.md §1)."""
    roles = _col(pdf, "role")
    texts = _col(pdf, "text")
    return (roles == END_ROLE) & (texts == END_TEXT)


# Shared immutable empty buffer. The buffer is a DICT of numpy arrays (not a
# DataFrame): per-group DataFrame construction/access dominated the sharded
# engine's profile (15k frame builds + 114k __getitem__ per 10 batches);
# apply_batch only ever REASSIGNS state.buffer, never mutates it in place,
# so sharing is safe.
_EMPTY_BUFFER: dict[str, np.ndarray] = {
    "turn_idx": np.empty(0, dtype="int64"),
    "role": np.empty(0, dtype=object),
    "text": np.empty(0, dtype=object),
    "tool": np.empty(0, dtype=object),
    "ts_us": np.empty(0, dtype="int64"),
}


@dataclass
class OrderedState:
    """Cursor + counters + sorted pending buffer for one key.

    The n_user/n_assistant/n_tool/chars counters are the conversation
    "depth" accumulator — the transcript analog of the reference's
    order-book state machine whose mutate()/produceResult() emits a derived
    MarketDepth snapshot per in-order event (OrderBookBuilder.java:24-141):
    every emitted turn carries the running conversation aggregate.

    ``buffer`` is a dict of numpy column arrays (BUF_COLS), sorted by
    turn_idx; a pandas DataFrame is also accepted on input for convenience
    (converted lazily by apply_batch)."""

    last_emitted: int = INITIAL_TURN_IDX - 1
    received_count: int = 0
    result_count: int = 0
    duplicate_count: int = 0
    last_event_received: bool = False
    n_user: int = 0
    n_assistant: int = 0
    n_tool: int = 0
    chars: int = 0
    idle_heartbeats: int = 0  # timer firings since last arrival (TTL eviction)
    buffer: dict = field(default_factory=lambda: _EMPTY_BUFFER)

    @property
    def buffered_count(self) -> int:
        return len(_col(self.buffer, "turn_idx"))

    @property
    def earliest_buffered(self) -> int | None:
        t = _col(self.buffer, "turn_idx")
        return int(t[0]) if len(t) else None

    @property
    def latest_buffered(self) -> int | None:
        t = _col(self.buffer, "turn_idx")
        return int(t[-1]) if len(t) else None

    @property
    def complete(self) -> bool:
        """Key finished: final event seen and nothing pending (→ state cleanup)."""
        return self.last_event_received and self.buffered_count == 0


def counters(state: OrderedState) -> tuple:
    """The cursor and counters, in field order (last_emitted … chars): the
    common prefix of a conversation entry and its tombstone."""
    return (
        state.last_emitted,
        state.received_count,
        state.result_count,
        state.duplicate_count,
        state.last_event_received,
        state.n_user,
        state.n_assistant,
        state.n_tool,
        state.chars,
    )


def apply_batch(
    state: OrderedState,
    batch,
    is_last: IsLastFn = default_is_last,
    max_emit: int | None = None,
    as_arrays: bool = False,
):
    """Feed one arrival batch for one key; mutate state; return emitted rows.

    ``batch`` columns: BUF_COLS — either a pandas DataFrame or a dict of
    numpy arrays (the sharded engine's zero-pandas hot path). Emitted rows
    come back in strict turn_idx order with an ``emit_seq`` column (1-based
    per-key emission ordinal) — as a DataFrame by default, or as a dict of
    arrays with ``as_arrays=True``. ``max_emit`` is the O9 safety valve
    (maxOutputElementsPerBundle analog,
    OrderBookProcessingPipeline.java:85-89): a capped drain leaves the rest
    contiguous in the buffer for the next trigger.
    """
    is_df = isinstance(batch, pd.DataFrame)
    n_in = len(batch) if is_df else len(_col(batch, "turn_idx"))
    state.received_count += n_in

    # Work on bare numpy arrays: per-group latency IS the engine's streaming
    # throughput ceiling (one invocation per key per micro-batch), so the hot
    # path avoids intermediate DataFrames entirely.
    buf = state.buffer
    n_buf = len(_col(buf, "turn_idx"))
    if n_in:
        # Last-event detection happens on ARRIVAL (even if the event buffers),
        # matching OrderedProcessingStatus.lastEventReceived semantics.
        if bool(is_last(batch).any()):
            state.last_event_received = True
        # ts_us may be precomputed by the caller; derive it otherwise
        # (avoids a full-DataFrame .assign copy in the streaming hot path)
        batch_cols = {c: _col(batch, c) for c in ("turn_idx", "role", "text", "tool")}
        has_ts_us = ("ts_us" in batch.columns) if is_df else ("ts_us" in batch)
        batch_cols["ts_us"] = (
            _col(batch, "ts_us") if has_ts_us else ts_to_us(batch["ts"]).to_numpy()
        )
        if n_buf:
            cols = {
                c: np.concatenate([_col(buf, c), batch_cols[c]]) for c in BUF_COLS
            }
        else:
            cols = batch_cols
    else:
        cols = {c: _col(buf, c) for c in BUF_COLS}

    idx = cols["turn_idx"].astype(np.int64, copy=False)

    # Stable sort → earlier arrival (buffer before batch) wins on duplicates.
    order = np.argsort(idx, kind="stable")
    sorted_idx = idx[order]

    # Drop already-emitted seqs and duplicate seqs, counting both (O6).
    fresh = np.empty(len(sorted_idx), dtype=bool)
    if len(sorted_idx):
        fresh[0] = sorted_idx[0] > state.last_emitted
        np.greater(sorted_idx[1:], sorted_idx[:-1], out=fresh[1:])
        fresh[1:] &= sorted_idx[1:] > state.last_emitted
    n_dropped = int(len(sorted_idx) - fresh.sum())
    state.duplicate_count += n_dropped

    keep = order[fresh]
    kept_idx = sorted_idx[fresh]

    # Maximal contiguous run starting at last_emitted + 1 (O1).
    expect = state.last_emitted + 1 + np.arange(len(kept_idx), dtype=np.int64)
    mismatch = np.nonzero(kept_idx != expect)[0]
    n_emit = int(mismatch[0]) if len(mismatch) else len(kept_idx)
    if max_emit is not None:
        n_emit = min(n_emit, max_emit)

    emit_ix = keep[:n_emit]
    emitted_cols = {c: cols[c][emit_ix] for c in BUF_COLS}
    rest_ix = keep[n_emit:]
    if len(rest_ix):
        state.buffer = {c: cols[c][rest_ix] for c in BUF_COLS}
    else:
        state.buffer = _EMPTY_BUFFER

    emitted_cols["emit_seq"] = state.result_count + 1 + np.arange(
        n_emit, dtype=np.int64
    )

    # produceResult() analog: per-emitted-turn running conversation depth
    # (vectorized cumsums on role masks + text lengths).
    roles = emitted_cols["role"]
    texts = emitted_cols["text"]
    emitted_cols["n_user_cum"] = state.n_user + np.cumsum(roles == "user")
    emitted_cols["n_assistant_cum"] = state.n_assistant + np.cumsum(
        roles == "assistant"
    )
    emitted_cols["n_tool_cum"] = state.n_tool + np.cumsum(roles == "tool")
    # small drains: a python loop beats pandas overhead; large drains
    # (mega-key gap closures): vectorized str.len
    if n_emit <= 512:
        lens = np.array([len(t) if t is not None else 0 for t in texts], dtype=np.int64)
    else:
        lens = pd.Series(texts).str.len().fillna(0).to_numpy(dtype=np.int64)
    emitted_cols["chars_cum"] = state.chars + np.cumsum(lens)
    if n_emit:
        state.n_user = int(emitted_cols["n_user_cum"][-1])
        state.n_assistant = int(emitted_cols["n_assistant_cum"][-1])
        state.n_tool = int(emitted_cols["n_tool_cum"][-1])
        state.chars = int(emitted_cols["chars_cum"][-1])
        state.last_emitted = int(kept_idx[n_emit - 1])
    state.result_count += n_emit
    if as_arrays:
        return emitted_cols
    return pd.DataFrame(emitted_cols, copy=False)


def status_dict(conv_id: str, state: OrderedState) -> dict:
    """OrderedProcessingStatus snapshot (field set from the reference's
    ProcessingStatusToTableRowConverter.java:33-41)."""
    return {
        "conv_id": conv_id,
        "last_emitted": state.last_emitted if state.result_count else None,
        "buffered_count": state.buffered_count,
        "earliest_buffered": state.earliest_buffered,
        "latest_buffered": state.latest_buffered,
        "received_count": state.received_count,
        "result_count": state.result_count,
        "duplicate_count": state.duplicate_count,
        "last_event_received": state.last_event_received,
    }


# Dispositions: what the engine does with a conversation's state afterwards.
KEEP = "keep"  # store the state (open conversation)
TOMBSTONE = "tombstone"  # completed: keep cursor + counters so late duplicates count
REMOVE = "remove"  # drop the state (eager cleanup or TTL eviction)


class Disposition(NamedTuple):
    action: str  # KEEP / TOMBSTONE / REMOVE
    rearm_ms: int | None  # heartbeat timer to re-arm with; None = no timer


class Transition(NamedTuple):
    emitted: dict  # apply_batch(..., as_arrays=True) columns
    matches: dict | None  # CEP match columns (None without a pattern/new rows)
    carry: dict | None  # CEP carry to store; None = store none
    status: dict | None  # status_dict snapshot, or None
    disposition: Disposition


def timer_ms(cfg, complete: bool) -> int | None:
    """Heartbeat duration a key must re-arm with: every open key while
    heartbeats are on; a completed key (frozen tombstone) only when a TTL
    will eventually evict it — otherwise its timer would fire forever."""
    if cfg.status_heartbeat_ms and (
        not complete or cfg.evict_idle_after_heartbeats is not None
    ):
        return cfg.status_heartbeat_ms
    return None


def transition(conv_id, state: OrderedState, carry, batch, cfg, matcher=None) -> Transition:
    """One step of one conversation: an arrival ``batch`` (BUF_COLS frame or
    dict of arrays) or, with ``batch=None``, a heartbeat timer firing.
    Mutates ``state``. ``cfg`` is an OrderedStreamConfig; ``matcher`` a
    cep_core.StreamMatcher or None.

    Timer firings drain a capped remainder (the timer is the only future
    invocation an idle key is guaranteed), count toward the TTL, and report
    a status unless the key is a completed tombstone (its counters are
    frozen; the completion status was already emitted). A key is TTL-evicted
    only on a firing that emitted nothing — evicting after a capped drain
    would drop its contiguous remainder. A completed key is removed under
    ``cleanup_on_complete``, else tombstoned; either way its CEP carry goes
    (the final sentinel delimits pattern scope)."""
    timer = batch is None
    emitted = apply_batch(
        state,
        _EMPTY_BUFFER if timer else batch,
        max_emit=cfg.max_emit_per_batch,
        as_arrays=True,
    )
    state.idle_heartbeats = state.idle_heartbeats + 1 if timer else 0
    n = len(emitted["turn_idx"])
    complete = state.complete
    matches = None
    if matcher is not None and n:
        # final=complete: the completion flush closes quantified open runs
        matches, carry = matcher.match(
            {c: emitted[c] for c in CEP_COLS}, carry, final=complete
        )
    if timer:
        report = n or not complete
        ttl = cfg.evict_idle_after_heartbeats
        evict = ttl is not None and state.idle_heartbeats >= ttl and not n
    else:
        report = cfg.emit_status_every_batch
        evict = False
    if evict:
        action = REMOVE
    elif complete:
        action = REMOVE if cfg.cleanup_on_complete else TOMBSTONE
    else:
        action = KEEP
    return Transition(
        emitted,
        matches,
        carry if action == KEEP else None,
        status_dict(conv_id, state) if report else None,
        Disposition(action, None if action == REMOVE else timer_ms(cfg, complete)),
    )
