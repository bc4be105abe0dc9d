"""Sharded-state variant of the streaming ordered processor.

The classic operator (ordered_stream.py) keys applyInPandasWithState by
conv_id: correct, but its throughput ceiling is the PER-GROUP invocation
overhead — state Row marshalling, JVM↔Python chatter, and one output frame
per key per micro-batch (~3.4 ms/group measured in round 1, while the actual
numpy state-machine work is ~0.05 ms). This variant keys state by
``shard = pmod(xxhash64(conv_id), n_shards)`` and keeps a DICTIONARY of
per-conversation states inside one pickled binary state value:

  - ONE stateful-group invocation per shard per micro-batch, amortizing the
    invocation overhead over every active conversation in the shard;
  - the inner loop runs the SAME per-conversation step as the classic
    operator (ordered_core.transition), so emitted rows, statuses,
    duplicate handling, capped drain, TTL eviction, cleanup and timer
    re-arm decisions are made in one place (tests assert row-level
    equality between the engines); this module only maps the step's
    disposition onto the shard dict;
  - output frames are built once per shard from concatenated numpy columns
    (the builder shared with the classic operator), not once per
    conversation.

Trade-off (why both variants exist): the shard state blob is rewritten
every micro-batch. Since round 3, per-conversation entries inside the dict
are stored ADAPTIVELY: pre-pickled bytes when a batch touches a minority
of the shard's conversations (untouched bytes then memcpy through the
outer pickle — 11-13× cheaper per invocation at 10k pending convs / 100
touched, the 10^12-turn sparse-touch shape), plain tuples when a batch
touches the majority (dense replays — the nested dumps framing would cost
~10%, measured by interleaved A/B at 4M rows). Mixed dicts load entry by
entry. The remaining cost is O(total state bytes) memcpy per batch; a
shard where gigabytes of buffers sit idle for hours still favors the
classic per-key operator whose untouched keys cost literally nothing.
n_shards should track total cores across the cluster (shards are the
parallelism unit here — at 1000 executors give it 8-32k shards).
``start_ordered_pipeline(n_shards=None)`` defaults to
8 × defaultParallelism and pins the choice in a checkpoint marker (resuming
with a different n_shards would silently re-key conversations to different
shards, stranding their state — the marker fails fast instead).

State growth: COMPLETED conversations (the TOMBSTONE disposition) shrink
to a compact 9-int tombstone in a side map (``_TOMBS``) — the blob grows by
~100 bytes per completed conversation, retained only to discard+count
post-completion re-delivery. Heartbeat sweeps iterate tombstones only when
a TTL needs their timer (``ordered_core.timer_ms``), so without one sweep
cost is O(pending conversations). With ``evict_idle_after_heartbeats``
set, tombstones age out silently after that many idle heartbeats (there is
no unresolved gap to report), bounding the blob at O(pending +
recently-completed); without a TTL they accumulate like any keyed state
store's kept keys — set a TTL on long-running streams, or
``cleanup_on_complete=True`` to skip tombstones entirely and lean on the
sink's merge_on_key for post-completion duplicates.

Reference semantics: same contract as ordered_stream.py
(OrderedEventProcessor / OrderBookProcessingPipeline.java:107-120 dual
output; docs/pipeline-design.md ordering rules).
"""

from __future__ import annotations

import pickle
import time
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import ordered_core as core
from ..schemas import STREAM_OUTPUT_SCHEMA, STREAM_OUTPUT_SCHEMA_CEP
from .ordered_stream import OrderedStreamConfig, _Output, cfg_matcher

SHARD_STATE_SCHEMA = T.StructType([T.StructField("blob", T.BinaryType(), True)])


def _conv_to_tuple(st: core.OrderedState) -> tuple:
    buf = {c: core._col(st.buffer, c) for c in core.BUF_COLS} if st.buffered_count else None
    return (*core.counters(st), st.idle_heartbeats, buf)


def _conv_from_tuple(t: tuple) -> core.OrderedState:
    return core.OrderedState(*t[:10], t[10] if t[10] is not None else core._EMPTY_BUFFER)


# Reserved (non-string) keys inside the shard state dict — conv_id keys are
# strings, so they can never collide.
_HB_AT = 0  # wall clock of the last heartbeat sweep
_TOMBS = 1  # side map {conv_id: tombstone} of COMPLETED conversations
_CEP = 2  # side map {conv_id: CEP state} — strict carry / skip frontier


def _tomb_from_state(st: core.OrderedState) -> tuple:
    """Compact tombstone for a completed conversation: cursor + frozen
    counters without last_event_received (True by definition of complete)
    or the buffer (empty), plus the idle-heartbeat count for TTL aging.
    ~100 bytes pickled vs the full tuple."""
    c = core.counters(st)
    return (*c[:4], *c[5:], st.idle_heartbeats)


def _state_from_tomb(t: tuple) -> core.OrderedState:
    return core.OrderedState(*t[:4], True, *t[4:8], idle_heartbeats=t[8])


def _conv_loads(v) -> tuple:
    """Per-conversation entries are stored PRE-PICKLED (bytes) inside the
    shard dict: the outer per-batch pickle then memcpys untouched
    conversations' bytes instead of re-walking their numpy/object graphs —
    the dominant cost when many conversations sit pending but only a few
    receive arrivals in a batch. Tuples are accepted too (legacy blobs from
    pre-round-3 checkpoints deserialize transparently)."""
    return pickle.loads(v) if isinstance(v, bytes) else v


def _conv_dumps(st: core.OrderedState) -> bytes:
    return pickle.dumps(_conv_to_tuple(st), protocol=5)


def make_sharded_func(cfg: OrderedStreamConfig):
    """Build the (shard, pdf_iter, state) function: decode the shard dict,
    run ordered_core.transition per conversation, and map each disposition
    onto a dict entry (KEEP), a ``_TOMBS`` entry (TOMBSTONE) or neither
    (REMOVE)."""
    matcher = cfg_matcher(cfg)
    has_cep = matcher is not None

    def func(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        states: dict = pickle.loads(state.get[0]) if state.exists else {}
        tombs: dict = states.setdefault(_TOMBS, {})
        cep_map: dict = states.get(_CEP, {}) if has_cep else {}
        out = _Output(has_cep)

        def step(conv_id: str, st: core.OrderedState, batch) -> bool:
            """Transition one conversation; store everything but an open
            conversation's entry (the caller encodes it). True = open."""
            tr = core.transition(conv_id, st, cep_map.get(conv_id), batch, cfg, matcher)
            out.add(conv_id, tr)
            if tr.carry is not None:
                cep_map[conv_id] = tr.carry
            else:
                cep_map.pop(conv_id, None)
            action = tr.disposition.action
            if action == core.KEEP:
                # a post-final turn that re-opened a gap resurrects a
                # tombstone: drop it so it can't shadow the live entry
                tombs.pop(conv_id, None)
                return True
            states.pop(conv_id, None)
            if action == core.TOMBSTONE:
                tombs[conv_id] = _tomb_from_state(st)
            else:
                tombs.pop(conv_id, None)
            return False

        def heartbeat_sweep(skip: set) -> None:
            """One timer firing for every conversation of the shard except
            `skip` (those that just received arrivals). Tombstones are swept
            only when they need a timer at all (a TTL ages them out);
            otherwise the sweep is O(pending conversations)."""
            swept_tombs = list(tombs) if core.timer_ms(cfg, complete=True) else []
            for conv_id in list(states):
                if isinstance(conv_id, int) or conv_id in skip:
                    continue  # reserved keys (_HB_AT, _TOMBS, _CEP)
                st = _conv_from_tuple(_conv_loads(states[conv_id]))
                if step(conv_id, st, None):
                    states[conv_id] = _conv_dumps(st)
            for conv_id in swept_tombs:
                if conv_id not in skip:
                    step(conv_id, _state_from_tomb(tombs[conv_id]), None)
            states[_HB_AT] = time.time()

        if state.hasTimedOut:
            heartbeat_sweep(skip=set())
        else:
            frames = list(pdfs)
            batch = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
            # Pandas exits here: pull the shard batch into numpy columns ONCE
            # (incl. one vectorized ts conversion), segment by conv_id with a
            # stable sort (within-conv arrival order preserved — the
            # duplicate-winner rule depends on it), and slice raw arrays per
            # conversation. Per-group pandas construction/access dominated
            # the profile (~0.6 ms/conv); array slicing is ~20 µs.
            cols = {
                c: batch[c].to_numpy(copy=False)
                for c in ("conv_id", "turn_idx", "role", "text", "tool")
            }
            cols["ts_us"] = core.ts_to_us(batch["ts"]).to_numpy()
            # NULL conv_ids factorize to -1: their own group, like the
            # classic engine's NULL key (the sink routes it to the DLQ)
            codes, _ = pd.factorize(cols["conv_id"], sort=True)
            order = np.argsort(codes, kind="stable")
            cuts = np.flatnonzero(np.diff(codes[order])) + 1
            arrived = set()
            touched: dict = {}  # conv_id → OrderedState, encoded after the loop
            for seg in np.split(order, cuts) if len(order) else []:
                conv_id = cols["conv_id"][seg[0]]
                g = {c: cols[c][seg] for c in core.BUF_COLS}
                arrived.add(conv_id)
                t = states.get(conv_id)
                if t is not None:
                    st = _conv_from_tuple(_conv_loads(t))
                elif conv_id in tombs:
                    st = _state_from_tomb(tombs[conv_id])
                else:
                    st = core.OrderedState(last_emitted=cfg.initial_turn_idx - 1)
                if step(conv_id, st, g):
                    touched[conv_id] = st
            # Adaptive entry encoding: pre-pickled bytes pay off when MOST
            # entries are untouched next batch (their bytes memcpy through
            # the outer pickle — 13× in the sparse-touch regime); when a
            # batch touches the majority of the shard's conversations
            # (dense replays/backfills) the nested per-conv dumps framing
            # is pure overhead (~10% measured at 4M rows/1-4 cores), so
            # store plain tuples instead. Mixed dicts are fine — the loader
            # accepts both forms entry by entry.
            n_active = len(states.keys() - {_HB_AT, _TOMBS} | touched.keys())
            enc = _conv_to_tuple if len(touched) * 2 >= n_active else _conv_dumps
            for cid, st in touched.items():
                states[cid] = enc(st)
            # A busy shard's ProcessingTimeTimeout never fires (any arrival
            # reschedules it), which would starve idle co-sharded keys of
            # heartbeats/TTL — the classic engine's PER-KEY timers have no
            # such coupling. Restore the cadence: if a heartbeat interval
            # elapsed since the last sweep, sweep the non-arriving keys now.
            if cfg.status_heartbeat_ms:
                hb_at = states.get(_HB_AT)
                if hb_at is None:
                    states[_HB_AT] = time.time()
                elif (time.time() - hb_at) * 1000.0 >= cfg.status_heartbeat_ms:
                    heartbeat_sweep(skip=arrived)

        if cep_map:
            states[_CEP] = cep_map
        else:
            states.pop(_CEP, None)
        if not tombs:
            del states[_TOMBS]
        active_keys = states.keys() - {_HB_AT, _TOMBS, _CEP}
        if active_keys or tombs:
            state.update((pickle.dumps(states, protocol=5),))
            # the shard needs a timer iff one of its entries does: any open
            # conversation, or tombstones that a TTL will age out
            rearm_ms = core.timer_ms(cfg, complete=not active_keys)
            if rearm_ms:
                state.setTimeoutDuration(rearm_ms)
        else:
            state.remove()

        yield from out.frames()

    return func


def ordered_stream_sharded(
    df: DataFrame, cfg: OrderedStreamConfig | None = None, n_shards: int | None = None
) -> DataFrame:
    """Sharded-state ordered processor: same unified data+status output as
    ordered_stream (STREAM_OUTPUT_SCHEMA), state keyed by hash shard.
    n_shards=None resolves through streaming.resolve_n_shards (the single
    default definition)."""
    from . import resolve_n_shards

    n_shards = resolve_n_shards(df, n_shards)
    cfg = cfg or OrderedStreamConfig()
    timeout = "ProcessingTimeTimeout" if cfg.status_heartbeat_ms else "NoTimeout"
    sharded = df.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_shards)).cast("int")
    )
    out_schema = (
        STREAM_OUTPUT_SCHEMA_CEP if cfg.pattern is not None else STREAM_OUTPUT_SCHEMA
    )
    return (
        sharded.groupBy("_shard")
        .applyInPandasWithState(
            make_sharded_func(cfg),
            outputStructType=out_schema,
            stateStructType=SHARD_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
