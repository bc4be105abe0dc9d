"""Deterministic test scenarios (FIXTURES.md §3) — transplants of the
reference's test designs (OrderBookProcessingPipelineTest.java,
MatcherTest.java) into the transcript domain.

Each scenario returns a list of pandas "arrival batches": the rows of each
batch arrive together (one streaming micro-batch), batches arrive in list
order — exactly how the reference's TestStream scripts element arrival
(OrderBookProcessingPipelineTest.java:203-217).

All generation is a pure function of (seed, ids): hashlib-based, no
wall-clock, no unordered iteration.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

SEED = 42
T0 = datetime(2026, 1, 1, 0, 0, 0)
TOOLS = ["search", "calc", "code", "browse"]


def _h(*parts) -> int:
    return int.from_bytes(
        hashlib.sha1(":".join(str(p) for p in parts).encode()).digest()[:8], "big"
    )


def _turn(conv: int, idx: int, n_turns: int) -> dict:
    conv_id = f"conv-{conv:06d}"
    if idx == n_turns:
        role, text, tool = "system", "__end__", None
    else:
        role = ["user", "assistant", "tool"][(idx - 1) % 3]
        text = f"{conv_id}:{idx}:{role}:" + hashlib.sha1(
            f"{SEED}:{conv_id}:{idx}".encode()
        ).hexdigest()[:16]
        tool = TOOLS[_h(SEED, conv_id, idx) % 4] if role == "tool" else None
    # strictly increasing within a conversation: 30 s step + jitter < step
    jitter = _h(SEED, "gap", conv_id, idx) % 25
    ts = T0 + timedelta(seconds=conv * 137 + idx * 30 + jitter)
    return {
        "conv_id": conv_id,
        "turn_idx": np.int32(idx),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": ts,
    }


def conversation(conv: int, n_turns: int, end_sentinel: bool = True) -> pd.DataFrame:
    # With end_sentinel the final turn (idx == n_turns) is the 'system'/'__end__'
    # row; without, no row matches the sentinel predicate.
    sentinel_at = n_turns if end_sentinel else -1
    return pd.DataFrame([_turn(conv, i, sentinel_at) for i in range(1, n_turns + 1)])


def _batches(df: pd.DataFrame, arrival: list[list[int]]) -> list[pd.DataFrame]:
    by_idx = {int(r.turn_idx): i for i, r in enumerate(df.itertuples())}
    return [df.iloc[[by_idx[t] for t in batch]].reset_index(drop=True) for batch in arrival]


def scenario(name: str) -> list[pd.DataFrame]:
    return SCENARIOS[name]()


def _perfect_order() -> list[pd.DataFrame]:
    # F1 — mirrors testSingleContractStreamingProcessingInPerfectOrder.
    df = conversation(1, 3)
    return _batches(df, [[1], [2], [3]])


def _reverse_order() -> list[pd.DataFrame]:
    # F2 — mirrors testSingleContractStreamingProcessingInReverseOrder.
    df = conversation(1, 3)
    return _batches(df, [[3], [2], [1]])


def _batch_in_order() -> list[pd.DataFrame]:
    # F3 — all rows in one trigger (availableNow).
    return [conversation(1, 3)]


def _random_permutation() -> list[pd.DataFrame]:
    # F4 — 50 turns, seeded shuffle across 5 micro-batches.
    df = conversation(1, 50)
    rng = np.random.default_rng(SEED)
    perm = rng.permutation(np.arange(1, 51)).tolist()
    return _batches(df, [perm[i::5] for i in range(5)])


def _duplicates() -> list[pd.DataFrame]:
    # F5 — F1 then re-delivery of turns 1 and 2 (discard + count,
    # docs/pipeline-design.md:115-122).
    df = conversation(1, 3)
    return _batches(df, [[1], [2], [3], [1, 2]])


def _multi_conversation() -> list[pd.DataFrame]:
    # F6 — 8 conversations × 10–30 turns, interleaved round-robin.
    convs = {c: conversation(c, 10 + _h(SEED, "n", c) % 21) for c in range(1, 9)}
    shuffled = {
        c: df.iloc[np.random.default_rng(SEED + c).permutation(len(df))] for c, df in convs.items()
    }
    n_batches = 6
    out = []
    for b in range(n_batches):
        parts = [df.iloc[b::n_batches] for df in shuffled.values()]
        out.append(pd.concat(parts, ignore_index=True))
    return out


def _gap_never_arrives() -> list[pd.DataFrame]:
    # F7 — turns 1,2,4,5 (3 missing): 4,5 buffered forever.
    df = conversation(1, 5)
    return _batches(df, [[1, 2], [4, 5]])


def _last_turn_flag() -> list[pd.DataFrame]:
    # F8 — finished conversation; sentinel arrives, state cleaned up.
    df = conversation(1, 4)
    return _batches(df, [[2, 1], [4, 3]])


def _skewed() -> list[pd.DataFrame]:
    # F9 — 100 conversations, turn counts ∝ 1-(i/n)^2 (Simulator.java:61-69).
    n = 100
    frames = []
    for i in range(1, n + 1):
        n_turns = max(2, int(60 * (1 - (i / n) ** 2)) + 2)
        df = conversation(i, n_turns)
        frames.append(df.iloc[np.random.default_rng(SEED + i).permutation(len(df))])
    allrows = pd.concat(frames, ignore_index=True)
    allrows = allrows.iloc[np.random.default_rng(SEED).permutation(len(allrows))]
    k = 4
    return [allrows.iloc[i::k].reset_index(drop=True) for i in range(k)]


def _windows_joins() -> list[pd.DataFrame]:
    # F10 — ts spread over ~2 h with >30 min silences; single batch (the
    # window/join tests drive their own watermark advancement).
    frames = []
    for c in range(1, 5):
        df = conversation(c, 12, end_sentinel=False)
        base = T0 + timedelta(minutes=7 * c)
        ts = []
        for i in range(12):
            burst, pos = divmod(i, 4)
            ts.append(base + timedelta(minutes=45 * burst + pos * 2, seconds=_h(SEED, c, i) % 50))
        df["ts"] = ts
        frames.append(df)
    return [pd.concat(frames, ignore_index=True)]


SCENARIOS = {
    "perfect_order": _perfect_order,
    "reverse_order": _reverse_order,
    "batch_in_order": _batch_in_order,
    "random_permutation": _random_permutation,
    "duplicates": _duplicates,
    "multi_conversation": _multi_conversation,
    "gap_never_arrives": _gap_never_arrives,
    "last_turn_flag": _last_turn_flag,
    "skewed": _skewed,
    "windows_joins": _windows_joins,
}


def serial_oracle(batches: list[pd.DataFrame]) -> pd.DataFrame:
    """The reference's oracle pattern (OrderBookProcessingPipelineTest.java:
    165-176): run serially over seq-sorted, deduplicated input; only turns in
    the maximal contiguous prefix from 1 are ever emitted."""
    allrows = pd.concat(batches, ignore_index=True).drop_duplicates(
        subset=["conv_id", "turn_idx"]
    )
    out = []
    for conv_id, grp in allrows.groupby("conv_id", sort=True):
        g = grp.sort_values("turn_idx")
        idx = g["turn_idx"].to_numpy()
        expect = 1 + np.arange(len(idx))
        mismatch = np.nonzero(idx != expect)[0]
        n = int(mismatch[0]) if len(mismatch) else len(idx)
        emitted = g.iloc[:n].copy()
        emitted["emit_seq"] = np.arange(1, n + 1, dtype=np.int64)
        out.append(emitted)
    return (
        pd.concat(out, ignore_index=True)
        if out
        else allrows.head(0).assign(emit_seq=pd.Series(dtype="int64"))
    )
