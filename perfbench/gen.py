"""Seeded input generators and their ground truth.

Every workload is a set of arrival files (parquet, the pipeline's input
schema) plus the expected output: for each conversation the contiguous
prefix of delivered turns starting at turn 1, with its emission ordinal and
running depth counters. Duplicates are identical re-deliveries, so "first
arrival wins" and "any arrival wins" give the same rows.

Conversation lengths follow 1 - (i/n)^2, the reference simulator's skew law.
The program under test sees only the files.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "tool"], dtype=object)
TOOLS = np.array(["code", "search"], dtype=object)
_VOCAB = np.array(
    [
        "".join(np.random.default_rng(i).choice(list("abcdefgh ijklmnop"), n))
        for i, n in enumerate(np.random.default_rng(0).integers(3, 160, 97))
    ],
    dtype=object,
)
BASE_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
DEPTH = ["n_user_cum", "n_assistant_cum", "n_tool_cum", "chars_cum"]
ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass
class Generated:
    """Arrival files in publish order; ``due_s[i]`` is file i's publish
    offset in seconds from the feed start, or None when it is staged before
    the pipeline starts. ``expected`` has one row per turn the pipeline must
    emit, with ``due`` = the offset of its first delivery (NaN if staged)."""

    files: list[pa.Table]
    due_s: list[float | None]
    expected: pd.DataFrame
    attempted: int
    input_rows: int
    info: dict = field(default_factory=dict)


def skew_lengths(n: int, mean: float, lo: int = 3) -> np.ndarray:
    """Turn counts per conversation, 1 - (i/n)^2 scaled to ``mean``."""
    i = np.arange(n)
    return np.maximum(lo, np.rint(1.5 * mean * (1 - (i / n) ** 2))).astype(np.int64)


def conversations(rng, ids: np.ndarray, lengths: np.ndarray, complete: np.ndarray):
    """Canonical turns (one row per (conv_id, turn_idx)) as a DataFrame.
    Complete conversations end with the ``system``/``__end__`` sentinel."""
    n = int(lengths.sum())
    conv = np.repeat(np.arange(len(ids)), lengths)
    starts = np.cumsum(lengths) - lengths
    turn = np.arange(n) - np.repeat(starts, lengths) + 1
    phase = rng.integers(0, 3, len(ids))[conv]
    role = ROLES[(turn + phase) % 3]
    noise = rng.random(n) < 0.25
    role[noise] = ROLES[rng.integers(0, 3, int(noise.sum()))]
    text = _VOCAB[rng.integers(0, len(_VOCAB), n)]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, 2, n)], None)
    last = (turn == lengths[conv]) & complete[conv]
    role = np.where(last, "system", role)
    text = np.where(last, "__end__", text)
    tool = np.where(last, None, tool)
    start_s = rng.integers(0, 86_400, len(ids))[conv]
    return pd.DataFrame(
        {
            "conv_id": ids[conv],
            "turn_idx": turn.astype(np.int64),
            "role": role,
            "text": text,
            "tool": tool,
            "ts_us": BASE_US + (start_s + turn) * 1_000_000,
        }
    )


def expected_output(delivered: pd.DataFrame) -> pd.DataFrame:
    """Ground truth from the distinct delivered turns: per conversation the
    run 1..p with no gap, emit_seq = turn_idx, and running depth."""
    d = delivered.sort_values(["conv_id", "turn_idx"], kind="stable")
    rank = d.groupby("conv_id", sort=False).cumcount().to_numpy() + 1
    e = d[d["turn_idx"].to_numpy() == rank].copy()
    e["emit_seq"] = e["turn_idx"]
    counted = {
        "n_user_cum": e["role"] == "user",
        "n_assistant_cum": e["role"] == "assistant",
        "n_tool_cum": e["role"] == "tool",
        "chars_cum": e["text"].str.len(),
    }
    for name, v in counted.items():
        e[name] = v.astype(np.int64).groupby(e["conv_id"], sort=False).cumsum()
    cols = ["conv_id", "turn_idx", "emit_seq", *DEPTH]
    if "due" in e.columns:
        cols.append("due")
    return e[cols].reset_index(drop=True)


def to_arrow(df: pd.DataFrame) -> pa.Table:
    return pa.table(
        {
            "conv_id": pa.array(df["conv_id"].to_numpy(), pa.string()),
            "turn_idx": pa.array(df["turn_idx"].to_numpy(np.int32), pa.int32()),
            "role": pa.array(df["role"].to_numpy(), pa.string()),
            "text": pa.array(df["text"].to_numpy(), pa.string()),
            "tool": pa.array(df["tool"].to_numpy(), pa.string()),
            "ts": pa.array(df["ts_us"].to_numpy(np.int64), pa.timestamp("us", tz="UTC")),
        },
        schema=ARROW_SCHEMA,
    )


def _drop_one_turn(rng, canon: pd.DataFrame, lengths: np.ndarray, ids, frac: float):
    """Remove one middle turn from ``frac`` of the conversations, forever."""
    pick = rng.choice(len(ids), max(1, int(frac * len(ids))), replace=False)
    pick = pick[lengths[pick] >= 3]
    lost = pd.DataFrame(
        {
            "conv_id": ids[pick],
            "turn_idx": rng.integers(2, lengths[pick]),  # in [2, n-1]
            "_lost": True,
        }
    )
    m = canon.merge(lost, on=["conv_id", "turn_idx"], how="left")
    return canon[m["_lost"].isna().to_numpy()].reset_index(drop=True)


def _shuffled_files(rng, delivered: pd.DataFrame, dup_frac: float, n_files: int):
    dups = delivered.iloc[rng.choice(len(delivered), int(dup_frac * len(delivered)), replace=False)]
    arrival = pd.concat([delivered, dups], ignore_index=True)
    arrival = arrival.iloc[rng.permutation(len(arrival))]
    bounds = np.linspace(0, len(arrival), n_files + 1).astype(int)
    files = [to_arrow(arrival.iloc[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    return files, len(arrival)


def backfill(seed: int, n_convs: int, n_turns: int, n_files: int) -> Generated:
    """Staged history: globally shuffled, ~1% re-delivered duplicates, ~1%
    of conversations missing one turn forever."""
    rng = np.random.default_rng(seed)
    ids = np.array([f"c{i:07d}" for i in range(n_convs)], dtype=object)
    lengths = rng.permutation(skew_lengths(n_convs, n_turns / n_convs))
    canon = conversations(rng, ids, lengths, np.ones(n_convs, bool))
    delivered = _drop_one_turn(rng, canon, lengths, ids, 0.01)
    files, rows = _shuffled_files(rng, delivered, 0.01, n_files)
    exp = expected_output(delivered)
    return Generated(files, [None] * n_files, exp, len(delivered), rows,
                     {"convs": n_convs, "turns": len(delivered), "files": n_files})


def hotkey(seed: int, hot_turns: int, tail_turns: int, tail_convs: int, n_files: int) -> Generated:
    """One mega-conversation plus a tail of ordinary ones, shuffled, with a
    late gap in the hot key, ~1% gapped tail conversations and ~1%
    duplicates."""
    rng = np.random.default_rng(seed)
    ids = np.array(["hot-0"] + [f"t{i:06d}" for i in range(tail_convs)], dtype=object)
    lengths = np.concatenate(
        [[hot_turns], rng.permutation(skew_lengths(tail_convs, tail_turns / tail_convs))]
    )
    canon = conversations(rng, ids, lengths, np.ones(len(ids), bool))
    gap = int(rng.integers(int(0.8 * hot_turns), int(0.95 * hot_turns)))
    canon = canon[~((canon["conv_id"] == "hot-0") & (canon["turn_idx"] == gap))]
    delivered = _drop_one_turn(rng, canon.reset_index(drop=True), lengths, ids, 0.01)
    delivered = delivered[~((delivered["conv_id"] == "hot-0") & (delivered["turn_idx"] == gap))]
    files, rows = _shuffled_files(rng, delivered.reset_index(drop=True), 0.01, n_files)
    exp = expected_output(delivered)
    return Generated(files, [None] * n_files, exp, len(delivered), rows,
                     {"hot_turns": hot_turns, "hot_gap": gap, "tail_turns": tail_turns,
                      "tail_convs": tail_convs, "turns": len(delivered)})


def live(seed: int, seconds: int, active: int, stalled: int, stalled_turns: int,
         mean_len: float = 24.0) -> Generated:
    """Open-loop feed: ``active`` conversation slots each produce about one
    turn per second; slot conversations run back to back. Turn j of a
    conversation started at second s is due at s + j - 1 + d, d in {0,1,2}
    (disorder bounded to two turn tiers). ~1% of turns are re-delivered one
    or two seconds later. A resident stalled set (turn 2 missing, the rest
    buffered forever) is staged before the feed starts."""
    rng = np.random.default_rng(seed)
    # conversations per slot: enough back-to-back lengths to cover the feed
    per_slot = int(np.ceil(seconds / 3)) + 2
    n = active * per_slot
    lengths = rng.permutation(skew_lengths(n, mean_len))
    ids = np.array([f"l{i:07d}" for i in range(n)], dtype=object)
    slot_len = lengths.reshape(active, per_slot)
    start = np.cumsum(slot_len, axis=1) - slot_len + rng.integers(0, 3, (active, 1))
    canon = conversations(rng, ids, lengths, np.ones(n, bool))
    conv_no = np.repeat(np.arange(n), lengths)
    due = start.reshape(-1)[conv_no] + canon["turn_idx"].to_numpy() - 1
    due = due + rng.integers(0, 3, len(due))
    canon["due"] = due.astype(float)
    fed = canon[due < seconds].reset_index(drop=True)
    d = fed.iloc[rng.choice(len(fed), int(0.01 * len(fed)), replace=False)].copy()
    d["due"] = d["due"] + rng.integers(1, 3, len(d))
    d = d[d["due"] < seconds]

    sids = np.array([f"s{i:06d}" for i in range(stalled)], dtype=object)
    st = conversations(rng, sids, np.full(stalled, stalled_turns + 1), np.zeros(stalled, bool))
    st = st[st["turn_idx"] != 2].reset_index(drop=True)
    st["due"] = np.nan

    arrivals = pd.concat([fed, d], ignore_index=True)
    arrivals = arrivals.iloc[rng.permutation(len(arrivals))]
    files = [to_arrow(st)]
    due_s: list[float | None] = [None]
    for sec, part in arrivals.groupby("due", sort=True):
        files.append(to_arrow(part))
        due_s.append(float(sec))
    delivered = pd.concat([st, fed], ignore_index=True)
    exp = expected_output(delivered)
    return Generated(files, due_s, exp, len(delivered), len(st) + len(arrivals),
                     {"seconds": seconds, "active": active, "stalled": stalled,
                      "stalled_rows": len(st), "fed_turns": len(fed),
                      "rate_per_s": round(len(arrivals) / seconds, 1)})


def write_files(gen: Generated, directory: str, prefix: str = "part") -> list[str]:
    """Write every file in order (file mtimes follow publish order)."""
    import os

    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, t in enumerate(gen.files):
        p = os.path.join(directory, f"{prefix}-{i:05d}.parquet")
        pq.write_table(t, p, compression="snappy")
        paths.append(p)
    return paths
