"""Output checks against the generator's ground truth, without engine code.

The sink is read straight from its parquet files: the committed,
non-superseded epoch/compaction directories, as the sink's layout defines
them (``epoch=N`` and ``compact=L-lo-hi`` with ``_SUCCESS``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import DEPTH

KEY = ["conv_id", "turn_idx"]
HASHED = ["conv_id", "turn_idx", "emit_seq", *DEPTH]


def visible_dirs(base: str) -> list[str]:
    """Committed sink dirs not contained in a committed higher-level fold."""
    entries = []
    for d in os.listdir(base) if os.path.isdir(base) else []:
        p = os.path.join(base, d)
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            continue
        if d.startswith("epoch="):
            n = int(d.split("=", 1)[1])
            entries.append((0, n, n, p))
        elif d.startswith("compact="):
            lvl, lo, hi = (int(x) for x in d.split("=", 1)[1].split("-"))
            entries.append((lvl, lo, hi, p))
    return sorted(
        p
        for lvl, lo, hi, p in entries
        if not any(l2 > lvl and lo2 <= lo and hi2 >= hi for l2, lo2, hi2, _ in entries)
    )


def read_table(paths: list[str], columns: list[str], row_filter=None) -> pd.DataFrame:
    parts = [
        pq.read_table(p, columns=columns, filters=row_filter).to_pandas(
            timestamp_as_object=False
        )
        for p in paths
    ]
    if not parts:
        return pd.DataFrame({c: [] for c in columns})
    return pd.concat(parts, ignore_index=True)


def read_sink_data(base: str) -> pd.DataFrame:
    """Data rows of the unified sink, with ``ingest_us`` (epoch micros)."""
    df = read_table(
        visible_dirs(base), [*HASHED, "ingest_ts"], [("row_type", "=", "data")]
    )
    return _with_micros(df, "ingest_ts", "ingest_us")


def read_sink_rows(base: str, row_type: str) -> int:
    paths = visible_dirs(base)
    return sum(
        pq.read_table(p, columns=["row_type"], filters=[("row_type", "=", row_type)]).num_rows
        for p in paths
    )


def _with_micros(df: pd.DataFrame, col: str, out: str) -> pd.DataFrame:
    if col in df.columns:
        ts = pd.to_datetime(df[col], utc=True)
        df[out] = ts.dt.tz_localize(None).astype("datetime64[us]").astype(np.int64)
        df = df.drop(columns=[col])
    return df


def row_hash(df: pd.DataFrame) -> np.ndarray:
    frame = pd.DataFrame(
        {c: df[c].astype(object) if c == "conv_id" else df[c].astype(np.int64) for c in HASHED}
    )
    return pd.util.hash_pandas_object(frame, index=False).to_numpy(np.uint64)


def verify(expected: pd.DataFrame, actual: pd.DataFrame) -> dict:
    """Row count, key uniqueness and an order-independent hash of
    (conv_id, turn_idx, emit_seq, depth), plus a per-turn join that names
    each failed turn: missing, duplicated, unexpected or wrong.

    Returns the summary and ``ok``: the expected rows (with ``due``) that
    landed exactly once and correct, with their ``ingest_us``."""
    eh = row_hash(expected)
    ah = row_hash(actual) if len(actual) else np.empty(0, np.uint64)
    dup_mask = actual.duplicated(KEY, keep=False).to_numpy() if len(actual) else np.zeros(0, bool)
    dup_keys = actual.loc[dup_mask, KEY].drop_duplicates()
    first = ~actual.duplicated(KEY, keep="first").to_numpy() if len(actual) else np.zeros(0, bool)
    act = actual.loc[first, KEY].assign(_ah=ah[first], _dup=dup_mask[first])
    if "ingest_us" in actual.columns:
        act["ingest_us"] = actual.loc[first, "ingest_us"].to_numpy()
    exp_cols = KEY + (["due"] if "due" in expected.columns else [])
    m = expected[exp_cols].assign(_eh=eh).merge(act, on=KEY, how="outer", indicator=True)
    both = (m["_merge"] == "both").to_numpy()
    right = m["_ah"].to_numpy(np.uint64, na_value=0)
    left = m["_eh"].to_numpy(np.uint64, na_value=0)
    good = both & (left == right) & ~m["_dup"].eq(True).to_numpy()
    missing = int((m["_merge"] == "left_only").sum())
    unexpected = int((m["_merge"] == "right_only").sum())
    wrong = int((both & (left != right)).sum())
    n_dup = len(dup_keys)
    hash_ok = (
        len(actual) == len(expected)
        and n_dup == 0
        and int(eh.sum(dtype=np.uint64)) == int(ah.sum(dtype=np.uint64))
    )
    failed = missing + unexpected + wrong + n_dup
    return {
        "rows": len(actual),
        "expected_rows": len(expected),
        "missing": missing,
        "unexpected": unexpected,
        "wrong": wrong,
        "duplicated_keys": n_dup,
        "hash_ok": hash_ok,
        "failed_turns": failed,
        "correct": hash_ok and failed == 0,
        "ok": m[good & (m["_merge"] == "both").to_numpy()],
    }


def self_check(expected: pd.DataFrame, actual: pd.DataFrame) -> dict:
    """The checker must flag an output with one row dropped and one with a
    row duplicated."""
    if len(actual) < 2:
        return {"dropped_flagged": False, "duplicated_flagged": False}
    dropped = verify(expected, actual.iloc[1:])
    duplicated = verify(expected, pd.concat([actual, actual.iloc[:1]], ignore_index=True))
    return {
        "dropped_flagged": not dropped["correct"] and dropped["missing"] >= 1,
        "duplicated_flagged": not duplicated["correct"] and duplicated["duplicated_keys"] >= 1,
    }
