"""Batch CEP: SQL:2016-style row-pattern matching over ordered transcripts.

The north rule calls this engine a "structured-streaming / CEP engine"; the
reference's ordered output is exactly the substrate row-pattern queries need
(a per-key gap-free sequence). Spark has no MATCH_RECOGNIZE, so this module
runs the two workhorse pattern classes:

  - ``mode="strict"`` — strict contiguity (Flink CEP ``next`` /
    MATCH_RECOGNIZE default): step i must hold on the i-th *consecutive*
    turn after the anchor. Plan: k-1 LEADs over (key ORDER BY order) — ONE
    hash exchange on the key, zero joins, no Python.
  - ``mode="skip"`` — skip-till-next-match (Flink CEP ``followedBy``): step
    i must hold on the *nearest* following turn after the matched step i-1
    row. The stream's skip matcher (``cep_core.match_skip``) runs once per
    conversation (``_match_skip``): predicates evaluated in Spark, ONE hash
    exchange on the key, a sort within partitions and a ``mapInPandas``,
    zero joins. It replaced a plan of nearest-following-match windows and
    one equi-join hop per step, which took about 3x as long at 4M rows on
    4 cores, and whose ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
    frames cost time quadratic in a conversation's length
    (BENCH/cep_one_matcher_r15.json). Strict mode keeps its LEADs: a
    prototype measured strict patterns slower through the matcher.

Both modes support FlinkCEP-style ``within``: the first→last timestamp span
bound, compared in exact epoch-micros (Spark ``unix_micros`` ≡ DuckDB
``epoch_us`` — BIGINT both sides, so the oracle compare is exact).

Overlap policy is ALL matches (SQL:2016 ``AFTER MATCH SKIP TO NEXT ROW``):
every anchor row that completes a chain reports one match. This keeps the
result deterministic and oracle-exact, free of the sequential scan a SKIP
PAST LAST ROW policy would force.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.cep_core import (
    ColumnStep,
    Step,
    Times,
    expand_strict_times,
    match_skip,
)


def _norm(steps) -> list[dict]:
    """Normalize steps to {name, sql, quant, n_min, n_max} dicts; accepts
    Step objects (shared with the streaming matcher), Times wrappers
    (quantified steps — see cep_core.Times for the maximal-run semantics),
    or raw (name, sql) tuples."""
    out = []
    for s in steps:
        quant = isinstance(s, Times)
        name, sql = (s.name, s.sql) if quant or isinstance(s, Step) else map(str, s)
        out.append(
            {
                "name": name,
                "sql": sql,
                "quant": quant,
                "n_min": s.n_min if quant else 1,
                "n_max": s.n_max if quant else 1,
            }
        )
    if len(out) < 2:
        raise ValueError("a pattern needs at least 2 steps")
    if len({p["name"] for p in out}) != len(out):
        raise ValueError("step names must be unique")
    return out


def match_pattern(
    df: DataFrame,
    steps,
    *,
    mode: str = "strict",
    within: str | None = None,
    within_turns: int | None = None,
    not_between: dict | None = None,
    key: str = "conv_id",
    order: str = "turn_idx",
    ts: str = "ts",
) -> DataFrame:
    """Detect a multi-step pattern per key over an ordered table.

    ``within``: SQL interval-seconds bound as a string (e.g. ``"200000"``)
    or int — max allowed ``ts_last - ts_first`` span in SECONDS (converted
    to micros internally; exact integer compare).

    ``within_turns`` (skip mode): max allowed ``last_idx - first_idx``
    sequence distance — the MATCH_RECOGNIZE row-bounded form of the same
    idea (a funnel that must complete within N turns rather than N
    seconds). Meaningless for strict mode, whose span is always k-1;
    passing it there raises.

    ``not_between`` (skip mode): negative guards — Flink CEP
    ``notFollowedBy``: ``{i: step}`` demands NO row matching ``step``
    STRICTLY between matched step ``i`` and matched step ``i+1``. Plan
    cost: one more predicate column into the matcher. Strict mode raises
    (consecutive turns have no between).

    Output (strict): key, start_idx, end_idx, ts_first, ts_last, span_us.
    Output (skip):   key, <name>_idx per step (+ <name>_end_idx per
                     quantified step), ts_first, ts_last, span_us.
    """
    pairs = _norm(steps)
    guards = _norm_guards(not_between, len(pairs))
    if mode == "strict":
        if within_turns is not None:
            raise ValueError(
                "within_turns applies to skip mode only — a strict match "
                f"always spans exactly {len(pairs) - 1} turns"
            )
        if guards:
            raise ValueError(
                "not_between applies to skip mode only — strict steps are "
                "consecutive turns with nothing between them"
            )
        # ONE expander shared with the streaming matcher (review r7b)
        pairs = _norm(expand_strict_times(list(steps)))
        return _match_strict(df, pairs, within, key, order, ts)
    if mode == "skip":
        return _match_skip(df, pairs, within, within_turns, guards, key, order, ts)
    raise ValueError(f"unknown mode {mode!r} (strict | skip)")



def _norm_guards(not_between, k) -> dict:
    if not not_between:
        return {}
    out = {}
    for i, g in not_between.items():
        i = int(i)
        if not 0 <= i < k - 1:
            raise ValueError(
                f"not_between segment {i} out of range (0..{k - 2})"
            )
        if isinstance(g, Step):
            out[i] = g.sql
        elif isinstance(g, str):
            out[i] = g
        elif isinstance(g, (tuple, list)) and len(g) == 2:
            # the (name, sql) tuple form steps accept — the name is unused
            # for a guard but the symmetric shape should not blow up later
            # in F.expr with an opaque parse error (review r6f)
            out[i] = str(g[1])
        else:
            raise ValueError(
                f"not_between guard for segment {i} must be a Step, a SQL "
                f"string, or a (name, sql) pair — got {g!r}"
            )
    return out


def _within_us(within) -> int | None:
    return None if within is None else int(within) * 1_000_000


def _micros(c):
    # ts may be TIMESTAMP_NTZ (parquet naive); unix_micros needs TIMESTAMP.
    # Session TZ is pinned UTC (session.get_spark), so the cast is the
    # identity on wall time and matches DuckDB's epoch_us(naive).
    return F.unix_micros(c.cast("timestamp"))


def _match_strict(df, pairs, within, key, order, ts) -> DataFrame:
    k = len(pairs)
    w = Window.partitionBy(key).orderBy(order)
    cond = F.expr(pairs[0]["sql"])
    for i, p in enumerate(pairs[1:], start=1):
        cond = cond & F.coalesce(F.lead(F.expr(p["sql"]), i).over(w), F.lit(False))
    # strict contiguity: the (k-1)-th following ROW must be exactly k-1
    # sequence steps ahead (order is a gap-free int per key, M3) — a single
    # guard on the last lead pins every intermediate row too
    end_idx = F.lead(F.col(order), k - 1).over(w)
    cond = cond & (end_idx == F.col(order) + F.lit(k - 1))
    ts_last = F.lead(F.col(ts), k - 1).over(w)
    span = _micros(ts_last) - _micros(F.col(ts))
    wus = _within_us(within)
    if wus is not None:
        cond = cond & (span <= F.lit(wus))
    return (
        df.withColumns(
            {
                "_m": cond,
                "end_idx": end_idx,
                "ts_last": ts_last,
                "span_us": span,
            }
        )
        .filter(F.col("_m"))
        .select(
            key,
            F.col(order).alias("start_idx"),
            "end_idx",
            F.col(ts).alias("ts_first"),
            "ts_last",
            "span_us",
        )
    )


def _match_skip(df, pairs, within, within_turns, guards, key, order, ts):
    """THE skip-till-next operator, for plain and quantified steps alike:
    the stream's matcher (cep_core.match_skip; maximal-run semantics in
    cep_core.Times) run once per whole conversation.

    Each step predicate and guard is evaluated once in Spark, NULL read as
    false. The narrow (key, order, ts micros, predicates) frame is hash
    partitioned on the key and sorted within partitions, so a
    conversation's rows arrive contiguous and in order; ``_match_by_key``
    cuts them at key changes. Order and ts must be non-NULL, as in the
    ordered table.

    Output: key, <name>_idx per step (+ <name>_end_idx for quantified
    steps — the consumed run's last row), ts_first, ts_last, span_us. For a
    quantified last step ts_last/span are measured at the run END (the
    match's true last row).
    """
    preds = {f"_p{i}": p["sql"] for i, p in enumerate(pairs)}
    preds.update({f"_g{j}": g for j, g in guards.items()})
    steps = []
    for i, p in enumerate(pairs):
        s = ColumnStep(p["name"], f"_p{i}")
        steps.append(Times(s, p["n_min"], p["n_max"]) if p["quant"] else s)
    match = functools.partial(
        match_skip,
        tuple(steps),
        within_us=_within_us(within),
        within_turns=within_turns,
        guards={j: ColumnStep(f"_g{j}", f"_g{j}") for j in guards},
        final=True,
    )
    # (output column, match_skip trail, step position)
    idx_cols = []
    for i, p in enumerate(pairs):
        idx_cols.append((f"{p['name']}_idx", "step_idx", i))
        if p["quant"]:
            idx_cols.append((f"{p['name']}_end_idx", "step_end_idx", i))
    schema = StructType(
        [
            df.schema[key],
            # the anchor's idx IS an order value: as nullable as order
            StructField(idx_cols[0][0], LongType(), df.schema[order].nullable),
            *[StructField(c, LongType()) for c, _, _ in idx_cols[1:]],
            StructField("ts_first_us", LongType()),
            StructField("ts_last_us", LongType()),
        ]
    )
    out = (
        df.select(
            key,
            F.col(order).cast("long").alias("turn_idx"),
            _micros(F.col(ts)).alias("ts_us"),
            *[
                F.coalesce(F.expr(sql), F.lit(False)).alias(c)
                for c, sql in preds.items()
            ],
        )
        .repartition(key)
        .sortWithinPartitions(key, "turn_idx")
        .mapInPandas(
            lambda it: _match_by_key(it, key, match, idx_cols), schema
        )
    )
    idx_type, ts_type = df.schema[order].dataType, df.schema[ts].dataType
    return out.select(
        key,
        *[F.col(c).cast(idx_type) for c, _, _ in idx_cols],
        F.timestamp_micros("ts_first_us").cast(ts_type).alias("ts_first"),
        F.timestamp_micros("ts_last_us").cast(ts_type).alias("ts_last"),
        (F.col("ts_last_us") - F.col("ts_first_us")).alias("span_us"),
    )


def _match_by_key(batches, key, match, idx_cols):
    """mapInPandas body over rows sorted by (key, turn_idx): match each
    key's rows whole. A batch's last key may continue in the next batch, so
    its rows are held until a later key (or the partition's end) shows the
    key complete — a conversation longer than one Arrow batch is still
    matched in one call."""
    held = []
    for pdf in batches:
        keys = pdf[key].to_numpy()
        if not len(keys):
            continue
        cuts = np.flatnonzero(keys[1:] != keys[:-1])
        tail = int(cuts[-1]) + 1 if len(cuts) else 0
        if not tail and held and held[-1][key].iat[-1] == keys[0]:
            held.append(pdf)
            continue
        done = pd.concat([*held, pdf.iloc[:tail]]) if held else pdf.iloc[:tail]
        held = [pdf.iloc[tail:]]
        if len(done):
            yield from _match_keys(done, key, match, idx_cols)
    if held:
        yield from _match_keys(pd.concat(held), key, match, idx_cols)


def _match_keys(pdf, key, match, idx_cols):
    """One match call per key of ``pdf`` (whole keys, sorted); yields the
    matches as one frame, or nothing."""
    keys = pdf[key].to_numpy()
    run = {c: pdf[c].to_numpy() for c in pdf.columns if c != key}
    cuts = [0, *(np.flatnonzero(keys[1:] != keys[:-1]) + 1), len(keys)]
    owner, found = [], []
    for a, b in zip(cuts, cuts[1:]):
        m, _ = match({c: v[a:b] for c, v in run.items()})
        if len(m["start_idx"]):
            owner.append(np.repeat(keys[a:a + 1], len(m["start_idx"])))
            found.append(m)
    if not found:
        return
    m = {c: np.concatenate([f[c] for f in found]) for c in found[0]}
    yield pd.DataFrame(
        {
            key: np.concatenate(owner),
            **{c: m[trail][:, i] for c, trail, i in idx_cols},
            "ts_first_us": m["ts_first_us"],
            "ts_last_us": m["ts_last_us"],
        }
    )
