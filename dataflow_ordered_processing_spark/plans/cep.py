"""Batch CEP: SQL:2016-style row-pattern matching over ordered transcripts.

The north rule calls this engine a "structured-streaming / CEP engine"; the
reference's ordered output is exactly the substrate row-pattern queries need
(a per-key gap-free sequence). Spark has no MATCH_RECOGNIZE, so this module
re-expresses the two workhorse pattern classes as pure window-function /
equi-join plans (whole-stage-codegen built-ins, no Python):

  - ``mode="strict"`` — strict contiguity (Flink CEP ``next`` /
    MATCH_RECOGNIZE default): step i must hold on the i-th *consecutive*
    turn after the anchor. Plan: k-1 LEADs over (key ORDER BY order) — ONE
    hash exchange on the key, zero joins.
  - ``mode="skip"`` — skip-till-next-match (Flink CEP ``followedBy``): step
    i must hold on the *nearest* following turn after the matched step i-1
    row. Plan: per-step "nearest following match" columns via
    MIN(CASE WHEN step THEN order END) OVER (ROWS BETWEEN 1 FOLLOWING AND
    UNBOUNDED FOLLOWING), then one equi-join on (key, matched idx) per
    step after the anchor to hop the chain (plus one per quantified step —
    ``_match_skip_quant``, the one skip plan) — narrow (key, int, ts) rows
    only, no text. The window pass is re-derived per join consumer; an A/B
    at 4M rows showed that beats localCheckpoint-ing the projection (4.4 s
    vs 7.2 s warm — rebuilding from cached input is cheaper than
    materializing 4M×7 rows), so the plan deliberately recomputes.

Both modes support FlinkCEP-style ``within``: the first→last timestamp span
bound, compared in exact epoch-micros (Spark ``unix_micros`` ≡ DuckDB
``epoch_us`` — BIGINT both sides, so the oracle compare is exact).

Overlap policy is ALL matches (SQL:2016 ``AFTER MATCH SKIP TO NEXT ROW``):
every anchor row that completes a chain reports one match. This keeps the
operator a pure per-row expression — deterministic, oracle-exact, and free
of the sequential scan a SKIP PAST LAST ROW policy would force.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.cep_core import Step, Times, expand_strict_times


def _norm(steps) -> list[dict]:
    """Normalize steps to {name, sql, quant, n_min, n_max} dicts; accepts
    Step objects (shared with the streaming matcher), Times wrappers
    (quantified steps — see cep_core.Times for the maximal-run semantics),
    or raw (name, sql) tuples."""
    out = []
    for s in steps:
        if isinstance(s, Times):
            out.append(
                {
                    "name": s.name,
                    "sql": s.sql,
                    "quant": True,
                    "n_min": s.n_min,
                    "n_max": s.n_max,
                }
            )
        elif isinstance(s, Step):
            out.append(
                {"name": s.name, "sql": s.sql, "quant": False, "n_min": 1, "n_max": 1}
            )
        else:
            name, sql = s
            out.append(
                {
                    "name": str(name),
                    "sql": str(sql),
                    "quant": False,
                    "n_min": 1,
                    "n_max": 1,
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
    cost: one extra nearest-following-match window column per guard, no
    extra joins (the guard column rides the join that already fetches step
    i+1's nearest match at step i's continue position). Strict mode raises
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
        return _match_skip_quant(
            df, pairs, within, within_turns, guards, key, order, ts
        )
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


def _match_skip_quant(
    df, pairs, within, within_turns, guards, key, order, ts
) -> DataFrame:
    """THE skip-till-next plan, for plain and quantified steps alike. A
    plain step matches the nearest following row of its predicate; a
    quantified step (cep_core.Times) consumes a MAXIMAL consecutive run of
    its predicate with length in [n_min, n_max], and the chain continues
    from the run's END (greedy), so the next step's nearest-following
    lookup starts strictly after the run.

    Plan shape:
      layer 1 — per quantified step, run detection over ONE (key, order)
        window pass: run start = pred AND NOT lag(pred); run end =
        nearest-following NON-pred row - 1 (order is gap-free per key, the
        M3 invariant) else the key's max order; qualifying = length bounds.
        A plain-only pattern has no layer 1.
      layer 2 — per-step nearest-following-match columns over the SAME
        window frame (qualifying run STARTS for quantified steps, plain
        predicate rows otherwise) + negative-guard columns. Two projection
        layers because Spark cannot nest a window inside a window; both
        resolve over one hash exchange on the key.
      hops — per step, a fetch join at the matched position: its ts, plus
        the run end (quantified) or, for a plain step, the next step's
        nearest match and the segment guard — a plain step's continue
        position IS its matched row, so they ride the same join. After a
        quantified step the continue position is the run end, so a lookup
        join there fetches them: a quantified step costs one extra narrow
        join over a plain one. Narrow (key, int, ts) rows only.

    Output: key, <name>_idx per step (+ <name>_end_idx for quantified
    steps — the consumed run's last row), ts_first, ts_last, span_us. For a
    quantified last step ts_last/span are measured at the run END (the
    match's true last row).
    """
    k = len(pairs)
    w = Window.partitionBy(key).orderBy(order)
    wf = w.rowsBetween(1, Window.unboundedFollowing)
    wall = Window.partitionBy(key)

    layer1 = {}
    for i, p in enumerate(pairs):
        if not p["quant"]:
            continue
        # NULL predicate (e.g. tool = 'x' on a NULL-tool row) means "not a
        # run member" — coalesce to FALSE so the row both fails membership
        # AND counts as a run break (bare ~NULL is NULL, which when() would
        # skip, silently extending runs across such rows)
        pred = F.coalesce(F.expr(p["sql"]), F.lit(False))
        is_start = pred & ~F.coalesce(F.lag(pred).over(w), F.lit(False))
        next_break = F.min(F.when(~pred, F.col(order))).over(wf)
        run_end = F.coalesce(
            next_break - F.lit(1), F.max(F.col(order)).over(wall)
        )
        run_len = run_end - F.col(order) + F.lit(1)
        q = is_start & (run_len >= F.lit(int(p["n_min"])))
        if p["n_max"] is not None:
            q = q & (run_len <= F.lit(int(p["n_max"])))
        layer1[f"_qs_{i}"] = q
        layer1[f"_qe_{i}"] = run_end
    base1 = df.withColumns(layer1)

    layer2 = {}
    for i, p in enumerate(pairs):
        hit = F.col(f"_qs_{i}") if p["quant"] else F.expr(p["sql"])
        if i == 0:
            layer2["_m0"] = hit
        else:
            layer2[f"_next_{i}"] = F.min(F.when(hit, F.col(order))).over(wf)
    for j, gsql in guards.items():
        layer2[f"_ng_{j}"] = F.min(F.when(F.expr(gsql), F.col(order))).over(wf)
    base = base1.withColumns(layer2).select(
        key,
        order,
        ts,
        "_m0",
        *[f"_next_{i}" for i in range(1, k)],
        *[f"_ng_{j}" for j in guards],
        *[f"_qe_{i}" for i, p in enumerate(pairs) if p["quant"]],
    )

    def step_after(i):
        # evaluated AT step i's continue position: the nearest following
        # match of step i+1 and the segment-i guard
        cols = [F.col(f"_next_{i + 1}").alias("_jn")]
        if i in guards:
            cols.append(F.col(f"_ng_{i}").alias("_jg"))
        return cols

    def on_row(pos):
        return (F.col(key) == F.col("_jk")) & (F.col(pos) == F.col("_ji"))

    name0 = pairs[0]["name"]
    anchor_cols = [
        F.col(key).alias(key),
        F.col(order).alias(f"{name0}_idx"),
        F.col(ts).alias("ts_first"),
    ]
    if pairs[0]["quant"]:
        anchor_cols += [
            F.col("_qe_0").alias(f"{name0}_end_idx"),
            F.col("_qe_0").alias("_cp"),
        ]
    else:
        anchor_cols += step_after(0)
    cur = base.filter(F.col("_m0")).select(*anchor_cols)

    for i in range(1, k):
        p = pairs[i]
        name_i = p["name"]
        if pairs[i - 1]["quant"]:
            # lookup at the continue position (the previous run's end)
            cur = cur.join(
                base.select(
                    F.col(key).alias("_jk"),
                    F.col(order).alias("_ji"),
                    *step_after(i - 1),
                ),
                on_row("_cp"),
                "inner",
            ).drop("_jk", "_ji", "_cp")
        cur = cur.filter(F.col("_jn").isNotNull())
        if (i - 1) in guards:
            # nearest following guard must not land strictly before the
            # matched step-i row
            cur = cur.filter(
                F.col("_jg").isNull() | (F.col("_jg") >= F.col("_jn"))
            ).drop("_jg")
        cur = cur.withColumnRenamed("_jn", f"{name_i}_idx")
        # fetch the matched row: its ts, plus the consumed run's end
        # (quantified) or what a plain step's row carries for step i+1
        fetch_sel = [
            F.col(key).alias("_jk"),
            F.col(order).alias("_ji"),
            F.col(ts).alias("_jts"),
        ]
        if p["quant"]:
            fetch_sel.append(F.col(f"_qe_{i}").alias("_je"))
        elif i + 1 < k:
            fetch_sel += step_after(i)
        cur = cur.join(
            base.select(*fetch_sel), on_row(f"{name_i}_idx"), "inner"
        ).drop("_jk", "_ji")
        if p["quant"]:
            cur = cur.withColumn("_cp", F.col("_je")).withColumnRenamed(
                "_je", f"{name_i}_end_idx"
            )
            if i == k - 1:
                # ts_last belongs to the run's END row, not its start
                cur = cur.drop("_jts").join(
                    base.select(
                        F.col(key).alias("_jk"),
                        F.col(order).alias("_ji"),
                        F.col(ts).alias("ts_last"),
                    ),
                    on_row("_cp"),
                    "inner",
                ).drop("_jk", "_ji", "_cp")
            else:
                cur = cur.drop("_jts")
        else:
            cur = (
                cur.withColumnRenamed("_jts", "ts_last")
                if i == k - 1
                else cur.drop("_jts")
            )

    cur = cur.withColumn(
        "span_us", _micros(F.col("ts_last")) - _micros(F.col("ts_first"))
    )
    wus = _within_us(within)
    if wus is not None:
        cur = cur.filter(F.col("span_us") <= F.lit(wus))
    if within_turns is not None:
        last = pairs[-1]
        last_idx = F.col(
            f"{last['name']}_end_idx" if last["quant"] else f"{last['name']}_idx"
        )
        cur = cur.filter(
            last_idx - F.col(f"{name0}_idx") <= F.lit(int(within_turns))
        )
    out_cols = [key]
    for p in pairs:
        out_cols.append(f"{p['name']}_idx")
        if p["quant"]:
            out_cols.append(f"{p['name']}_end_idx")
    return cur.select(*out_cols, "ts_first", "ts_last", "span_us")
