"""Vectorized CEP pattern matching over in-order per-key turn runs.

The north rule frames this engine as a "structured-streaming / CEP engine":
beyond windows/joins it must detect multi-turn *sequence patterns* inside a
conversation (the MATCH_RECOGNIZE / FlinkCEP capability class — public
semantics: SQL:2016 row-pattern recognition, Flink's strict-contiguity
`next` and skip-till-next `followedBy`). The reference repo itself stops at
per-key ordering; ordering is precisely what makes sequence patterns
well-defined, so CEP is the natural consumer of the ordered stream
(docs/pipeline-design.md's "results feed downstream analysis" role).

This module is the engine-side matcher: pure numpy over the columnar runs
that ``ordered_core.apply_batch`` emits — no per-row Python, no pandas.
Both contiguity modes are incremental: strict carries the trailing (k-1)
emitted turns across micro-batches (``match_strict``), skip-till-next
carries a partial-match frontier — one open candidate per anchor —
(``match_skip``); the batch operator in ``plans/cep.py`` computes the same
semantics where the full table is available and serves as the oracle.

Match semantics (pinned by tests/test_cep.py against a pure-Python oracle):
  - a match starts at every row where step 0 holds and steps 1..k-1 hold on
    the next k-1 *consecutive* turns (ALL ROWS PER MATCH, overlapping
    matches allowed — SQL:2016 `AFTER MATCH SKIP TO NEXT ROW`).
  - matches never span a turn_idx gap (can only occur across state
    re-creation after a TTL eviction; the guard makes that a non-match
    rather than a wrong match).
  - ``within_us`` (FlinkCEP ``within`` analog) drops matches whose
    first→last timestamp span exceeds the bound.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

_IDENT = re.compile(r"[A-Za-z0-9_.\-]+")

#: columns a matcher consumes — a subset of ordered_core.BUF_COLS
CEP_COLS = ("turn_idx", "role", "tool", "ts_us")


@dataclass(frozen=True)
class Step:
    """One pattern step: a structural predicate over a turn.

    Structural form so the SAME step drives both the numpy matcher
    (streaming engine) and a SQL predicate (batch operator + DuckDB
    oracle). ``role`` / ``tool`` may each be a string (equality) or a
    tuple/list of strings (IN-set — Flink ``where(a or b)``; e.g.
    ``Step("x", role=("assistant", "tool"))`` = any non-user turn, the
    natural alphabet for quantified runs). A step with only ``tool`` set
    implies nothing about role.
    """

    name: str
    role: object = None  # str | tuple[str, ...] | None
    tool: object = None

    def __post_init__(self):
        if self.role is None and self.tool is None:
            raise ValueError(f"step {self.name!r} matches every row — "
                             "set role and/or tool")
        # normalize lists to tuples (hashable, marker-stable ordering is
        # the caller's — sets are rejected as unordered)
        for attr in ("role", "tool"):
            v = getattr(self, attr)
            if isinstance(v, list):
                object.__setattr__(self, attr, tuple(v))
            elif isinstance(v, set):
                raise ValueError(
                    f"step {self.name!r}: {attr} must be a string or an "
                    "ordered sequence (tuple/list), not a set — predicate "
                    "rendering must be deterministic"
                )
        # role/tool are identifier-class values; rejecting everything else
        # closes the SQL-literal injection surface COMPLETELY (review r6c/d:
        # quote-doubling alone left backslash escapes, and Spark and DuckDB
        # disagree on backslash semantics, so escaping can't be both safe
        # and cross-engine-identical — validation can)
        for v in (self.role, self.tool):
            vals = v if isinstance(v, tuple) else (v,)
            for field in vals:
                if field is None:
                    continue
                if not isinstance(field, str) or not _IDENT.fullmatch(field):
                    raise ValueError(
                        f"step {self.name!r}: value {field!r} is not a plain "
                        "identifier ([A-Za-z0-9_.-]+) — predicates are "
                        "rendered as SQL literals for the batch operator "
                        "and oracles"
                    )
            if isinstance(v, tuple) and len(v) == 0:
                raise ValueError(f"step {self.name!r}: empty value set")

    @staticmethod
    def _pred_sql(col: str, v) -> str:
        if isinstance(v, tuple):
            return f"{col} IN ({', '.join(repr(x) for x in v)})"
        return f"{col} = '{v}'"

    @property
    def sql(self) -> str:
        parts = []
        if self.role is not None:
            parts.append(self._pred_sql("role", self.role))
        if self.tool is not None:
            parts.append(self._pred_sql("tool", self.tool))
        return " AND ".join(parts)

    def mask(self, cols: dict) -> np.ndarray:
        n = len(cols["turn_idx"])
        m = np.ones(n, dtype=bool)
        for col, v in (("role", self.role), ("tool", self.tool)):
            if v is None:
                continue
            arr = np.asarray(cols[col], dtype=object)
            m &= np.isin(arr, v) if isinstance(v, tuple) else arr == v
        return m


@dataclass(frozen=True)
class Times:
    """Quantified pattern step (Flink CEP ``times(n)`` / ``times(n, m)`` /
    ``oneOrMore`` analog): the step matches a MAXIMAL consecutive run of
    rows satisfying ``step``'s predicate whose length L satisfies
    ``n_min <= L`` (and ``L <= n_max`` when set).

    Semantics pinned deliberately at maximal munch (one match per maximal
    run), NOT Flink's per-combination enumeration: under the engine's
    ALL-anchors overlap policy, enumerating every sub-run of every run
    explodes combinatorially and answers no real funnel question. "3+
    consecutive tool turns then a user turn" reads as runs, and runs are
    what this matches. A run longer than ``n_max`` does not match at all
    (the run IS the unit); use ``n_max=None`` (``{n,}``) for the common
    oneOrMore/atLeast cases.

    Run detection uses per-key gap-free ``order`` contiguity (M3 — the
    ordered table's invariant, the same assumption strict mode's
    ``end == start + k - 1`` guard makes).

    ``step`` is a Step or a raw ``(name, sql)`` pair (the batch operator's
    tuple form — quantified predicates often aren't structural role/tool
    equalities).
    """

    step: object  # Step | (name, sql)
    n_min: int = 1
    n_max: int | None = None

    def __post_init__(self):
        if self.n_min < 1:
            raise ValueError("times: n_min must be >= 1")
        if self.n_max is not None and self.n_max < self.n_min:
            raise ValueError("times: n_max must be >= n_min")
        if not isinstance(self.step, Step) and not (
            isinstance(self.step, (tuple, list)) and len(self.step) == 2
        ):
            raise ValueError(
                "times: step must be a Step or a (name, sql) pair"
            )

    @property
    def name(self) -> str:
        return (
            self.step.name if isinstance(self.step, Step) else str(self.step[0])
        )

    @property
    def sql(self) -> str:
        return (
            self.step.sql if isinstance(self.step, Step) else str(self.step[1])
        )


def one_or_more(step: Step) -> Times:
    """FlinkCEP ``oneOrMore()`` — at least one consecutive occurrence."""
    return Times(step, 1, None)


def _concat(carry: dict | None, run: dict) -> dict:
    if carry is None or len(carry["turn_idx"]) == 0:
        return run
    return {c: np.concatenate([np.asarray(carry[c]), np.asarray(run[c])])
            for c in CEP_COLS}


def match_strict(
    steps: tuple[Step, ...],
    run: dict,
    carry: dict | None = None,
    within_us: int | None = None,
) -> tuple[dict, dict]:
    """Match a strict-contiguity pattern over one in-order emitted run.

    ``run``: dict of numpy arrays (CEP_COLS) for the newly emitted turns of
    one key, in turn_idx order. ``carry``: the previous ``len(steps)-1``
    emitted turns (contiguous with ``run`` by the engine's gap-free emission
    invariant) so matches spanning micro-batch boundaries are found exactly
    once. Returns ``(matches, new_carry)`` where matches has columns
    start_idx, end_idx, ts_first_us, ts_last_us (int64) and new_carry is
    the trailing ``len(steps)-1`` rows to carry into the next call.
    """
    k = len(steps)
    if k < 2:
        raise ValueError("a pattern needs at least 2 steps")
    full = _concat(carry, run)
    idx = np.asarray(full["turn_idx"], dtype=np.int64)
    n = len(idx)
    n_new = len(run["turn_idx"])
    empty = {
        "start_idx": np.empty(0, np.int64),
        "end_idx": np.empty(0, np.int64),
        "ts_first_us": np.empty(0, np.int64),
        "ts_last_us": np.empty(0, np.int64),
    }
    new_carry = {c: np.asarray(full[c])[max(0, n - (k - 1)):] for c in CEP_COLS}
    if n < k:
        return empty, new_carry

    masks = [s.mask(full) for s in steps]
    nwin = n - k + 1
    ok = masks[0][:nwin].copy()
    for i in range(1, k):
        ok &= masks[i][i:i + nwin]
    # contiguity guard: never match across a turn_idx gap (TTL re-creation)
    ok &= idx[k - 1:] - idx[:nwin] == k - 1
    # emit only matches whose LAST row is in the new run (carry-internal
    # windows were already emitted by the previous call)
    first_new_end = n - n_new  # smallest window-end position inside the run
    # INVARIANT: the incoming carry holds at most k-1 rows (new_carry above
    # is trimmed to k-1 on every call), so first_new_end <= k-1 and no k-row
    # window fits inside the carry — cross-batch exactly-once rests on that
    # geometry alone. This guard replaces a suppression of carry-only
    # windows: a future longer-carry change fails loudly here instead of
    # re-emitting matches already reported. RuntimeError, not assert: an
    # assert vanishes under python -O, and this must hold in production.
    if first_new_end > k - 1:
        raise RuntimeError(
            f"carry longer than k-1 ({first_new_end} rows, k={k}): windows "
            "inside the carry were already matched and would re-emit"
        )
    ts = np.asarray(full["ts_us"], dtype=np.int64)
    if within_us is not None:
        ok &= ts[k - 1:] - ts[:nwin] <= within_us
    j = np.nonzero(ok)[0]
    matches = {
        "start_idx": idx[j],
        "end_idx": idx[j + k - 1],
        "ts_first_us": ts[j],
        "ts_last_us": ts[j + k - 1],
    }
    return matches, new_carry


def match_skip(
    steps: tuple[Step, ...],
    run: dict,
    frontier: dict | None = None,
    within_us: int | None = None,
    within_turns: int | None = None,
    guards: dict | None = None,
) -> tuple[dict, dict]:
    """Incremental skip-till-next-match (Flink CEP ``followedBy``) over one
    in-order emitted run — the streaming counterpart of
    ``plans.cep.match_pattern(mode="skip")`` (VERDICT r6 ask #2: a funnel
    monitor is the canonical *streaming* CEP workload).

    State is a per-key **partial-match frontier**: one entry per open
    candidate ``(anchor_idx, anchor_ts_us, wait)`` where ``wait`` is the
    next step (1-based) the candidate needs. Skip-till-next semantics make
    a candidate's future deterministic given its wait step — the next hop
    is always the NEAREST following matching row — so no per-candidate
    intermediate rows need to be stored, and the emitted match is fully
    identified by (anchor, end).

    The per-run algorithm is the batch plan's shape in numpy: one
    suffix-min "nearest following match position" table per step (and per
    negative guard), then at most k-1 vectorized hop rounds over the
    candidate arrays. No per-row Python.

    ``guards`` (``plans.cep`` ``not_between`` analog): ``{segment_i: Step}``
    — a candidate at step i dies when a guard row appears strictly between
    its matched step-i row and its step-i+1 match (a row matching BOTH the
    guard and step i+1 advances the candidate, exactly like the batch
    plan's ``_ng >= _next`` rule). A candidate that stalls (no step match
    in the rest of the run) dies if a guard row follows its position —
    any future step match would be after that guard row.

    Bounds / pruning:
      - ``within_turns``: exact — a candidate is dropped once the newest
        emitted turn_idx is ≥ anchor_idx + within_turns (turn_idx is
        strictly increasing, so no future completion can satisfy the
        bound).
      - ``within_us``: completions are filtered exactly; open candidates
        are additionally pruned once ``last_ts - anchor_ts > within_us``,
        which assumes per-key event time is non-decreasing in turn order
        (true of transcripts — ts IS the turn's event time; a
        non-monotone key could in principle complete with a small
        first→last span after a large intermediate ts, which this pruning
        would miss).
      - without either bound, open candidates live until the conversation
        completes (the engine drops the frontier with the state) — fine
        for conversation-scale keys; set a bound for unbounded ones.

    Exactly-once across micro-batches: a match is emitted in the batch
    that processes its END turn; turns are processed once, in order, so no
    carry-window suppression is needed. Returns ``(matches, new_frontier)``
    with the same matches columns as :func:`match_strict`.
    """
    k = len(steps)
    if k < 2:
        raise ValueError("a pattern needs at least 2 steps")
    fr = frontier if frontier is not None else empty_frontier()
    idx = np.asarray(run["turn_idx"], dtype=np.int64)
    ts = np.asarray(run["ts_us"], dtype=np.int64)
    n = len(idx)
    empty = {
        "start_idx": np.empty(0, np.int64),
        "end_idx": np.empty(0, np.int64),
        "ts_first_us": np.empty(0, np.int64),
        "ts_last_us": np.empty(0, np.int64),
    }
    a_idx = np.asarray(fr["anchor_idx"], dtype=np.int64)
    a_ts = np.asarray(fr["anchor_ts_us"], dtype=np.int64)
    a_wait = np.asarray(fr["wait"], dtype=np.int64)
    if n == 0:
        return empty, fr
    # gap guard (mirrors match_strict's contiguity check): emission is
    # gap-free per key, so a jump means state re-creation after a TTL
    # eviction — open candidates reference turns this incarnation never
    # saw; drop them (re-matches on re-delivered turns are deduped at the
    # sink by the match_end_idx watermark, same as strict)
    if len(a_idx) and fr.get("next_expected") is not None and idx[0] != fr["next_expected"]:
        a_idx, a_ts, a_wait = a_idx[:0], a_ts[:0], a_wait[:0]

    sent = n  # sentinel position = "no following match in this run"
    pos_range = np.arange(n, dtype=np.int64)
    # NXT[i][p] = smallest run position q >= p where steps[i] matches
    nxt = np.full((k, n + 1), sent, dtype=np.int64)
    for i in range(1, k):
        hit = np.where(steps[i].mask(run), pos_range, sent)
        nxt[i, :n] = np.minimum.accumulate(hit[::-1])[::-1]
    # NG[j][p] = same table for segment j's negative guard (sent = none,
    # which can never kill since kill needs g < hp <= sent)
    ng = np.full((k, n + 1), sent, dtype=np.int64)
    for j, g in (guards or {}).items():
        hit = np.where(g.mask(run), pos_range, sent)
        ng[int(j), :n] = np.minimum.accumulate(hit[::-1])[::-1]

    anchors = np.nonzero(steps[0].mask(run))[0]
    c_aidx = np.concatenate([a_idx, idx[anchors]])
    c_ats = np.concatenate([a_ts, ts[anchors]])
    c_wait = np.concatenate([a_wait, np.ones(len(anchors), np.int64)])
    # frontier entrants hop from "before the run": position -1
    c_pos = np.concatenate([np.full(len(a_idx), -1, np.int64), anchors])

    alive = np.ones(len(c_pos), dtype=bool)
    open_ = np.ones(len(c_pos), dtype=bool)  # alive and not yet stalled/done
    done = np.zeros(len(c_pos), dtype=bool)
    for _ in range(k - 1):
        act = np.nonzero(alive & open_ & ~done)[0]
        if not len(act):
            break
        hp = nxt[c_wait[act], c_pos[act] + 1]
        gp = ng[c_wait[act] - 1, c_pos[act] + 1]
        killed = gp < hp  # guard strictly before the next step match
        # (or before end-of-run for a stalled candidate: hp == sent)
        stalled = ~killed & (hp == sent)
        adv = ~killed & ~stalled
        alive[act[killed]] = False
        open_[act[stalled]] = False
        ai = act[adv]
        c_pos[ai] = hp[adv]
        c_wait[ai] += 1
        done[ai] = c_wait[ai] == k

    comp = np.nonzero(alive & done)[0]
    end_pos = c_pos[comp]
    m_start, m_end = c_aidx[comp], idx[end_pos]
    m_tsf, m_tsl = c_ats[comp], ts[end_pos]
    keep = np.ones(len(comp), dtype=bool)
    if within_us is not None:
        keep &= m_tsl - m_tsf <= within_us
    if within_turns is not None:
        keep &= m_end - m_start <= within_turns
    matches = {
        "start_idx": m_start[keep],
        "end_idx": m_end[keep],
        "ts_first_us": m_tsf[keep],
        "ts_last_us": m_tsl[keep],
    }

    still = alive & ~done  # stalled mid-chain — carry into the next run
    if within_turns is not None:
        still &= idx[-1] - c_aidx < within_turns
    if within_us is not None:
        still &= ts[-1] - c_ats <= within_us
    new_frontier = {
        "anchor_idx": c_aidx[still],
        "anchor_ts_us": c_ats[still],
        "wait": c_wait[still],
        "next_expected": int(idx[-1]) + 1,
    }
    return matches, new_frontier


def empty_frontier() -> dict:
    return {
        "anchor_idx": np.empty(0, np.int64),
        "anchor_ts_us": np.empty(0, np.int64),
        "wait": np.empty(0, np.int64),
        "next_expected": None,
    }


def frontier_from_lists(anchor_idx, anchor_ts_us, wait, next_expected) -> dict:
    """Rebuild a skip-mode frontier from state-schema lists — the ONE
    deserializer shared by every engine's state layer (mirrors
    carry_from_lists)."""
    return {
        "anchor_idx": np.asarray(list(anchor_idx or []), dtype="int64"),
        "anchor_ts_us": np.asarray(list(anchor_ts_us or []), dtype="int64"),
        "wait": np.asarray(list(wait or []), dtype="int64"),
        "next_expected": None if next_expected is None else int(next_expected),
    }


def frontier_to_lists(fr: dict) -> tuple[list, list, list, int | None]:
    return (
        [int(x) for x in fr["anchor_idx"]],
        [int(x) for x in fr["anchor_ts_us"]],
        [int(x) for x in fr["wait"]],
        None if fr["next_expected"] is None else int(fr["next_expected"]),
    )


INF_IDX = np.int64(2**62)  # "no pending guard" sentinel (fits a LongType)


def empty_frontier_q(n_quant: int) -> dict:
    """Quantified-skip frontier: candidate arrays + per-quantified-step
    open-run tracking (a predicate run still open at the batch boundary —
    its maximality, hence qualification, is undecidable until a break row
    or the conversation's completion flush)."""
    return {
        "anchor_idx": np.empty(0, np.int64),
        "anchor_ts_us": np.empty(0, np.int64),
        "wait": np.empty(0, np.int64),
        "cpos": np.empty(0, np.int64),
        "guard_seen": np.empty(0, np.int64),
        "open_s": np.full(n_quant, -1, np.int64),
        "open_s_ts": np.full(n_quant, -1, np.int64),
        "open_e": np.full(n_quant, -1, np.int64),
        "open_e_ts": np.full(n_quant, -1, np.int64),
        "next_expected": None,
    }


def _runs_of(mask: np.ndarray):
    """(starts, ends) positions of maximal True runs in a boolean mask."""
    if not len(mask):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    m = mask.astype(np.int8)
    dm = np.diff(m)
    starts = np.flatnonzero(dm == 1) + 1
    ends = np.flatnonzero(dm == -1)
    if m[0]:
        starts = np.concatenate([[0], starts])
    if m[-1]:
        ends = np.concatenate([ends, [len(mask) - 1]])
    return starts.astype(np.int64), ends.astype(np.int64)


def match_skip_quant(
    steps: tuple,
    run: dict,
    frontier: dict | None = None,
    within_us: int | None = None,
    within_turns: int | None = None,
    guards: dict | None = None,
    final: bool = False,
) -> tuple[dict, dict]:
    """Incremental skip-till-next with QUANTIFIED steps — the streaming
    counterpart of ``plans.cep._match_skip_quant`` (same maximal-run
    semantics; parity-tested against it and a brute-force oracle).

    ``steps``: tuple of Step / Times (Times.step must be a Step — the
    numpy matcher needs its structural mask). State beyond the plain-skip
    frontier: per candidate, the last consumed position ``cpos`` (an open
    run may have started after one candidate's cpos and before another's,
    so the plain matcher's "hop from before the batch" trick does not
    survive quantifiers) and ``guard_seen`` (the earliest pending guard row
    after cpos for the awaited segment — guard kills must be DEFERRED to
    hop time because an open run that eventually qualifies with
    start < guard absolves the candidate); per quantified step, the open
    run's start/end idx+ts.

    A quantified step's run resolves (qualifies or not) when CLOSED — a
    non-matching row follows, or ``final=True`` (the conversation
    completed, so the engine flushes: a run touching the final row is
    maximal by definition). Matches whose last step is quantified emit in
    the batch where that run closes — still exactly once.

    Candidate advancement is a small per-candidate Python loop (bounded by
    anchors per key per batch — conversation-scale, unlike the row-scale
    work which stays vectorized in the run/mask tables).
    """
    k = len(steps)
    norm = []
    for s in steps:
        if isinstance(s, Times):
            if not isinstance(s.step, Step):
                raise ValueError(
                    "streaming quantified steps need structural Step "
                    "predicates (Times over a raw (name, sql) pair is "
                    "batch-only)"
                )
            norm.append(
                {"mask": s.step.mask, "quant": True, "n_min": s.n_min,
                 "n_max": s.n_max}
            )
        else:
            norm.append({"mask": s.mask, "quant": False, "n_min": 1, "n_max": 1})
    steps = norm
    quant_ids = [i for i, s in enumerate(steps) if s["quant"]]
    qof = {i: j for j, i in enumerate(quant_ids)}
    fr = frontier if frontier is not None else empty_frontier_q(len(quant_ids))
    idx = np.asarray(run["turn_idx"], np.int64)
    ts = np.asarray(run["ts_us"], np.int64)
    n = len(idx)
    empty = {c: np.empty(0, np.int64) for c in
             ("start_idx", "end_idx", "ts_first_us", "ts_last_us")}

    c_aidx = np.asarray(fr["anchor_idx"], np.int64)
    c_ats = np.asarray(fr["anchor_ts_us"], np.int64)
    c_wait = np.asarray(fr["wait"], np.int64)
    c_cpos = np.asarray(fr["cpos"], np.int64)
    c_gseen = np.asarray(fr["guard_seen"], np.int64)
    open_s = np.asarray(fr["open_s"], np.int64).copy()
    open_s_ts = np.asarray(fr["open_s_ts"], np.int64).copy()
    open_e = np.asarray(fr["open_e"], np.int64).copy()
    open_e_ts = np.asarray(fr["open_e_ts"], np.int64).copy()

    if n and fr.get("next_expected") is not None and idx[0] != fr["next_expected"]:
        # gap = state re-creation after eviction: carried candidates and
        # open runs reference turns this incarnation never saw
        c_aidx = c_aidx[:0]; c_ats = c_ats[:0]; c_wait = c_wait[:0]
        c_cpos = c_cpos[:0]; c_gseen = c_gseen[:0]
        open_s[:] = -1; open_s_ts[:] = -1; open_e[:] = -1; open_e_ts[:] = -1

    if n == 0 and not final:
        return empty, fr

    # ---- per-step hop tables over (carried open runs + this batch)
    plain_hits = {}
    q_runs = {}
    for i, st in enumerate(steps):
        m = st["mask"](run).astype(bool) if n else np.zeros(0, bool)
        if not st["quant"]:
            if i > 0:
                plain_hits[i] = idx[m]
            continue
        j = qof[i]
        starts_p, ends_p = _runs_of(m)
        rs, rsts, re_, rets = [], [], [], []
        carried = open_s[j] >= 0
        merged_first = bool(carried and n and m[0])
        if carried and not merged_first:
            # carried run closed at the previous batch boundary (or this is
            # an empty final flush) — its stored end row is the run end
            rs.append(int(open_s[j])); rsts.append(int(open_s_ts[j]))
            re_.append(int(open_e[j])); rets.append(int(open_e_ts[j]))
        carried_s = int(open_s[j]) if carried else -1
        carried_s_ts = int(open_s_ts[j]) if carried else -1
        open_s[j] = -1; open_s_ts[j] = -1; open_e[j] = -1; open_e_ts[j] = -1
        for p0, p1 in zip(starts_p, ends_p):
            if p0 == 0 and merged_first:
                s_i, s_t = carried_s, carried_s_ts
            else:
                s_i, s_t = int(idx[p0]), int(ts[p0])
            if p1 == n - 1 and not final:
                # run touches the batch end: maximality unknown — carry it
                open_s[j], open_s_ts[j] = s_i, s_t
                open_e[j], open_e_ts[j] = int(idx[p1]), int(ts[p1])
            else:
                rs.append(s_i); rsts.append(s_t)
                re_.append(int(idx[p1])); rets.append(int(ts[p1]))
        arr = {
            "s": np.asarray(rs, np.int64), "s_ts": np.asarray(rsts, np.int64),
            "e": np.asarray(re_, np.int64), "e_ts": np.asarray(rets, np.int64),
        }
        ln = arr["e"] - arr["s"] + 1
        ok = ln >= st["n_min"]
        if st["n_max"] is not None:
            ok &= ln <= st["n_max"]
        q_runs[i] = {c: v[ok] for c, v in arr.items()}

    guard_hits = {}
    for seg, g in (guards or {}).items():
        gm = g.mask(run).astype(bool) if n else np.zeros(0, bool)
        guard_hits[int(seg)] = idx[gm]

    # ---- new anchors (a qualifying CLOSED run for a quantified step 0;
    # an open anchor run materializes as a candidate when it closes)
    if steps[0]["quant"]:
        qa = q_runs[0]
        n_aidx, n_ats, n_cpos = qa["s"], qa["s_ts"], qa["e"]
    else:
        m0 = steps[0]["mask"](run).astype(bool) if n else np.zeros(0, bool)
        n_aidx = idx[m0]; n_ats = ts[m0]; n_cpos = n_aidx
    c_aidx = np.concatenate([c_aidx, n_aidx])
    c_ats = np.concatenate([c_ats, n_ats])
    c_wait = np.concatenate([c_wait, np.ones(len(n_aidx), np.int64)])
    c_cpos = np.concatenate([c_cpos, n_cpos])
    c_gseen = np.concatenate([c_gseen, np.full(len(n_aidx), INF_IDX, np.int64)])

    def fold_guards():
        # earliest guard row AFTER each candidate's cpos in this batch,
        # folded into the persisted minimum (kills resolve at hop time)
        for a in range(len(c_aidx)):
            seg = int(c_wait[a]) - 1
            if seg in guard_hits and len(guard_hits[seg]):
                gh = guard_hits[seg]
                p = np.searchsorted(gh, c_cpos[a], side="right")
                if p < len(gh) and gh[p] < c_gseen[a]:
                    c_gseen[a] = gh[p]

    matches = {c: [] for c in ("start_idx", "end_idx", "ts_first_us", "ts_last_us")}
    done = np.zeros(len(c_aidx), bool)
    alive = np.ones(len(c_aidx), bool)
    for _ in range(k):
        fold_guards()
        progressed = False
        for a in np.flatnonzero(alive & ~done):
            i = int(c_wait[a])
            st = steps[i]
            if st["quant"]:
                qr = q_runs[i]
                p = np.searchsorted(qr["s"], c_cpos[a], side="right")
                if p >= len(qr["s"]):
                    continue  # stall (an open run may resolve next batch)
                hop_s, hop_e = qr["s"][p], qr["e"][p]
                hop_e_ts = qr["e_ts"][p]
            else:
                ph = plain_hits[i]
                p = np.searchsorted(ph, c_cpos[a], side="right")
                if p >= len(ph):
                    continue
                hop_s = hop_e = ph[p]
                hop_e_ts = ts[np.searchsorted(idx, hop_s)]
            if c_gseen[a] < hop_s:
                alive[a] = False  # a guard row landed in the gap segment
                continue
            c_cpos[a] = hop_e
            c_wait[a] = i + 1
            c_gseen[a] = INF_IDX
            progressed = True
            if c_wait[a] == k:
                done[a] = True
                if (within_us is None or hop_e_ts - c_ats[a] <= within_us) and (
                    within_turns is None or hop_e - c_aidx[a] <= within_turns
                ):
                    matches["start_idx"].append(int(c_aidx[a]))
                    matches["end_idx"].append(int(hop_e))
                    matches["ts_first_us"].append(int(c_ats[a]))
                    matches["ts_last_us"].append(int(hop_e_ts))
        if not progressed:
            break

    still = alive & ~done
    if len(c_aidx) and n:
        # <= (not <): a carried open run's end can BE idx[-1], so a future
        # completion at exactly this distance is still possible
        if within_turns is not None:
            still &= idx[-1] - c_aidx <= within_turns
        if within_us is not None:
            still &= ts[-1] - c_ats <= within_us
    if final:
        still &= False  # completed conversation: nothing can complete later
    new_fr = {
        "anchor_idx": c_aidx[still],
        "anchor_ts_us": c_ats[still],
        "wait": c_wait[still],
        "cpos": c_cpos[still],
        "guard_seen": c_gseen[still],
        "open_s": open_s, "open_s_ts": open_s_ts,
        "open_e": open_e, "open_e_ts": open_e_ts,
        "next_expected": (int(idx[-1]) + 1) if n else fr.get("next_expected"),
    }
    out = {c: np.asarray(v, np.int64) for c, v in matches.items()}
    order = np.lexsort((out["end_idx"], out["start_idx"]))
    return {c: v[order] for c, v in out.items()}, new_fr


def frontier_q_from_lists(
    anchor_idx, anchor_ts_us, wait, cpos, guard_seen,
    open_s, open_s_ts, open_e, open_e_ts, next_expected,
) -> dict:
    return {
        "anchor_idx": np.asarray(list(anchor_idx or []), dtype="int64"),
        "anchor_ts_us": np.asarray(list(anchor_ts_us or []), dtype="int64"),
        "wait": np.asarray(list(wait or []), dtype="int64"),
        "cpos": np.asarray(list(cpos or []), dtype="int64"),
        "guard_seen": np.asarray(list(guard_seen or []), dtype="int64"),
        "open_s": np.asarray(list(open_s or []), dtype="int64"),
        "open_s_ts": np.asarray(list(open_s_ts or []), dtype="int64"),
        "open_e": np.asarray(list(open_e or []), dtype="int64"),
        "open_e_ts": np.asarray(list(open_e_ts or []), dtype="int64"),
        "next_expected": None if next_expected is None else int(next_expected),
    }


def frontier_q_to_lists(fr: dict) -> tuple:
    return (
        [int(x) for x in fr["anchor_idx"]],
        [int(x) for x in fr["anchor_ts_us"]],
        [int(x) for x in fr["wait"]],
        [int(x) for x in fr["cpos"]],
        [int(x) for x in fr["guard_seen"]],
        [int(x) for x in fr["open_s"]],
        [int(x) for x in fr["open_s_ts"]],
        [int(x) for x in fr["open_e"]],
        [int(x) for x in fr["open_e_ts"]],
        None if fr["next_expected"] is None else int(fr["next_expected"]),
    )


def carry_from_lists(idx, role, tool, ts_us) -> dict:
    """Rebuild a carry dict from four (possibly-None) sequences — the ONE
    deserializer shared by every engine's state layer."""
    return {
        "turn_idx": np.asarray(list(idx or []), dtype="int64"),
        "role": np.asarray(list(role or []), dtype=object),
        "tool": np.asarray(list(tool or []), dtype=object),
        "ts_us": np.asarray(list(ts_us or []), dtype="int64"),
    }


def carry_to_lists(carry: dict) -> tuple[list, list, list, list]:
    """Carry dict → four plain lists (state-schema friendly)."""
    return (
        [int(x) for x in carry["turn_idx"]],
        list(carry["role"]),
        list(carry["tool"]),
        [int(x) for x in carry["ts_us"]],
    )


def empty_carry() -> dict:
    return {
        "turn_idx": np.empty(0, np.int64),
        "role": np.empty(0, object),
        "tool": np.empty(0, object),
        "ts_us": np.empty(0, np.int64),
    }


@dataclass(frozen=True)
class StreamMatcher:
    """ONE mode dispatcher shared by both streaming engines (classic /
    sharded), so the strict-vs-skip semantics, the per-mode state
    codec, and the config validation can never drift between them. The
    engine owns WHERE the state lives (tuple fields, shard map entry);
    this object owns WHAT it means.

    State shapes (each serializes to a fixed field count, n_state_fields):
      - strict          → the (k-1)-turn carry (4 parallel lists)
      - skip            → the partial-match frontier (3 int lists +
                          next_expected; 4 fields)
      - skip+quantified → the extended frontier (candidate cpos/guard_seen
                          + per-quant-step open runs; 10 fields)
    """

    steps: tuple
    mode: str
    within_us: int | None
    within_turns: int | None
    guards: dict  # {segment_i: Step}, skip mode only
    quant: bool = False  # any Times step (skip mode only)

    @property
    def n_state_fields(self) -> int:
        return 10 if self.quant else 4

    def match(
        self, run: dict, state: dict | None, final: bool = False
    ) -> tuple[dict, dict]:
        if self.mode == "skip":
            if self.quant:
                return match_skip_quant(
                    self.steps,
                    run,
                    state,
                    self.within_us,
                    self.within_turns,
                    self.guards,
                    final,
                )
            return match_skip(
                self.steps,
                run,
                state,
                self.within_us,
                self.within_turns,
                self.guards,
            )
        return match_strict(self.steps, run, state, self.within_us)

    def empty_state(self) -> dict:
        if self.mode == "skip":
            if self.quant:
                return empty_frontier_q(
                    sum(1 for s in self.steps if isinstance(s, Times))
                )
            return empty_frontier()
        return empty_carry()

    def state_to_lists(self, st: dict) -> tuple:
        if self.mode == "skip":
            return frontier_q_to_lists(st) if self.quant else frontier_to_lists(st)
        return carry_to_lists(st)

    def state_from_lists(self, *fields) -> dict:
        if self.mode == "skip":
            return (
                frontier_q_from_lists(*fields)
                if self.quant
                else frontier_from_lists(*fields)
            )
        return carry_from_lists(*fields)


def expand_strict_times(steps) -> list:
    """Strict mode: times(n, n) is exactly n consecutive copies of the step
    (Flink strict contiguity — overlapping anchors inside longer runs DO
    match, unlike skip mode's maximal-run reading); open-ended counts have
    no finite strict expansion. THE single expander — the batch plan and the
    streaming matcher both call it, so their strict quantifier semantics
    cannot drift."""
    out = []
    for s in steps:
        if not isinstance(s, Times):
            out.append(s)
            continue
        if s.n_max != s.n_min:
            raise ValueError(
                f"strict mode requires an exact count — times({s.n_min}, "
                f"{s.n_max}) on step {s.name!r} has no finite strict "
                "expansion; use skip mode"
            )
        for j in range(s.n_min):
            if isinstance(s.step, Step):
                out.append(
                    Step(f"{s.name}_{j + 1}", role=s.step.role, tool=s.step.tool)
                )
            else:
                out.append((f"{s.name}_{j + 1}", s.sql))
    # ADVICE r7: a quantified step 'a' expands to a_1..a_n, which can
    # collide with a user-supplied literal step named 'a_1' — that would
    # trip the downstream unique-name check with an opaque message (or
    # worse, duplicate <name>_idx output columns). Fail descriptively here.
    names = [s.name if isinstance(s, (Step, Times)) else str(s[0]) for s in out]
    if len(set(names)) != len(names):
        dup = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(
            f"expanding quantified step(s) produced duplicate step names "
            f"{dup}: a times(n) step named 'x' generates x_1..x_n — rename "
            "the literal step(s) that collide with that numbering"
        )
    return out


def validate_pattern_knobs(pattern, mode, within_s, within_turns, not_between):
    """THE shared config-time validation for every engine config
    (OrderedStreamConfig.__post_init__): a pattern's knobs are
    checked by building its matcher; knobs without a pattern are refused."""
    if pattern is not None:
        stream_matcher(pattern, mode, within_s, within_turns, not_between)
    elif mode != "strict" or within_turns is not None or not_between:
        raise ValueError(
            "pattern_mode/pattern_within_turns/pattern_not_between require "
            "pattern"
        )


def stream_matcher(
    pattern,
    mode: str = "strict",
    within_s: int | None = None,
    within_turns: int | None = None,
    not_between: dict | None = None,
) -> StreamMatcher:
    """Validate a streaming pattern config and build its matcher. Mirrors
    plans.cep.match_pattern's argument contract exactly (strict rejects the
    skip-only knobs; guards are per-segment), so a batch pattern and its
    streaming twin take the same inputs."""
    steps = tuple(pattern)
    k = len(steps)
    if k < 2:
        raise ValueError("a pattern needs at least 2 steps")
    if mode not in ("strict", "skip"):
        raise ValueError(f"unknown pattern mode {mode!r} (strict | skip)")
    quant = any(isinstance(s, Times) for s in steps)
    if quant:
        for s in steps:
            if isinstance(s, Times) and not isinstance(s.step, Step):
                raise ValueError(
                    "streaming quantified steps need structural Step "
                    "predicates — Times over a raw (name, sql) pair is "
                    "batch-only (plans.cep.match_pattern)"
                )
        if mode == "strict":
            steps = tuple(expand_strict_times(steps))
            k = len(steps)
            quant = False
    if mode == "strict":
        if within_turns is not None:
            raise ValueError(
                "pattern_within_turns applies to skip mode only — a strict "
                f"match always spans exactly {k - 1} turns"
            )
        if not_between:
            raise ValueError(
                "pattern_not_between applies to skip mode only — strict "
                "steps are consecutive turns with nothing between them"
            )
    guards: dict = {}
    for i, g in (not_between or {}).items():
        i = int(i)
        if not 0 <= i < k - 1:
            raise ValueError(
                f"pattern_not_between segment {i} out of range (0..{k - 2})"
            )
        if not isinstance(g, Step):
            raise ValueError(
                f"streaming not_between guard for segment {i} must be a "
                f"Step (the numpy matcher needs its mask) — got {g!r}"
            )
        guards[i] = g
    return StreamMatcher(
        steps=steps,
        mode=mode,
        within_us=None if within_s is None else int(within_s) * 1_000_000,
        within_turns=None if within_turns is None else int(within_turns),
        guards=guards,
        quant=quant,
    )
