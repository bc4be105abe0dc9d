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
Both contiguity modes are incremental, one matcher and one state shape
each: strict carries the trailing (k-1) emitted turns across micro-batches
(``match_strict``); skip-till-next carries a partial-match frontier — one
open candidate per anchor, plus the quantified steps' open runs —
(``match_skip``, for plain and quantified patterns alike). Batch skip
mode (``plans/cep.py``) runs the same ``match_skip`` once per whole
conversation; only batch strict mode has its own plan (k-1 LEADs). The
oracles are the pure-Python brute-force matchers in the tests and DuckDB.

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
        m = None  # __post_init__ guarantees role or tool is set
        for col, v in (("role", self.role), ("tool", self.tool)):
            if v is None:
                continue
            arr = np.asarray(cols[col], dtype=object)
            hit = np.isin(arr, v) if isinstance(v, tuple) else arr == v
            m = hit if m is None else m & hit
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

    ``step`` is a Step, a ColumnStep or a raw ``(name, sql)`` pair (the
    batch operator's tuple form — quantified predicates often aren't
    structural role/tool equalities).
    """

    step: object  # Step | ColumnStep | (name, sql)
    n_min: int = 1
    n_max: int | None = None

    def __post_init__(self):
        if self.n_min < 1:
            raise ValueError("times: n_min must be >= 1")
        if self.n_max is not None and self.n_max < self.n_min:
            raise ValueError("times: n_max must be >= n_min")
        if not isinstance(self.step, (Step, ColumnStep)) and not (
            isinstance(self.step, (tuple, list)) and len(self.step) == 2
        ):
            raise ValueError(
                "times: step must be a Step, a ColumnStep or a (name, sql) pair"
            )

    @property
    def name(self) -> str:
        return (
            str(self.step[0])
            if isinstance(self.step, (tuple, list))
            else self.step.name
        )

    @property
    def sql(self) -> str:
        return (
            self.step.sql if isinstance(self.step, Step) else str(self.step[1])
        )


@dataclass(frozen=True)
class ColumnStep:
    """A step whose predicate is already evaluated: ``mask(run)`` reads the
    boolean column ``col`` of the run. The batch operator evaluates each
    SQL step predicate in Spark and matches over these columns."""

    name: str
    col: str

    def mask(self, cols: dict) -> np.ndarray:
        return np.asarray(cols[self.col], bool)


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


INF_IDX = np.int64(2**62)  # "none": no pending guard, no hop (fits a LongType)
_NONE = np.array([INF_IDX])  # ends hop/guard tables: past the end reads "none"

_CAND = ("anchor_idx", "anchor_ts_us", "wait", "cpos", "guard_seen")
_OPEN = ("open_s", "open_s_ts", "open_e", "open_e_ts")
# the skip frontier's field count (+ next_expected), pinned in the
# checkpoint marker as its format version (sinks._pattern_spec)
SKIP_STATE_FIELDS = len(_CAND) + len(_OPEN) + 1
_MATCH_COLS = ("start_idx", "end_idx", "ts_first_us", "ts_last_us")
_TRAIL_COLS = ("step_idx", "step_end_idx")  # match_skip only: (n, k) arrays


def empty_frontier_q(n_quant: int) -> dict:
    """The skip frontier: candidate arrays + per-quantified-step open-run
    tracking (a predicate run still open at the batch boundary — its
    maximality, hence qualification, is undecidable until a break row or
    the conversation's completion flush)."""
    return {
        **{c: np.empty(0, np.int64) for c in _CAND},
        **{c: np.full(n_quant, -1, np.int64) for c in _OPEN},
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


def _closed_runs(st: Times, idx, ts, run, opn: dict, j: int, final: bool):
    """The qualifying CLOSED runs of quantified step ``st`` as sorted,
    _NONE-terminated (start, start_ts, end, end_ts) arrays: this batch's
    predicate runs, joined with the run carried open in slot ``j`` of
    ``opn``. A run that touches the batch end is stored back into ``opn``
    instead, unless ``final`` (a run touching the conversation's last row
    is maximal)."""
    p0, p1 = _runs_of(st.step.mask(run).astype(bool))
    cols = [idx[p0], ts[p0], idx[p1], ts[p1]]
    carried = [int(opn[c][j]) for c in _OPEN]
    for c in _OPEN:
        opn[c][j] = -1
    if carried[0] >= 0:
        if len(p0) and p0[0] == 0:
            # the carried run continues into this batch: it keeps its start
            cols[0][0], cols[1][0] = carried[0], carried[1]
        else:
            # it closed at the previous batch boundary: its stored end row
            # is the run end
            cols = [np.concatenate([[v], a]) for v, a in zip(carried, cols)]
    if len(p1) and p1[-1] == len(idx) - 1 and not final:
        # run touches the batch end: maximality unknown — carry it
        for c, a in zip(_OPEN, cols):
            opn[c][j] = a[-1]
        cols = [a[:-1] for a in cols]
    ln = cols[2] - cols[0] + 1
    ok = ln >= st.n_min
    if st.n_max is not None:
        ok &= ln <= st.n_max
    return [np.concatenate((a[ok], _NONE)) for a in cols]


def match_skip(
    steps: tuple,
    run: dict,
    frontier: dict | None = None,
    within_us: int | None = None,
    within_turns: int | None = None,
    guards: dict | None = None,
    final: bool = False,
) -> tuple[dict, dict]:
    """Incremental skip-till-next-match (Flink CEP ``followedBy``) over one
    in-order emitted run — THE skip matcher: the stream calls it per
    emitted run with the frontier carried, and
    ``plans.cep.match_pattern(mode="skip")`` calls it once per whole
    conversation with ``final=True``. Tested against brute-force oracles.

    ``steps``: a tuple of Step / ColumnStep / Times (Times.step must be a
    Step or ColumnStep — the matcher needs its mask). A plain step hops to
    the NEAREST following matching row; a quantified step to the nearest
    following qualifying maximal run (see :class:`Times`), and the chain
    continues from the run's end.

    State is a per-key **partial-match frontier**: one entry per open
    candidate — ``anchor_idx``/``anchor_ts_us``, ``wait`` (the next step it
    needs), ``cpos`` (its last consumed turn: hop targets start strictly
    after it) and ``guard_seen`` (the earliest guard row after cpos for the
    awaited segment) — plus, per quantified step, the predicate run still
    open at the batch end (``open_*``: start/end idx+ts). Skip-till-next
    makes a candidate's future deterministic given (wait, cpos), so no
    intermediate rows are stored and a match is identified by (anchor,
    end).

    The per-run algorithm is vectorized: per step a sorted hop table (the
    step's matching rows, or its qualifying closed runs), then ONE pass over
    the steps in order, advancing every candidate waiting on step i with a
    single ``searchsorted`` into that table. No per-row or per-candidate
    Python.

    A quantified step's run resolves (qualifies or not) when CLOSED — a
    non-matching row follows, or ``final=True`` (the conversation
    completed, so the engine flushes: a run touching the final row is
    maximal by definition). Matches whose last step is quantified emit in
    the batch where that run closes — still exactly once.

    ``guards`` (``plans.cep`` ``not_between`` analog): ``{segment_i: Step}``
    — a candidate at step i dies when a guard row appears strictly between
    its step-i match and its step-i+1 match (a row matching BOTH the guard
    and step i+1 advances the candidate). A candidate waiting on a PLAIN
    step dies in the batch where the guard row appears: any later hop is
    after it. Waiting on a QUANTIFIED step the kill is deferred
    (``guard_seen``): a run still open may qualify with a start before the
    guard row and absolve it.

    Bounds / pruning:
      - ``within_turns``: exact — a candidate is dropped once no future
        completion can end within ``anchor_idx + within_turns`` (turn_idx
        is strictly increasing; a quantified last step can still end AT
        the newest turn, when its run is open).
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
    that processes (or, for a quantified last step, closes) its END turn;
    turns are processed once, in order. Returns ``(matches,
    new_frontier)`` with the same matches columns as :func:`match_strict`,
    sorted by start, plus ``step_idx`` / ``step_end_idx``: (matches, k)
    arrays of each step's matched turn (a quantified step's run start) and
    its last consumed turn (the run end; the same turn for a plain step).
    They are kept in arrays local to the call, not in the frontier, so they
    are known only for candidates anchored in this call: a step matched in
    an earlier call reads -1.
    """
    k = len(steps)
    if k < 2:
        raise ValueError("a pattern needs at least 2 steps")
    fr = frontier
    if fr is None:
        fr = empty_frontier_q(sum(isinstance(s, Times) for s in steps))
    idx = np.asarray(run["turn_idx"], np.int64)
    ts = np.asarray(run["ts_us"], np.int64)
    n = len(idx)
    if n == 0 and not final:
        return {
            **{c: np.empty(0, np.int64) for c in _MATCH_COLS},
            **{c: np.empty((0, k), np.int64) for c in _TRAIL_COLS},
        }, fr
    c_aidx, c_ats, c_wait, c_cpos, c_gseen = (
        np.asarray(fr[c], np.int64) for c in _CAND
    )
    opn = {c: np.array(fr[c], np.int64) for c in _OPEN}
    if n and fr.get("next_expected") is not None and idx[0] != fr["next_expected"]:
        # gap guard (mirrors match_strict's contiguity check): emission is
        # gap-free per key, so a jump means state re-creation after a TTL
        # eviction — carried candidates and open runs reference turns this
        # incarnation never saw; drop them (re-matches on re-delivered turns
        # are deduped at the sink by the match_end_idx watermark)
        c_aidx, c_ats, c_wait, c_cpos, c_gseen = (
            a[:0] for a in (c_aidx, c_ats, c_wait, c_cpos, c_gseen)
        )
        for a in opn.values():
            a[:] = -1

    # per step: the sorted (start, start_ts, end, end_ts) a candidate can
    # hop to — matching rows (start == end) or qualifying closed runs —
    # each _NONE-terminated, so a searchsorted past the end reads "no hop"
    tables, j = [], 0
    for s in steps:
        if isinstance(s, Times):
            tables.append(_closed_runs(s, idx, ts, run, opn, j, final))
            j += 1
        else:
            m = s.mask(run)
            hit = [np.concatenate((idx[m], _NONE)), np.concatenate((ts[m], _NONE))]
            tables.append(hit * 2)
    ghits = {
        int(seg): np.concatenate((idx[g.mask(run)], _NONE))
        for seg, g in (guards or {}).items()
    }

    # new anchors: step 0's rows / closed qualifying runs (an open anchor
    # run becomes a candidate when it closes)
    a_s, a_sts, a_e = (a[:-1] for a in tables[0][:3])
    # each candidate's matched (start, end) per step, for this call only
    t_s = np.full((len(c_aidx) + len(a_s), k), -1, np.int64)
    t_e = t_s.copy()
    t_s[len(c_aidx):, 0], t_e[len(c_aidx):, 0] = a_s, a_e
    c_aidx = np.concatenate([c_aidx, a_s])
    c_ats = np.concatenate([c_ats, a_sts])
    c_wait = np.concatenate([c_wait, np.ones(len(a_s), np.int64)])
    c_cpos = np.concatenate([c_cpos, a_e])
    c_gseen = np.concatenate([c_gseen, np.full(len(a_s), INF_IDX)])

    # one pass in step order: a candidate only moves forward, so the ones
    # that advance from step i are taken up again at step i + 1; wait == 0
    # marks a killed one. Candidates stay in anchor order (the frontier,
    # then this batch's anchors), so completions come out sorted by start.
    comp = [np.empty(0, np.int64)] * 4 + [np.empty((0, k), np.int64)] * 2
    for i in range(1, k):
        sel = np.flatnonzero(c_wait == i)
        if not len(sel):
            continue
        hs, _, he, he_ts = tables[i]
        cp = c_cpos[sel]
        p = hs.searchsorted(cp, side="right")
        hop = hs[p]
        has = hop < INF_IDX
        gs = c_gseen[sel]
        if i - 1 in ghits:
            gh = ghits[i - 1]
            gs = np.minimum(gs, gh[gh.searchsorted(cp, side="right")])
            c_gseen[sel] = gs
        killed = gs < hop
        if isinstance(steps[i], Times):
            killed &= has  # defer: an open run may absolve it
        c_wait[sel[killed]] = 0
        adv = has & ~killed
        a, pa = sel[adv], p[adv]
        c_cpos[a] = he[pa]
        c_wait[a] = i + 1
        c_gseen[a] = INF_IDX
        t_s[a, i], t_e[a, i] = hs[pa], he[pa]
        if i == k - 1:
            comp = [c_aidx[a], he[pa], c_ats[a], he_ts[pa], t_s[a], t_e[a]]

    m_start, m_end, m_tsf, m_tsl = comp[:4]
    keep = np.ones(len(m_start), bool)
    if within_us is not None:
        keep &= m_tsl - m_tsf <= within_us
    if within_turns is not None:
        keep &= m_end - m_start <= within_turns
    matches = {c: v[keep] for c, v in zip(_MATCH_COLS + _TRAIL_COLS, comp)}

    still = (c_wait > 0) & (c_wait < k)
    if final:
        still[:] = False  # completed conversation: nothing can complete later
    elif n:
        if within_turns is not None:
            slack = isinstance(steps[-1], Times)
            still &= idx[-1] - c_aidx < within_turns + slack
        if within_us is not None:
            still &= ts[-1] - c_ats <= within_us
    cand = (c_aidx, c_ats, c_wait, c_cpos, c_gseen)
    new_fr = {
        **{c: a[still] for c, a in zip(_CAND, cand)},
        **opn,
        "next_expected": (int(idx[-1]) + 1) if n else fr.get("next_expected"),
    }
    return matches, new_fr


@dataclass(frozen=True)
class StreamMatcher:
    """ONE mode dispatcher for the streaming engine, so the strict-vs-skip
    semantics and the config validation live in one place. The engine owns
    WHERE the state lives (the shard dict's CEP side map, pickled with the
    shard); this object owns WHAT it means. Two state shapes, each a dict
    of numpy arrays:
      - strict → the (k-1)-turn carry of :func:`match_strict`
      - skip   → the partial-match frontier of :func:`match_skip`, the one
                 skip matcher for plain and quantified patterns alike
                 (candidate arrays, per-quantified-step open runs and
                 next_expected; SKIP_STATE_FIELDS)
    """

    steps: tuple
    mode: str
    within_us: int | None
    within_turns: int | None
    guards: dict  # {segment_i: Step}, skip mode only

    def match(
        self, run: dict, state: dict | None, final: bool = False
    ) -> tuple[dict, dict]:
        if self.mode == "skip":
            return match_skip(
                self.steps,
                run,
                state,
                self.within_us,
                self.within_turns,
                self.guards,
                final,
            )
        return match_strict(self.steps, run, state, self.within_us)


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
    """THE config-time validation of the streaming config
    (OrderedStreamConfig.__post_init__): a pattern's knobs are
    checked by building its matcher; knobs without a pattern are refused."""
    if pattern is not None:
        stream_matcher(pattern, mode, within_s, within_turns, not_between)
    elif (
        mode != "strict"
        or within_s is not None
        or within_turns is not None
        or not_between
    ):
        raise ValueError(
            "pattern_mode/pattern_within_s/pattern_within_turns/"
            "pattern_not_between require pattern"
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
    if any(isinstance(s, Times) for s in steps):
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
    )
