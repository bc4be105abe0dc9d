"""Deterministic fault matrix for split_sink's exactly-once guarantee.

Each case runs one fixed five-epoch input sequence through split_sink,
crashes it once at one phase boundary, replays the crashed epoch with the
same (batch, epoch) — what Spark does on restart when commits/<epoch> is
missing — and finishes the sequence. Boundaries, in write order:

  dlq_written            row-level DLQ epoch committed
  merge_probe            key-index watermarks built (catchup + fold ran)
  data_partial           data epoch has part files but no _SUCCESS
  delta_missing          data epoch committed, key-index delta not written
  before_compaction      delta written, data compaction not run
  keyidx_fold_committed  key-index fold committed, folded deltas not deleted
  data_fold_committed    data fold committed, folded inputs not swept
  commit_log_lost        write_batch returned, Spark's commit log lost

crossed with merge_on_key {off, on} and data compaction {off, on with
fanout 2 and no grace}; a boundary a setting never reaches is skipped.
The crash is reached by wrapping an existing callee; it raises a
BaseException, so — like a process death — no `except Exception` handler
runs. Each case asserts that a reader at the crash point sees the sink as
of the epoch before or after the crashed one, and that the finished
sink (data, status and match rows of read_sink) and the DLQ equal the
uninterrupted run's. The uninterrupted runs are checked against an
independent oracle. No fault fires before epoch CRASH_FROM and
split_sink's writer keeps no state across epochs, so each crash case
starts from a copy of its uninterrupted run's data/ and dlq/ dirs after
epoch CRASH_FROM - 1 (no sink file stores an absolute path).

The input holds a cross-epoch re-delivery of data and of a match, poison
rows of three kinds, and CEP match rows, one of them landing an epoch
after its end turn. In merge-on runs epoch 0 is written with merge_on_key
off (a plain sink upgraded in place), so the key index must bootstrap
from committed data (_keyidx_catchup); conversation b lives only in that
epoch and is re-delivered in epoch 3.
"""

from __future__ import annotations

import datetime
import os
import shutil
from collections import Counter
from dataclasses import replace

import pytest

from dataflow_ordered_processing_spark.schemas import STREAM_OUTPUT_SCHEMA_CEP
from dataflow_ordered_processing_spark.streaming import sinks as sk

T0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
CRASH_FROM = 3  # each fault fires at the first reachable point of an epoch >= this


def _data(conv, turn):
    return {
        "row_type": "data", "conv_id": conv, "turn_idx": turn, "role": "user",
        "text": f"{conv}{turn}", "ts": T0 + datetime.timedelta(seconds=turn),
        "emit_seq": turn, "n_user_cum": turn,
    }


def _status(conv, epoch, last):
    return {
        "row_type": "status", "conv_id": conv,
        "status_ts": T0 + datetime.timedelta(minutes=epoch),
        "last_emitted": last, "buffered_count": 0, "received_count": last,
        "result_count": last, "duplicate_count": 0, "last_event_received": False,
    }


def _match(conv, start, end):
    return {
        "row_type": "match", "conv_id": conv, "match_start_idx": start,
        "match_end_idx": end, "match_ts_first": T0 + datetime.timedelta(seconds=start),
        "match_ts_last": T0 + datetime.timedelta(seconds=end),
        "match_span_us": (end - start) * 1_000_000,
    }


def _poison(row, error):
    return {**row, "_dlq_error": error}


BATCHES = [
    [_data("a", 1), _data("a", 2), _data("b", 1), _data("b", 2),
     _status("a", 0, 2), _status("b", 0, 2)],
    [_data("a", 3), _data("c", 1), _match("a", 1, 3), _status("a", 1, 3), _status("c", 1, 1)],
    [_data("a", 4), _data("c", 2), _poison(_data(None, 9), "null_key"),
     _poison(_data("c", 0), "bad_turn_idx"), _status("a", 2, 4), _status("c", 2, 2)],
    # b1, b2 re-delivered: b's watermark exists only through the catchup of epoch 0
    [_data("c", 3), _data("b", 1), _data("b", 2), _match("c", 1, 3), _status("c", 3, 3)],
    # (a, 3, 4) lands an epoch after a4; (a, 1, 3) and a1-a3 are re-delivered
    [_data("d", 1), _data("a", 5), _data("a", 1), _data("a", 2), _data("a", 3),
     _match("a", 3, 4), _match("a", 1, 3), _poison(_match("d", 3, 1), "bad_match_span"),
     _status("a", 4, 5), _status("d", 4, 1)],
]


class Crash(BaseException):
    """A process death at a phase boundary."""


class Fault:
    """One crash: fires once, at the first reachable point of an epoch
    >= CRASH_FROM."""

    def __init__(self):
        self.epoch = -1
        self.fired_at = None

    def due(self) -> bool:
        return self.fired_at is None and self.epoch >= CRASH_FROM

    def hit(self):
        self.fired_at = self.epoch
        raise Crash(f"crash at epoch {self.epoch}")


def _wrap(fn, fault, when, after=True):
    """`fn` that crashes once, before or after the real call, when
    `when(*args)` holds and the fault is due."""

    def wrapped(*a, **k):
        if not after and fault.due() and when(*a, **k):
            fault.hit()
        out = fn(*a, **k)
        if after and fault.due() and when(*a, **k):
            fault.hit()
        return out

    return wrapped


def _under(path, root):
    return os.path.abspath(path).startswith(os.path.abspath(root) + os.sep)


def _install(mp, boundary, fault, data, dlq):
    """Wrap the callee whose return (or entry) is `boundary`."""
    if boundary == "dlq_written":
        mp.setattr(sk, "_write_idempotent", _wrap(
            sk._write_idempotent, fault, lambda df, base, e: base == dlq))
    elif boundary == "merge_probe":
        mp.setattr(sk, "_keyidx_watermarks", _wrap(
            sk._keyidx_watermarks, fault, lambda *a: True))
    elif boundary == "data_partial":
        real = sk._write_idempotent

        def partial(df, base, epoch):
            real(df, base, epoch)
            if base == data and fault.due():
                os.remove(os.path.join(base, f"epoch={epoch}", "_SUCCESS"))
                fault.hit()

        mp.setattr(sk, "_write_idempotent", partial)
    elif boundary == "delta_missing":
        mp.setattr(sk, "_write_keyidx_delta", _wrap(
            sk._write_keyidx_delta, fault,
            lambda rows, path, epoch, *a, **k: epoch == fault.epoch, after=False))
    elif boundary == "before_compaction":
        mp.setattr(sk, "compact_data_epochs", _wrap(
            sk.compact_data_epochs, fault, lambda *a, **k: True, after=False))
    elif boundary in ("keyidx_fold_committed", "data_fold_committed"):
        keyidx = boundary == "keyidx_fold_committed"
        mp.setattr(shutil, "rmtree", _wrap(
            shutil.rmtree, fault,
            lambda p, *a, **k: _under(p, data) and (os.sep + "_keyidx" + os.sep in p) == keyidx,
            after=False))


def _reachable(boundary, merge, compaction):
    if boundary in ("merge_probe", "delta_missing", "keyidx_fold_committed"):
        return merge
    if boundary in ("before_compaction", "data_fold_committed"):
        return compaction
    return True


def _rows(df):
    return [tuple(sorted(r.asDict().items())) for r in df.drop("ingest_ts").collect()]


def _state(spark, data, dlq):
    """The sink as a reader sees it — its data, status and match rows, every
    column but the sink-time ingest_ts — and every committed DLQ epoch."""
    out = {t: Counter() for t in ("data", "status", "match", "dlq")}
    if sk.sink_dirs(data):
        for row in _rows(sk.read_sink(spark, data, table="unified")):
            out[dict(row)["row_type"]][row] += 1
    dlq_dirs = sk.epoch_dirs(dlq) + sk.epoch_dirs(os.path.join(dlq, "writer_error"))
    if dlq_dirs:
        out["dlq"].update(_rows(spark.read.parquet(*dlq_dirs)))
    return out


def _copy_sink(src, dst):
    for name in ("data", "dlq"):
        if os.path.isdir(os.path.join(src, name)):
            shutil.copytree(os.path.join(src, name), os.path.join(dst, name))


def _run(spark, root, merge, compaction, boundary=None, snapshots=False, seed=None):
    """Run the sequence; returns (final state, per-epoch states or the
    crash-point state, epoch the fault fired at). An uninterrupted run
    saves its dirs after epoch CRASH_FROM - 1 under root/seed; a run given
    that `seed` starts from a copy of it at epoch CRASH_FROM."""
    data, dlq = os.path.join(root, "data"), os.path.join(root, "dlq")
    first = CRASH_FROM if seed else 0
    if seed:
        _copy_sink(seed, root)
    cfg = sk.SinkConfig(
        data_path=data, dlq_path=dlq, merge_on_key=merge,
        compact_epochs_after=2 if compaction else None, compact_grace_seconds=0,
    )
    fault = Fault()
    seen = []
    with pytest.MonkeyPatch.context() as mp:
        # fold the key index once more than two deltas accumulate (epoch 3)
        mp.setattr(sk, "_KEYIDX_COMPACT_AFTER", 2)
        if boundary:
            _install(mp, boundary, fault, data, dlq)
        writers = [sk.split_sink(replace(cfg, merge_on_key=False)), sk.split_sink(cfg)]
        for e, rows in enumerate(BATCHES[first:], first):
            fault.epoch = e
            batch = spark.createDataFrame(
                [{k: v for k, v in r.items() if k != "_dlq_error"} for r in rows],
                STREAM_OUTPUT_SCHEMA_CEP,
            )
            write = writers[e > 0]
            try:
                write(batch, e)
                if boundary == "commit_log_lost" and fault.due():
                    fault.fired_at = e
                    raise Crash("commit log lost")
            except Crash:
                seen.append(_state(spark, data, dlq))
                write(batch, e)
            if snapshots:
                seen.append(_state(spark, data, dlq))
            if e == CRASH_FROM - 1 and not boundary:
                _copy_sink(root, os.path.join(root, "seed"))
    if boundary:
        assert fault.fired_at is not None, f"{boundary} was never reached"
    return _state(spark, data, dlq), seen, fault.fired_at


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """Uninterrupted runs per (merge, compaction): the sink state after
    every epoch and the dir their crash cases start from."""
    cache = {}

    def get(merge, compaction):
        if (merge, compaction) not in cache:
            root = str(tmp_path_factory.mktemp("ref"))
            final, per_epoch, _ = _run(spark, root, merge, compaction, snapshots=True)
            cache[merge, compaction] = (final, per_epoch, os.path.join(root, "seed"))
        return cache[merge, compaction]

    return get


SETTINGS = [(m, c) for m in (False, True) for c in (False, True)]


def _sid(merge, compaction):
    return f"merge_{'on' if merge else 'off'}-compact_{'on' if compaction else 'off'}"



BOUNDARIES = [
    "dlq_written", "merge_probe", "data_partial", "delta_missing",
    "before_compaction", "keyidx_fold_committed", "data_fold_committed",
    "commit_log_lost",
]
CELLS = [
    pytest.param(b, m, c, id=f"{b}-{_sid(m, c)}")
    for b in BOUNDARIES
    for m, c in SETTINGS
    if _reachable(b, m, c)
]


@pytest.mark.parametrize(
    "merge,compaction", [pytest.param(m, c, id=_sid(m, c)) for m, c in SETTINGS]
)
def test_uninterrupted_run_matches_oracle(reference, merge, compaction):
    """Without merge_on_key every delivered row lands; with it, each data
    key and each match lands once (its first delivery). Poison rows go to
    the DLQ only."""
    final, _, _ = reference(merge, compaction)
    delivered = [r for rows in BATCHES for r in rows if "_dlq_error" not in r]
    poison = [r["_dlq_error"] for rows in BATCHES for r in rows if "_dlq_error" in r]
    cols = {
        "data": ("conv_id", "turn_idx"),
        "match": ("conv_id", "match_start_idx", "match_end_idx"),
        "status": ("conv_id", "status_ts"),
    }
    for row_type, key in cols.items():
        want = [tuple(r[c] for c in key) for r in delivered if r["row_type"] == row_type]
        got = Counter(tuple(dict(t)[c] for c in key) for t in final[row_type].elements())
        assert got == Counter(set(want) if merge and row_type != "status" else want), row_type
    assert sorted(dict(t)["dlq_error"] for t in final["dlq"].elements()) == sorted(poison)


@pytest.mark.parametrize("boundary,merge,compaction", CELLS)
def test_crash_and_replay_is_exactly_once(spark, tmp_path, reference, boundary, merge, compaction):
    """A reader at the crash point sees the sink as of the epoch before or
    after the crashed one; after the replay and the rest of the sequence
    the sink and the DLQ equal the uninterrupted run's."""
    ref_final, ref_epochs, seed = reference(merge, compaction)
    final, (at_crash,), e = _run(spark, str(tmp_path), merge, compaction, boundary, seed=seed)
    before = ref_epochs[e - 1]
    after = ref_epochs[e]
    for part in ("data", "status", "match", "dlq"):
        assert at_crash[part] in (before[part], after[part]), (part, e)
    assert final == ref_final
