"""Offline data-epoch compaction for an ordered-pipeline sink directory.

The streaming sink compacts itself per epoch (SinkConfig.compact_epochs_after),
but a sink whose stream ran with compaction disabled
(`compact_epochs_after=None`) accumulates one `epoch=N` dir per
micro-batch. This
tool folds such a sink in place with the same leveled, crash-safe protocol
(`sinks.compact_data_epochs`). Concurrency: readers are safe throughout
(folds are `_SUCCESS`-gated, superseded dirs are visibility-hidden and
swept only after the grace window); a CONCURRENT compactor (e.g. the live
stream's own per-epoch pass) is excluded by the sink's `_compact.lock` —
if the lock is held this tool exits having folded nothing, so run it on
live sinks during a quiet period or rely on the stream's own compaction.

With the default grace window a single offline run leaves the superseded
input dirs on disk (there is no later call to sweep them) — the tool
reports `superseded_pending_sweep` and a re-run after the grace window
deletes them; for a DEAD sink pass `--grace-seconds 0` to fold and sweep
in one shot.

Usage: python tools/compact_sink.py <sink-data-dir> [--fanout 16]
       [--grace-seconds 300] [--cpus 8]
Prints one JSON line: dirs before/after, folds performed, pending sweeps.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sink_dir", help="the sink's data directory (holds epoch=N dirs)")
    ap.add_argument("--fanout", type=int, default=16)
    ap.add_argument(
        "--grace-seconds", type=float, default=300.0,
        help="age a covering fold must reach before its superseded inputs "
        "are deleted (0 = immediate; only safe when no reader is live)",
    )
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument(
        "--status-keep-last", type=int, default=None,
        help="prune status rows beyond the newest N per conversation among "
        "the rows each fold sees (data rows are never pruned); default "
        "keeps every status row",
    )
    args = ap.parse_args()

    from dataflow_ordered_processing_spark.session import get_spark
    from dataflow_ordered_processing_spark.streaming.sinks import (
        _sink_entries,
        _visible_entries,
        compact_data_epochs,
        sink_dirs,
    )

    spark = get_spark(
        "compact-sink", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus
    )
    before = len(sink_dirs(args.sink_dir))
    folds = compact_data_epochs(
        spark,
        args.sink_dir,
        fanout=args.fanout,
        grace_seconds=args.grace_seconds,
        status_keep_last=args.status_keep_last,
    )
    vis = _visible_entries(args.sink_dir)
    after = len(vis)
    pending = len(_sink_entries(args.sink_dir)) - len(vis)
    out = {
        "sink_dir": args.sink_dir,
        "visible_dirs_before": before,
        "visible_dirs_after": after,
        "folds": folds,
        "superseded_pending_sweep": pending,
    }
    # lock-contention diagnostic only when a fold was actually DUE: some
    # single level exceeds the fanout (review r5c #3 — comparing the TOTAL
    # dir count to a per-level threshold misfires on fully compacted sinks)
    by_level: dict[int, int] = {}
    for lvl, _lo, _hi, _p in vis:
        by_level[lvl] = by_level.get(lvl, 0) + 1
    if folds == 0 and any(n > args.fanout for n in by_level.values()):
        out["note"] = (
            "0 folds with an over-fanout level usually means another "
            "compactor holds the _compact.lock flock — re-run when it is "
            "quiet"
        )
    if pending:
        out["note_sweep"] = (
            f"{pending} superseded dirs await the {args.grace_seconds}s "
            "grace window; re-run after it elapses to delete them"
        )
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
