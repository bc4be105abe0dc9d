"""Benchmark of the ordered-transcript pipeline, end to end and per layer.

    python3 perfbench/run.py --workload live --seed 1 --seconds 30 --trace 0

Workloads (inputs are generated from --seed; see gen.py). BENCHMARK.json
lists live and hotkey_batch, which between them run every layer; its run
budget has no room for the closed-loop drains, which are run by hand:

  live              open loop: a feeder thread publishes one arrival file
                    per second for --seconds at absolute due times while
                    run_pipeline runs ``--trigger-s 0.5`` with a strict CEP
                    pattern, over a resident set of stalled conversations
  hotkey_batch      one mega-conversation plus a tail, ordered in-process by
                    ``adaptive_ordered_emit_batch`` and written to parquet
  backfill          closed loop: one ``--available-now --engine sharded``
                    drain of staged, shuffled history through
                    jobs/run_pipeline.py
  classic_backfill  the backfill shape, smaller, with ``--engine classic``,
                    to compare the two engines

Each run is one repetition in a fresh process, so set-up is paid once per
run. --seconds is the length of the live feed; the closed-loop workloads
drain one fixed-size input (SIZES, about 20 s of work on 4 cores), whose
size is reported with the throughput. Every output is checked
against the generator's ground truth; the last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. --trace 0 reports the
end-to-end metrics, --trace 1 runs the traced driver once and reports the
per-layer metrics. Every result is also kept, keyed by host, under
``.perfbench_out/results/<host_key>/`` for report.py.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

import numpy as np

from common import (OUT, become_subreaper, cpu_times, host_record, quantile, require_program,
                    steal_frac, stop_all, tail_quantile, write_json)

WORKLOADS = ("live", "hotkey_batch", "backfill", "classic_backfill")

# Input sizes per repetition, tuned so one repetition of each workload fits
# the run budget on a 4-core host.
SIZES = {
    "backfill": {"n_convs": 1500, "n_turns": 150_000, "n_files": 64},
    "classic_backfill": {"n_convs": 400, "n_turns": 40_000, "n_files": 64},
    "live": {"active": 1000, "stalled": 1000, "stalled_turns": 20},
    # the hot key must stay above adaptive_ordered_emit_batch's 100k threshold
    "hotkey_batch": {"hot_turns": 120_000, "tail_turns": 30_000, "tail_convs": 300,
                     "n_files": 8},
}

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "turns_per_s": "turns/s",
    "emit_latency_p50_s": "s",
    "emit_latency_p99_s": "s",
}


def generate(workload: str, seed: int, seconds: int):
    import gen

    s = SIZES[workload]
    if workload in ("backfill", "classic_backfill"):
        return gen.backfill(seed, **s)
    if workload == "live":
        return gen.live(seed, seconds, **s)
    return gen.hotkey(seed, **s)


def run_one(workload: str, seed: int, seconds: int, work: str, trace: bool) -> dict:
    g = generate(workload, seed, seconds)
    if workload == "hotkey_batch":
        import batch

        rep = batch.run_rep(g, work, trace)
    else:
        import stream

        rep = stream.run_rep(workload, g, work, trace)
    rep["input"] = g.info
    rep["expected"] = g.expected
    return rep


def end_to_end(rep: dict) -> tuple[dict, dict]:
    """The end-to-end metrics of one repetition, and their sample counts.

    Emission latency is per turn, from when it was due to the end of the
    micro-batch that committed it; a turn that failed counts as +inf. In a
    closed loop every turn is due when the drain starts; in hotkey_batch one
    write commits every turn at once. A crashed run reports its wall time
    for every time metric (it is failed and not correct anyway)."""
    wall = rep["wall_s"]
    if "setup_s" not in rep:
        vals = dict.fromkeys(END_TO_END, wall) | {"turns_per_s": 0.0}
        return vals, {"crashed": True}
    if "latencies" in rep:
        lat = rep["latencies"]
    else:
        lat = np.full(rep["attempted"] - rep["failed"], rep["visible_s"])
        lat = np.concatenate([lat, np.full(rep["failed"], np.inf)])
    q = tail_quantile(len(lat))
    vals = {
        "setup_s": rep["setup_s"],
        "wall_s": wall,
        "turns_per_s": rep["turns_per_s"],
        "emit_latency_p50_s": quantile(lat, 0.5),
        "emit_latency_p99_s": quantile(lat, 0.99),
    }
    detail = {
        "emit_latency_s": {"median": vals["emit_latency_p50_s"],
                           f"p{q * 100:g}": quantile(lat, q), "n": int(len(lat))},
        "turns_per_s_input_turns": rep["input_turns"],
    }
    # +inf (a turn never committed) has no JSON form: report the run's wall
    # time, a lower bound on it
    return {k: min(v, wall) if k.startswith("emit_") else v for k, v in vals.items()}, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    require_program()
    # every child is stopped, and waited for, on every way out
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return measure(args)
    finally:
        stop_all()


def measure(args) -> int:
    import oracle

    work = os.path.join(OUT, "work")
    os.makedirs(OUT, exist_ok=True)
    host = host_record(OUT)
    ticks = cpu_times()
    rep = run_one(args.workload, args.seed, args.seconds, work, bool(args.trace))
    host["cpu_steal_frac"] = steal_frac(ticks, cpu_times())
    sc = oracle.self_check(rep["expected"], rep["actual"])
    attempted, failed = rep["attempted"], rep["failed"]
    correct = rep["correct"] and all(sc.values())
    if args.trace:
        import layers

        values, kept = layers.per_layer(args.workload, rep)
        units, detail = layers.UNITS, {}
    else:
        values, detail = end_to_end(rep)
        units, kept = END_TO_END, {}
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "sizes": SIZES[args.workload],
        "trace": args.trace,
        "host": host,
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / max(1, attempted),
        "self_check": sc,
        "metrics": metrics,
        "detail": detail,
        "rep": {k: v for k, v in rep.items()
                if k not in ("latencies", "actual", "expected", "progress", "feed")},
        **kept,
    }
    name = f"{args.workload}-trace{args.trace}-seed{args.seed}.json"
    write_json(os.path.join(OUT, "results", host["host_key"], name), record)
    print(json.dumps({"detail": detail, "failed_frac": record["failed_frac"],
                      "self_check": sc, "host": host,
                      "check": rep.get("check")}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
