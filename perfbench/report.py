"""Per-layer report from the kept benchmark results of this host.

    python3 perfbench/report.py [--host HOST_KEY] [--workload NAME]

For each workload with a traced result it prints:

- the span self-time table (a span's duration minus its children's), and
  for hotkey_batch the session warm-up measured in its own process;
- for streaming workloads, the per-batch split of OPTIMIZATION_r08 §6:
  Spark's stateful machinery (``engine.stateful`` minus the driver-side
  replay of our operator), our operator (``core.replay`` + ``cep.replay``),
  the epoch sink (``sink.split_sink``) and the rest of the trigger;
- the tracing overhead: the traced median drain time against the untraced
  median, each with its sample count.

Results are only compared within one host key.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

from common import OUT, median


def self_times(spans: list[dict]) -> dict[str, dict]:
    child_s: dict[int, float] = {}
    for s in spans:
        if s.get("parent") is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    table: dict[str, dict] = {}
    for s in spans:
        d = s["end"] - s["start"]
        row = table.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        row["n"] += 1
        row["total_s"] += d
        row["self_s"] += max(0.0, d - child_s.get(s["id"], 0.0))
    return table


def batch_split(rec: dict) -> dict | None:
    spans, prog = rec.get("spans") or [], rec.get("progress") or []
    stateful = [s for s in spans if s["name"] == "engine.stateful"]
    if not stateful:
        return None
    n = len(stateful)

    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    operator = total("core.replay") + total("cep.replay")
    trigger = sum((p.get("durationMs") or {}).get("triggerExecution", 0) for p in prog) / 1000
    return {
        "batches": n,
        "spark_stateful_s": (total("engine.stateful") - operator) / n,
        "our_operator_s": operator / n,
        "epoch_sink_s": total("sink.split_sink") / n,
        "rest_of_trigger_s": (trigger - total("engine.stateful") - total("sink.split_sink")) / n,
    }


def load(host: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(OUT, "results", host, "*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--host", default=None, help="host key (default: the newest)")
    ap.add_argument("--workload", default=None)
    args = ap.parse_args()
    hosts = sorted(glob.glob(os.path.join(OUT, "results", "*")), key=os.path.getmtime)
    if not hosts:
        print("no results yet: run perfbench/run.py first", file=sys.stderr)
        return 1
    host = args.host or os.path.basename(hosts[-1])
    recs = load(host)
    print(f"host {host}")
    for wl in sorted({r["workload"] for r in recs}):
        if args.workload and wl != args.workload:
            continue
        traced = [r for r in recs if r["workload"] == wl and r["trace"] == 1]
        plain = [r for r in recs if r["workload"] == wl and r["trace"] == 0]
        print(f"\n== {wl}: {len(traced)} traced, {len(plain)} untraced results")
        if not traced:
            continue
        latest = max(traced, key=lambda r: r["seed"])
        print(f"self time, traced seed {latest['seed']}:")
        print(f"  {'span':32} {'n':>5} {'total_s':>9} {'self_s':>9}")
        for name, row in sorted(self_times(latest.get("spans") or []).items(),
                                key=lambda kv: -kv[1]["self_s"]):
            print(f"  {name:32} {row['n']:>5} {row['total_s']:>9.3f} {row['self_s']:>9.3f}")
        warm = latest.get("warm_spans")
        if warm:
            w = self_times(warm)
            print(f"session warm-up, own process: get_spark "
                  f"{w['session.get_spark_warm']['total_s']:.3f} s, of which warm-up "
                  f"{w['session.warm']['total_s']:.3f} s")
        split = batch_split(latest)
        if split:
            print("per-batch split (s/batch):", json.dumps(
                {k: round(v, 3) if isinstance(v, float) else v for k, v in split.items()}))
        # overhead only against untraced runs of the same input shape
        shape = (latest.get("sizes"), latest["seconds"])
        t = [r["metrics"]["trace.drain_s"]["value"] for r in traced
             if (r.get("sizes"), r["seconds"]) == shape]
        u = [r["rep"]["drain_s"] for r in plain
             if (r.get("sizes"), r["seconds"]) == shape and "drain_s" in r["rep"]]
        if t and u:
            mt, mu = median(t), median(u)
            print(f"tracing overhead: drain {mt:.3f} s traced (n={len(t)}) vs {mu:.3f} s "
                  f"untraced (n={len(u)}): {mt - mu:+.3f} s ({(mt - mu) / mu:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
