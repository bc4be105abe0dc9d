"""Interleaved A/B of jobs/run_pipeline.py between two checkouts.

Generates one input with tools.scaling_bench.generate_input, then runs
``--pairs`` pairs of pipeline runs, one fresh process per leg, each leg
on its own output and checkpoint. The first head runs first in even pairs
and second in odd pairs. Every leg gets the same pipeline arguments
(``--available-now --master local[<cpus>] --shuffle-partitions <cpus>``
plus whatever follows ``--``). Per leg it records run_pipeline's
``wall_s``, ``sustained_turns_per_sec`` and ``rows_emitted`` and the
process wall clock; per head, the median and quartiles of each.

Usage:
  python tools/ab_pipeline.py --heads parent=<checkout> change=<checkout> \
      --pairs 10 --rows 200000 --convs 2000 --cpus 4 --out <file.json> \
      -- --merge-on-key --max-files-per-trigger 4
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METRICS = ("wall_s", "sustained_turns_per_sec", "process_wall_s")


def run_leg(head: str, src: str, cpus: int, extra: list[str]) -> dict:
    work = tempfile.mkdtemp(prefix="ab-pipeline-")
    cmd = [
        sys.executable, os.path.join(head, "jobs", "run_pipeline.py"),
        "--source", src, "--out", os.path.join(work, "out"),
        "--checkpoint", os.path.join(work, "ckpt"), "--available-now",
        "--master", f"local[{cpus}]", "--shuffle-partitions", str(cpus), *extra,
    ]
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=head, timeout=3600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"pipeline at {head} failed: {proc.stderr[-3000:]}")
    out = json.loads(lines[-1])
    return {k: out.get(k) for k in ("rows_emitted", "wall_s", "sustained_turns_per_sec")} | {
        "process_wall_s": round(time.time() - t0, 2)
    }


def quartiles(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3, "iqr": q3 - q1}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--heads", nargs=2, required=True, help="name=checkout name=checkout")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--convs", type=int, default=2_000)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--out", required=True)
    ap.add_argument("extra", nargs="*", help="pipeline arguments, after --")
    args = ap.parse_args()
    heads = [h.split("=", 1) for h in args.heads]

    sys.path.insert(0, REPO)
    from tools.scaling_bench import generate_input

    src_root = tempfile.mkdtemp(prefix="ab-pipeline-src-")
    try:
        src = os.path.join(src_root, "src")
        n_input = generate_input(src, args.rows, args.convs, cpus=args.cpus)
        legs = []
        for pair in range(args.pairs):
            for name, head in heads if pair % 2 == 0 else heads[::-1]:
                leg = {"pair": pair, "head": name, **run_leg(head, src, args.cpus, args.extra)}
                print(json.dumps(leg), flush=True)
                legs.append(leg)
    finally:
        shutil.rmtree(src_root, ignore_errors=True)
    summary = {
        name: {m: quartiles([l[m] for l in legs if l["head"] == name]) for m in METRICS}
        for name, _ in heads
    }
    record = {
        "config": {"pairs": args.pairs, "rows": args.rows, "convs": args.convs,
                   "cpus": args.cpus, "n_input": n_input, "pipeline_args": args.extra},
        "summary": summary,
        "legs": legs,
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
