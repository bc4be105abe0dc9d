"""Interleaved A/B/A bench across repo HEADs (VERDICT r3 next-round #1).

Round-3's driver bench drifted ~15% vs round 2 on queries whose code did not
change — on this box only INTERLEAVED same-session runs can tell machine
drift from a real regression (BENCH/BASELINE.md methodology note). This tool
runs `python bench.py` (and optionally a scaling_bench 4M sharded point)
against several checked-out HEADs in interleaved order:

    r2, r3, r4, r4, r3, r2, ...   (one process per run, fresh JVM each)

Usage:
  python tools/ab_bench.py --heads r2=/dev/shm/ab-r2 r3=/dev/shm/ab-r3 \
      r4=/root/repo --reps 3 [--sf-dir /root/testdata/sf0.1] [--cpus 32]
      [--scaling-rows 4000000]

Writes BENCH/ab_interleaved.json with every per-rep result plus per-head
mean/spread per metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(head_dir: str, sf_dir: str, cpus: int) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    proc = subprocess.run(
        [sys.executable, os.path.join(head_dir, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=head_dir,
        timeout=3600,
    )
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"bench at {head_dir} failed: {proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def run_scaling_leg(head_dir: str, src: str, cpus: int) -> dict:
    """One sharded pipeline leg (jobs/run_pipeline.py) on the SHARED 4M
    input — the macro point behind sharded_turns_per_sec drift."""
    workdir = tempfile.mkdtemp(prefix="ab-scale-", dir="/dev/shm")
    out, ckpt = os.path.join(workdir, "out"), os.path.join(workdir, "ckpt")
    proc = subprocess.run(
        [
            sys.executable, os.path.join(head_dir, "jobs", "run_pipeline.py"),
            "--source", src, "--out", out, "--checkpoint", ckpt,
            "--available-now", "--max-files-per-trigger", "8",
            "--master", f"local[{cpus}]",
            "--engine", "sharded", "--n-shards", "256",
        ],
        capture_output=True, text=True, timeout=3600, cwd=head_dir,
    )
    import shutil

    shutil.rmtree(workdir, ignore_errors=True)
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"scaling leg at {head_dir} failed: {proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--heads", nargs="+", required=True, help="name=path ...")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--scaling-rows", type=int, default=0,
                    help="also run a sharded 4M-point leg per head per rep "
                    "on a SHARED generated input (0 = skip)")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "ab_interleaved.json"))
    args = ap.parse_args()

    heads = dict(h.split("=", 1) for h in args.heads)
    scaling_src = None
    if args.scaling_rows:
        sys.path.insert(0, REPO)
        from tools.scaling_bench import generate_input

        scaling_src = os.path.join("/dev/shm", f"ab-src-{args.scaling_rows}")
        if not os.path.exists(os.path.join(scaling_src, "_SUCCESS")):
            n = generate_input(scaling_src, args.scaling_rows, 20_000, cpus=args.cpus)
            print(json.dumps({"event": "scaling_input", "rows": n}))

    runs: list[dict] = []
    for rep in range(args.reps):
        # alternate which head runs first, so neither always follows the other
        order = list(heads.items())
        for name, path in order[::-1] if rep % 2 else order:
            t0 = time.time()
            r = run_bench(path, args.sf_dir, args.cpus)
            # launch to exit as the harness sees it: interpreter start, session
            # build and teardown included, whatever the head's bench.py reports
            rec = {"head": name, "rep": rep, "process_wall_s": round(time.time() - t0, 3),
                   "bench": r}
            if scaling_src:
                s = run_scaling_leg(path, scaling_src, args.cpus)
                rec["scaling_4m"] = s
            runs.append(rec)
            print(json.dumps({"event": "run", "head": name, "rep": rep,
                              "total_s": r.get("value"),
                              "process_wall_s": rec["process_wall_s"],
                              "sharded_tps": r.get("queries", {}).get(
                                  "sharded_turns_per_sec"),
                              "scaling_4m_tps": rec.get("scaling_4m", {}).get(
                                  "sustained_turns_per_sec")}))

    # per-head aggregation over every numeric metric in bench queries
    summary: dict[str, dict] = {}
    for name in heads:
        mine = [r for r in runs if r["head"] == name]
        agg: dict[str, dict] = {}
        keys = set()
        for r in mine:
            keys |= set(r["bench"].get("queries", {}))
        for kq in sorted(keys):
            vals = [r["bench"]["queries"][kq] for r in mine
                    if kq in r["bench"].get("queries", {})
                    and isinstance(r["bench"]["queries"][kq], (int, float))]
            if vals:
                agg[kq] = {
                    "mean": round(statistics.mean(vals), 3),
                    "spread_pct": round(
                        100 * (max(vals) - min(vals)) / statistics.mean(vals), 1
                    ) if statistics.mean(vals) else None,
                    "n": len(vals),
                }
        totals = [r["bench"]["value"] for r in mine if "value" in r["bench"]]
        walls = [r["process_wall_s"] for r in mine]
        sc = [r["scaling_4m"].get("sustained_turns_per_sec") for r in mine
              if "scaling_4m" in r and r["scaling_4m"].get("sustained_turns_per_sec")]
        summary[name] = {
            "total_s": {"mean": round(statistics.mean(totals), 2),
                        "all": [round(t, 2) for t in totals]} if totals else None,
            "process_wall_s": {"median": round(statistics.median(walls), 2),
                               "all": walls},
            "scaling_4m_sustained_tps": {
                "mean": round(statistics.mean(sc), 1), "all": sc} if sc else None,
            "queries": agg,
        }

    out = {
        "bench": "ab_interleaved",
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "reps": args.reps,
        "order": "interleaved; head order reversed on odd reps",
        "heads": {k: v for k, v in heads.items()},
        "runs": runs,
        "summary": summary,
    }
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"event": "done", "out": args.out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
