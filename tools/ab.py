"""Interleaved A/B of one command on two git revisions.

Usage:
  python tools/ab.py PARENT [CHANGE] --pairs N --out FILE -- <command...>

PARENT and CHANGE are git revisions, each exported with `git archive` into
a temporary directory that is removed at exit; without CHANGE the change arm
is the working tree. An A/A control is PARENT == CHANGE. Each leg runs
<command> as a fresh process in its arm's tree root, with `{pair}` (0-based)
and `{work}` (a fresh directory per leg, deleted after it) substituted.
Even pairs run the parent first, odd pairs the change first.

Per leg it records the exit code, the process wall clock (`leg_wall_s`),
`cpu_steal_frac` over the leg, and every numeric leaf of the leg's last JSON
stdout line by dotted path (a perfbench `metrics.<name>.value` as `<name>`),
plus `correct` and `failed` when present. A leg that exits non-zero or
prints no JSON line is kept with its stderr tail and counted as failed.

Verdict rule, per metric: "resolved (change lower)" or "resolved (change
higher)" when the change is on that side of the parent in at least 9/10 of
all pairs run (ties, and pairs missing the metric, count for neither side)
and |median(change) - median(parent)| > the parent's IQR (q3 - q1).
Otherwise "unresolved". The tool says lower or higher, not better or worse.

Commands:
  bench.py   python bench.py
  live       python3 perfbench/run.py --workload live --seed 2{pair} --seconds 30 --trace 0
  salted     python3 perfbench/run.py --workload hotkey_batch --seed 1{pair} --seconds 30
             --trace 1  (reports `skew.salted_s`; checked against ground truth)
  pipeline   perfbench --workload backfill, or python3 jobs/run_pipeline.py --source <input>
             --out {work}/out --checkpoint {work}/ckpt --available-now <flags>
             over an input made once by tools.scaling_bench.generate_input
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.common import cpu_times, quantile, steal_frac  # noqa: E402

ARMS = ("parent", "change")


def leaves(obj, prefix: str = "") -> dict:
    """Numeric leaves of a JSON object by dotted path; a perfbench
    `metrics.<name>.value` is keyed as `<name>`."""
    out = {}
    for k, v in obj.items():
        path = f"{prefix}{k}"
        if isinstance(v, dict):
            out.update(leaves(v, path + "."))
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            out[re.sub(r"^metrics\.(.+)\.value$", r"\1", path)] = v
    return out


def last_json(stdout: str):
    for line in reversed(stdout.splitlines()):
        with contextlib.suppress(ValueError):
            obj = json.loads(line)
            if isinstance(obj, dict):
                return obj
    return None


def run_leg(cmd: list, root: str, pair: int) -> dict:
    with tempfile.TemporaryDirectory(prefix="ab-work-") as work:
        argv = [a.replace("{pair}", str(pair)).replace("{work}", work) for a in cmd]
        ticks, t0 = cpu_times(), time.time()
        proc = subprocess.run(argv, cwd=root, capture_output=True, text=True)
        rec = {"exit": proc.returncode, "leg_wall_s": round(time.time() - t0, 3),
               "cpu_steal_frac": round(steal_frac(ticks, cpu_times()), 4)}
    line = last_json(proc.stdout)
    rec["metrics"] = {"leg_wall_s": rec["leg_wall_s"], **leaves(line or {})}
    for key in ("correct", "failed"):
        if line and key in line:
            rec[key] = line[key]
    if proc.returncode != 0 or line is None:
        rec["leg_failed"] = True
        rec["stderr_tail"] = proc.stderr[-2000:]
    return rec


def verdict(parent: list, change: list) -> dict:
    """Summary of one metric over paired legs (None = leg without it)."""
    p = [v for v in parent if v is not None]
    c = [v for v in change if v is not None]
    q = lambda v: [round(quantile(v, x), 4) for x in (0.25, 0.5, 0.75)]  # noqa: E731
    both = [(a, b) for a, b in zip(parent, change) if a is not None and b is not None]
    lower = sum(b < a for a, b in both)
    higher = sum(b > a for a, b in both)
    pq, cq = q(p), q(c)
    iqr = round(pq[2] - pq[0], 4)
    diff = round(cq[1] - pq[1], 4)
    n = len(parent)
    out = "unresolved"
    if abs(diff) > iqr:
        if lower * 10 >= 9 * n:
            out = "resolved (change lower)"
        elif higher * 10 >= 9 * n:
            out = "resolved (change higher)"
    return {"parent_q1_median_q3": pq, "change_q1_median_q3": cq, "parent_iqr": iqr,
            "median_diff": diff,
            "median_change_rel": round(diff / pq[1], 3) if pq[1] else None,
            "change_lower": lower, "change_higher": higher,
            "ties": len(both) - lower - higher, "pairs": n, "verdict": out}


def summarize(legs: list) -> tuple[dict, dict]:
    by = {(g["pair"], g["arm"]): g for g in legs}
    pairs = sorted({g["pair"] for g in legs if (g["pair"], "change") in by
                    and (g["pair"], "parent") in by})
    names = sorted({k for g in legs for k in g["metrics"]})
    metrics = {
        k: verdict(*[[by[i, arm]["metrics"].get(k) for i in pairs] for arm in ARMS])
        for k in names
    }
    arms = {}
    for arm in ARMS:
        mine = [g for g in legs if g["arm"] == arm]
        arms[arm] = {
            "steal_median": round(quantile([g["cpu_steal_frac"] for g in mine], 0.5), 4),
            "failed_or_incorrect_legs": sum(
                bool(g.get("leg_failed")) or g.get("correct") is False for g in mine),
            "legs": len(mine),
        }
    return metrics, arms


def export(rev: str, stack: contextlib.ExitStack) -> str:
    root = stack.enter_context(tempfile.TemporaryDirectory(prefix="ab-tree-"))
    tar = subprocess.run(["git", "archive", rev], cwd=REPO, check=True,
                         capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(root)
    return root


def sha(rev: str) -> str:
    return subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
                          cwd=REPO, check=True, capture_output=True,
                          text=True).stdout.strip()


def main(argv: list) -> int:
    cut = argv.index("--") if "--" in argv else len(argv)
    ap = argparse.ArgumentParser(usage=__doc__.splitlines()[3].strip())
    ap.add_argument("parent")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv[:cut])
    cmd = argv[cut + 1:]
    if not cmd or args.pairs < 1:
        ap.error("needs --pairs >= 1 and a command after --")
    revs = {"parent": sha(args.parent), "change": sha(args.change) if args.change else None}
    legs: list = []
    record = {"tool": "tools/ab.py", "parent": revs["parent"],
              "change": revs["change"] or "working tree", "command": cmd,
              "pairs": args.pairs, "rule": "resolved iff >= 9/10 of pairs on one side "
              "(ties count for neither) and |median diff| > parent IQR"}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with contextlib.ExitStack() as stack:
        roots = {arm: export(rev, stack) if rev else REPO for arm, rev in revs.items()}
        for pair in range(args.pairs):
            for arm in ARMS if pair % 2 == 0 else ARMS[::-1]:
                leg = {"pair": pair, "arm": arm, **run_leg(cmd, roots[arm], pair)}
                legs.append(leg)
                print(json.dumps({k: leg.get(k) for k in
                                  ("pair", "arm", "exit", "leg_wall_s",
                                   "cpu_steal_frac", "correct")}), file=sys.stderr)
                record["summary"], record["arms"] = summarize(legs)
                with open(args.out, "w") as f:
                    json.dump({**record, "legs": legs}, f, indent=1)
    for name, s in record["summary"].items():
        print(f"{name:<40} parent {s['parent_q1_median_q3'][1]:.4g} (IQR {s['parent_iqr']:.4g})"
              f"  change {s['change_q1_median_q3'][1]:.4g}  lower/higher/ties {s['change_lower']}"
              f"/{s['change_higher']}/{s['ties']} of {s['pairs']}  {s['verdict']}")
    for arm, a in record["arms"].items():
        print(f"{arm}: median steal {a['steal_median']}, "
              f"{a['failed_or_incorrect_legs']} of {a['legs']} legs failed or incorrect")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
