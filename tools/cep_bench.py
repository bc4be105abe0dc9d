"""CEP benchmark → BENCH/cep.json.

Two questions, measured on the same deterministic skewed corpus the
scaling benches use (tools/scaling_bench.generate_input):

1. Batch row-pattern throughput: plans/cep.match_pattern strict and skip
   over N rows (input cached so the measurement is the operator, not the
   parquet scan — the r4 lesson). ``skip_grouped`` is the rejected
   alternative to the skip driver: the same match_skip call once per
   ``groupBy("conv_id").applyInPandas`` group.

2. Streaming matcher overhead: the full sharded pipeline (run_pipeline
   subprocess, fresh JVM per leg) with and without --pattern, INTERLEAVED
   off/on × reps (box drift makes solo numbers meaningless —
   BENCH/BASELINE.md round-5 note). The pattern u=user,a=assistant,c=tool
   matches every role cycle (~n/3 matches) — a worst-case match volume, so
   the reported overhead is an upper bound.

3. Stream matcher alone (no Spark): ``stream_matcher(...).match`` over a
   seeded corpus with i.i.d. roles (so same-role runs exist), each
   conversation cut into fixed-size runs as a micro-batch delivers them,
   with the state carried from run to run. Three skip patterns: plain
   (u=user → s=tool/search → a=assistant, within 12 turns), guarded (the
   same plus no tool/code between u and s) and quantified (u → 2+
   consecutive tool turns → a). ``--matcher-ab`` runs one leg per (head,
   pattern) in a fresh interpreter that imports the package from that
   head, alternating the head order pair by pair, and records every leg's
   wall time, match count and match checksum.

Usage: python tools/cep_bench.py [--rows 4000000] [--convs 20000]
       [--cpus 32] [--reps 3] [--workdir /dev/shm/cepbench]
       [--batch-only [--out <file>]]
       python tools/cep_bench.py --matcher-ab parent=<checkout> change=<repo>
       [--pairs 10] [--out BENCH/ab_cep_skip.json]
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
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def _stream_leg(
    src: str, cpus: int, workdir: str, pattern: str | None, extra: list | None = None
) -> dict:
    out = os.path.join(workdir, "out-leg")
    ckpt = os.path.join(workdir, "ckpt-leg")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    cmd = [
        sys.executable,
        os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--source", src,
        "--out", out,
        "--checkpoint", ckpt,
        "--available-now",
        "--max-files-per-trigger", "8",
        "--master", f"local[{cpus}]",
        "--n-shards", "256",
    ]
    if pattern:
        cmd += ["--pattern", pattern]
    if extra:
        cmd += extra
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"leg failed: {proc.stderr[-2000:]}")
    r = json.loads(lines[-1])
    # tmpfs IS RAM — remove leg outputs immediately
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return r


MATCHER_PATTERNS = ("plain", "guarded", "quant")
# 2000 conversations of 30-90 turns, delivered 8 turns per run
MATCHER_CORPUS = {"n_convs": 2000, "turns": 60, "batch_turns": 8}


def _matcher_runs(n_convs: int, turns: int, batch_turns: int, seed: int = 7):
    """Per conversation, its (run, final) pieces in delivery order."""
    import numpy as np

    rng = np.random.default_rng(seed)
    roles = np.array(["user", "assistant", "tool"], object)
    tools = np.array(["search", "code"], object)
    out = []
    for _ in range(n_convs):
        n = int(rng.integers(turns // 2, turns * 3 // 2 + 1))
        role = rng.choice(roles, n, p=[0.3, 0.4, 0.3])
        conv = {
            "turn_idx": np.arange(1, n + 1, dtype=np.int64),
            "role": role,
            "tool": np.where(role == "tool", rng.choice(tools, n), None),
            "ts_us": np.cumsum(rng.integers(1, 6, n)).astype(np.int64) * 1_000_000,
        }
        cuts = list(range(0, n, batch_turns)) + [n]
        out.append([
            ({c: v[a:b] for c, v in conv.items()}, b == n)
            for a, b in zip(cuts, cuts[1:])
        ])
    return out


def _matcher_leg(package_root: str, pattern: str, reps: int) -> dict:
    """Time one skip pattern's stream matcher over the corpus, importing the
    package from ``package_root``."""
    sys.path.insert(0, package_root)
    from dataflow_ordered_processing_spark.operators.cep_core import (
        Step,
        Times,
        stream_matcher,
    )

    u, a = Step("u", role="user"), Step("a", role="assistant")
    mid = Step("s", role="tool", tool="search")
    if pattern == "quant":
        mid = Times(Step("t", role="tool"), 2, None)
    guards = {0: Step("g", role="tool", tool="code")} if pattern == "guarded" else None
    matcher = stream_matcher((u, mid, a), "skip", None, 12, guards)
    convs = _matcher_runs(**MATCHER_CORPUS)
    walls = []
    for _ in range(reps):
        found = []
        t0 = time.perf_counter()
        for runs in convs:
            state = None
            for run, final in runs:
                m, state = matcher.match(run, state, final=final)
                found.append(m)
        walls.append(time.perf_counter() - t0)
    pairs = sorted(
        (int(s), int(e)) for m in found for s, e in zip(m["start_idx"], m["end_idx"])
    )
    return {
        "wall_s": round(statistics.median(walls), 4),
        "calls": sum(len(r) for r in convs),
        "matches": len(pairs),
        "checksum": hash(tuple(pairs)) & 0xFFFFFFFF,
    }


def _matcher_ab(args) -> dict:
    heads = [h.split("=", 1) for h in args.matcher_ab]
    legs = []
    for rep in range(args.pairs):
        for pattern in MATCHER_PATTERNS:
            for name, root in heads if rep % 2 == 0 else heads[::-1]:
                proc = subprocess.run(
                    [
                        sys.executable, os.path.abspath(__file__),
                        "--matcher-leg", pattern, "--package-root", root,
                        "--reps", str(args.reps),
                    ],
                    capture_output=True, text=True, check=True,
                )
                r = json.loads(proc.stdout.strip().splitlines()[-1])
                legs.append({"variant": name, "rep": rep, "pattern": pattern, **r})
                print(legs[-1], file=sys.stderr)
    summary = {}
    for pattern in MATCHER_PATTERNS:
        for name, _ in heads:
            mine = [l for l in legs if l["pattern"] == pattern and l["variant"] == name]
            q1, med, q3 = statistics.quantiles([l["wall_s"] for l in mine], n=4)
            summary[f"{pattern}/{name}"] = {
                "median_s": round(med, 4),
                "q1_s": round(q1, 4),
                "q3_s": round(q3, 4),
                "matches": sorted({l["matches"] for l in mine}),
                "checksums": sorted({l["checksum"] for l in mine}),
            }
    config = {"pairs": args.pairs, "reps": args.reps, **MATCHER_CORPUS}
    return {"cpus": os.cpu_count(), "config": config, "legs": legs,
            "summary": summary}


def _grouped_skip(df, steps, within_s):
    """Skip mode through groupBy(conv_id).applyInPandas: one match_skip
    call per group, predicates evaluated in Spark as plans/cep does."""
    import pandas as pd
    from pyspark.sql import functions as F

    from dataflow_ordered_processing_spark.operators.cep_core import (
        ColumnStep,
        match_skip,
    )

    csteps = tuple(ColumnStep(s.name, f"_p{i}") for i, s in enumerate(steps))
    narrow = df.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        *[
            F.coalesce(F.expr(s.sql), F.lit(False)).alias(f"_p{i}")
            for i, s in enumerate(steps)
        ],
    )

    def per_conv(pdf):
        pdf = pdf.sort_values("turn_idx")
        run = {c: pdf[c].to_numpy() for c in pdf.columns}
        m, _ = match_skip(csteps, run, within_us=within_s * 10**6, final=True)
        n = len(m["start_idx"])
        return pd.DataFrame({"conv_id": run["conv_id"][:1].repeat(n),
                             "start_idx": m["start_idx"], "end_idx": m["end_idx"]})

    return narrow.groupBy("conv_id").applyInPandas(
        per_conv, "conv_id string, start_idx long, end_idx long"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--convs", type=int, default=20_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--workdir", default=None)
    ap.add_argument(
        "--batch-only",
        action="store_true",
        help="run only the batch legs and merge them into an existing "
        "BENCH/cep.json (keeps its stream sections)",
    )
    ap.add_argument("--matcher-ab", nargs="+", metavar="NAME=PATH",
                    help="interleaved A/B of the stream matcher leg across heads")
    ap.add_argument("--matcher-leg", choices=MATCHER_PATTERNS, help=argparse.SUPPRESS)
    ap.add_argument("--package-root", default=REPO, help=argparse.SUPPRESS)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    if args.matcher_leg:
        print(json.dumps(_matcher_leg(args.package_root, args.matcher_leg, args.reps)))
        return 0
    if args.matcher_ab:
        result = _matcher_ab(args)
        if args.out:
            with open(args.out, "w") as f:
                json.dump(result, f, indent=1)
        print(json.dumps(result["summary"], indent=1))
        return 0

    from scaling_bench import generate_input

    workdir = args.workdir or tempfile.mkdtemp(prefix="cepbench-")
    src = os.path.join(workdir, "src")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        n = generate_input(src, args.rows, args.convs, cpus=args.cpus)
        print(f"generated {n} rows at {src}", file=sys.stderr)

    # ---- batch legs (one session; input cached + materialized first)
    from dataflow_ordered_processing_spark.operators.cep_core import Step
    from dataflow_ordered_processing_spark.plans.cep import match_pattern
    from dataflow_ordered_processing_spark.session import get_spark

    spark = get_spark(
        "cep-bench", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus
    )
    df = spark.read.parquet(src).repartition(args.cpus).cache()
    n_rows = df.count()  # materialize the cache

    strict_steps = [
        Step("u", role="user"),
        Step("a", role="assistant"),
        Step("t", role="tool"),
    ]
    skip_steps = [
        Step("u", role="user"),
        Step("s", role="tool", tool="search"),
        Step("a", role="assistant"),
    ]
    # quantified (r7): a maximal run of >=3 "flagged" turns then a user
    # turn — runs found by match_skip per conversation. The flag is a
    # deterministic md5 predicate (geometric run lengths; the corpus role
    # column cycles, so same-role runs can't exercise a quantifier).
    from __spark_entry__ import _CEP_TIMES_FLAG  # the gate's exact flag
    from dataflow_ordered_processing_spark.operators.cep_core import Times

    times_steps = [Times(("h", _CEP_TIMES_FLAG), 3, None), Step("u", role="user")]

    batch = {}
    for name, plan in (
        ("strict", lambda: match_pattern(df, strict_steps, mode="strict")),
        ("skip", lambda: match_pattern(df, skip_steps, mode="skip", within=100_000)),
        ("skip_grouped", lambda: _grouped_skip(df, skip_steps, 100_000)),
        (
            "skip_times",
            lambda: match_pattern(
                df, times_steps, mode="skip", within_turns=12
            ),
        ),
    ):
        walls, matches = [], None
        for _ in range(args.reps):
            t0 = time.time()
            matches = plan().count()
            walls.append(round(time.time() - t0, 2))
        med = statistics.median(walls)
        batch[name] = {
            "walls_s": walls,
            "median_s": med,
            "rows_per_sec": round(n_rows / med, 1),
            "matches": matches,
        }
        print(f"batch {name}: {batch[name]}", file=sys.stderr)
    spark.stop()

    if args.batch_only:
        path = args.out or os.path.join(REPO, "BENCH", "cep.json")
        result = {}
        if os.path.exists(path):
            with open(path) as f:
                result = json.load(f)
        result.update({"rows": n_rows, "convs": args.convs, "cpus": args.cpus})
        result["batch"] = batch
        with open(path, "w") as f:
            json.dump(result, f, indent=2)
        print(json.dumps(result))
        return 0

    # ---- streaming overhead: interleaved off/on reps, fresh JVM per leg
    legs = {"off": [], "on": [], "on_skip": []}
    # on_skip (r7): the streaming skip-till-next frontier matcher — same
    # funnel pattern+bound as the batch skip leg, through the full sharded
    # pipeline
    variants = (
        ("off", None, None),
        ("on", "u=user,a=assistant,c=tool", None),
        (
            "on_skip",
            "u=user,s=tool/search,a=assistant",
            ["--pattern-mode", "skip", "--pattern-within-s", "100000"],
        ),
    )
    for _ in range(args.reps):
        for key, pattern, extra in variants:
            r = _stream_leg(src, args.cpus, workdir, pattern, extra)
            legs[key].append(r["turns_per_sec"])
            print(f"stream {key}: {r}", file=sys.stderr)
    med_off = statistics.median(legs["off"])
    med_on = statistics.median(legs["on"])
    med_on_skip = statistics.median(legs["on_skip"])

    result = {
        "rows": n_rows,
        "convs": args.convs,
        "cpus": args.cpus,
        "reps": args.reps,
        "batch": batch,
        "stream_turns_per_sec_off": legs["off"],
        "stream_turns_per_sec_on": legs["on"],
        "stream_turns_per_sec_on_skip": legs["on_skip"],
        "stream_median_off": med_off,
        "stream_median_on": med_on,
        "stream_median_on_skip": med_on_skip,
        "stream_matcher_overhead_pct": round(100.0 * (1 - med_on / med_off), 1),
        "stream_skip_matcher_overhead_pct": round(
            100.0 * (1 - med_on_skip / med_off), 1
        ),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "cep.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
