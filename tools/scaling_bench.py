"""Scaling-efficiency evidence (north_rule): run the IDENTICAL ordered
pipeline on the SAME input at two parallelism levels (local[N] and local[4N]
— the sandbox stand-in for N vs 4N executors) and report throughput at both
plus efficiency = (T_4N / T_N) / 4.

Each leg is a fresh `spark-submit`-equivalent subprocess (own JVM, fresh
checkpoint) running jobs/run_pipeline.py — the same entrypoint a cluster
would submit. Results → BENCH/scaling_sharded_<N>_<4N>.json (+ printed table).

Usage: python tools/scaling_bench.py [--rows 2000000] [--convs 20000]
       [--n 8] [--4n 32] [--legs 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def generate_input(out_dir: str, rows: int, convs: int, cpus: int = 32, files: int = 64) -> int:
    """Deterministic skewed out-of-order transcript arrivals, generated
    fully vectorized in Spark (one pass, no driver loops) — turn counts
    ∝ 1-(i/n)^2 (the reference simulator's skew law, Simulator.java:61-69),
    arrival order = seeded hash shuffle."""
    from pyspark.sql import functions as F

    from dataflow_ordered_processing_spark.session import get_spark

    spark = get_spark("gen", master=f"local[{cpus}]", shuffle_partitions=cpus)
    # skew weights w_i = 1-(i/n)^2; turns_i ≈ rows * w_i / sum(w)
    # sum(w) = n - (sum i^2)/n^2 ≈ n * 2/3
    base = spark.range(convs).select(
        F.col("id").alias("conv"),
        (
            (F.lit(rows) * (1 - (F.col("id") / convs) ** 2) / (convs * 2.0 / 3.0))
            .cast("long")
            + 2
        ).alias("n_turns"),
    )
    turns = base.select(
        "conv", F.explode(F.sequence(F.lit(1), F.col("n_turns"))).alias("turn_idx")
    )
    t = turns.select(
        F.concat(F.lit("conv-"), F.lpad(F.col("conv").cast("string"), 6, "0")).alias(
            "conv_id"
        ),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("conv"),
    ).select(
        "conv_id",
        "turn_idx",
        F.when(F.col("turn_idx") % 3 == 1, "user")
        .when(F.col("turn_idx") % 3 == 2, "assistant")
        .otherwise("tool")
        .alias("role"),
        F.md5(F.concat_ws(":", F.col("conv_id"), F.col("turn_idx"))).alias("text"),
        F.when(
            F.col("turn_idx") % 3 == 0,
            F.element_at(
                F.array(F.lit("search"), F.lit("calc"), F.lit("code"), F.lit("browse")),
                (F.col("turn_idx") % 4 + 1).cast("int"),
            ),
        ).alias("tool"),
        (
            F.lit("2026-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("conv") * 7 + F.col("turn_idx") * 30)
        ).alias("ts"),
    )
    shuffled = t.orderBy(F.xxhash64("conv_id", "turn_idx", F.lit(42)))
    shuffled.repartition(files).write.mode("overwrite").parquet(out_dir)
    n = spark.read.parquet(out_dir).count()
    spark.stop()
    return n


N_SHARDS = 256
# micro-batch sizing: files are the unit of source parallelism under
# maxFilesPerTrigger — keep files_per_trigger >= the widest leg's cores or
# the parquet scan stage (not the engine) caps scaling at wide legs
FILES_PER_TRIGGER = 8


def run_leg(src: str, cpus: int, workdir: str, n_shards: int | None = None) -> dict:
    out = os.path.join(workdir, f"out-{cpus}")
    ckpt = os.path.join(workdir, f"ckpt-{cpus}")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    env = dict(os.environ)
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "run_pipeline.py"),
            "--source",
            src,
            "--out",
            out,
            "--checkpoint",
            ckpt,
            "--available-now",
            "--max-files-per-trigger",
            str(FILES_PER_TRIGGER),
            # NOTE: partitions intentionally track cores (Spark local-mode
            # default). A pinned-64-shards experiment measured ~160 ms fixed
            # cost PER STATE PARTITION PER BATCH (python worker + state
            # server handshake), which doubles total overhead at 64 shards
            # and halves 32-core throughput — on a real cluster state shards
            # stay fixed but that per-shard cost amortizes across executors'
            # long-lived workers.
            "--master",
            f"local[{cpus}]",
            # logical shard count FIXED across legs by default (production
            # streaming keeps its key space stable while executors scale);
            # the autotune scaling variant overrides it per leg to test
            # whether a pinned count flatters narrow legs (VERDICT r6 #4)
            "--n-shards",
            str(n_shards if n_shards is not None else N_SHARDS),
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=3600,
    )
    last = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    if not last:
        raise RuntimeError(f"leg local[{cpus}] produced no result: {proc.stderr[-2000:]}")
    # tmpfs IS RAM: delete each leg's outputs immediately or accumulated
    # sink/checkpoint dirs squeeze page cache and depress later legs
    # (round-2 methodology correction, BENCH/BASELINE.md)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return json.loads(last[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--convs", type=int, default=20_000)
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--four-n", type=int, default=32)
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--n-shards", type=int, default=256)
    ap.add_argument("--files", type=int, default=64, help="input file count (source split units)")
    ap.add_argument("--files-per-trigger", type=int, default=8)
    args = ap.parse_args()
    global N_SHARDS, FILES_PER_TRIGGER
    N_SHARDS = args.n_shards
    FILES_PER_TRIGGER = args.files_per_trigger

    workdir = args.workdir or tempfile.mkdtemp(prefix="scaling-")
    src = os.path.join(workdir, "src")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        n = generate_input(src, args.rows, args.convs, files=args.files)
        print(f"generated {n} arrival rows at {src}", file=sys.stderr)

    legs = {}
    for cpus in (args.n, args.four_n):
        r = run_leg(src, cpus, workdir)
        legs[cpus] = r
        print(f"local[{cpus}]: {r}", file=sys.stderr)

    def rate(leg):
        return leg.get("sustained_turns_per_sec") or leg["turns_per_sec"]

    tn, t4n = rate(legs[args.n]), rate(legs[args.four_n])
    eff = (t4n / tn) / (args.four_n / args.n)
    wall_eff = (
        legs[args.n]["turns_per_sec"]
        and (legs[args.four_n]["turns_per_sec"] / legs[args.n]["turns_per_sec"])
        / (args.four_n / args.n)
    )
    result = {
        "input_rows": legs[args.n]["rows_emitted"],
        "n_cpus": args.n,
        "four_n_cpus": args.four_n,
        "throughput_n": tn,
        "throughput_4n": t4n,
        "scaling_efficiency": round(eff, 3),
        "wall_clock_efficiency": round(wall_eff, 3),
        "legs": legs,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(
        os.path.join(REPO, "BENCH", f"scaling_sharded_{args.n}_{args.four_n}.json"), "w"
    ) as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
