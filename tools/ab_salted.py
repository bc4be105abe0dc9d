"""Interleaved A/B of ``operators.skew.salted_ordered_emit_batch`` on one
~1M-row mega-conversation, across two checkouts of this repo.

    python tools/ab_salted.py --heads old=<checkout> new=<checkout> \
        [--pairs 3] [--rows 1000000] [--cpus 4] [--block 1024] --out FILE

The input (tools.scaling_bench.generate_input, one conversation) is written
once; then every leg runs in a fresh process (fresh JVM) that imports the
package from its head's checkout, legs strictly alternating old/new. The
timed region is plan construction plus a noop-sink write of the output; an
untimed second pass records the leg's row count and an order-independent
checksum of every output column, compared across legs.
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


def _leg(head: str, inp: str, cpus: int, block: int) -> dict:
    sys.path.insert(0, head)
    from pyspark.sql import functions as F

    from dataflow_ordered_processing_spark.operators.skew import salted_ordered_emit_batch
    from dataflow_ordered_processing_spark.session import get_spark

    spark = get_spark("ab-salted", master=f"local[{cpus}]", shuffle_partitions=cpus)
    df = spark.read.parquet(inp)
    t0 = time.perf_counter()
    salted_ordered_emit_batch(df, block=block).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    out = salted_ordered_emit_batch(df, block=block)
    h = F.xxhash64(*out.columns).cast("decimal(38,0)")
    row = out.agg(F.count("*").alias("rows"), F.sum(h).alias("sum")).first()
    spark.stop()
    return {"wall_s": round(wall, 2), "rows": row["rows"], "checksum": str(row["sum"])}


def _run(args: list[str]) -> dict:
    proc = subprocess.run([sys.executable, os.path.abspath(__file__), *args],
                          capture_output=True, text=True, timeout=3600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(proc.stderr[-3000:])
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--heads", nargs=2, metavar="NAME=DIR")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--block", type=int, default=1024)
    ap.add_argument("--out")
    ap.add_argument("--leg", help=argparse.SUPPRESS)
    ap.add_argument("--gen", help=argparse.SUPPRESS)
    ap.add_argument("--input", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.leg:
        print(json.dumps(_leg(a.leg, a.input, a.cpus, a.block)))
        return 0
    if a.gen:
        sys.path.insert(0, REPO)
        from tools.scaling_bench import generate_input

        # one conversation of rows*1.5/1.5 + 2 turns (generate_input's skew law)
        print(json.dumps({"rows": generate_input(a.gen, a.rows * 2 // 3, 1, a.cpus, files=8)}))
        return 0

    heads = dict(h.split("=", 1) for h in a.heads)
    with tempfile.TemporaryDirectory(prefix="ab-salted-") as work:
        inp = os.path.join(work, "input")
        n_input = _run(["--gen", inp, "--rows", str(a.rows), "--cpus", str(a.cpus)])["rows"]
        legs = []
        for rep in range(a.pairs):
            for name, head in heads.items():
                leg = _run(["--leg", head, "--input", inp, "--cpus", str(a.cpus),
                            "--block", str(a.block)])
                legs.append({"variant": name, "rep": rep, **leg})
                print(json.dumps(legs[-1]), flush=True)
    record = {
        "rows_input": n_input,
        "cpus": a.cpus,
        "block": a.block,
        "heads": heads,
        "legs": legs,
        **{f"median_{n}_s": statistics.median(x["wall_s"] for x in legs if x["variant"] == n)
           for n in heads},
        "rows_identical": len({(x["rows"], x["checksum"]) for x in legs}) == 1,
    }
    with open(a.out, "w") as f:
        json.dump(record, f, indent=2)
    print(json.dumps({k: v for k, v in record.items() if k != "legs"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
