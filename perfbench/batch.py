"""The hot-key batch workload: ``adaptive_ordered_emit_batch`` in a fresh
process, output written to parquet and checked against the ground truth.

The orchestrator side (``run_rep``) launches this file as a child:

    python3 perfbench/batch.py --input DIR --out DIR --result FILE [--trace]

The traced child also times plan construction apart from execution, runs
the salted plan on the hot rows and the single-phase plan on the cold rows
and on the whole input, and counts Exchange and Window operators in the
salted plan. Before it, a traced repetition times the session warm-up in a
process of its own (warm_probe.py).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

HOT_THRESHOLD = 100_000  # adaptive_ordered_emit_batch's default
WARM_ALLOW_S = 100.0  # the warm-up takes ~45 s on 4 cores


def run_rep(gen, work: str, trace: bool) -> dict:
    import oracle
    from common import (RUN_LIMIT_S, RssSampler, child_timeout, fresh_dir, run_child, spawn,
                        stop_session, wait_child)
    from gen import write_files

    fresh_dir(work)
    inp, out = os.path.join(work, "input"), os.path.join(work, "out")
    result = os.path.join(work, "result.json")
    write_files(gen, inp)
    warm = os.path.join(work, "warm.json")
    if trace:
        here = os.path.dirname(os.path.abspath(__file__))
        run_child([sys.executable, os.path.join(here, "warm_probe.py"), "--result", warm],
                  work, os.path.join(work, "warm.log"), child_timeout(WARM_ALLOW_S), warm=True)
    cmd = [sys.executable, os.path.abspath(__file__), "--input", inp, "--out", out,
           "--result", result]
    if trace:
        cmd.append("--trace")
    log_path = os.path.join(work, "child.log")
    launch = time.time()
    with open(log_path, "w") as log:
        proc = spawn(cmd + ["--launch", repr(launch)], work, log)
        rss = RssSampler(proc.pid) if trace else None
        try:
            if rss:
                rss.start()
            rc = wait_child(proc, child_timeout(RUN_LIMIT_S))
            exit_t = time.time()
        finally:
            if rss:
                peak_rss_mb = rss.stop()
            stop_session(proc.pid)
    rep = {"rc": rc, "launch": launch, "wall_s": exit_t - launch, "log": log_path,
           "attempted": gen.attempted}
    if rss:
        rep["peak_rss_mb"] = peak_rss_mb
    res = None
    if os.path.exists(result):
        with open(result) as f:
            res = json.load(f)
    actual = oracle.read_table([out], oracle.HASHED) if os.path.isdir(out) else None
    if rc != 0 or res is None or actual is None:
        return rep | {"failed": gen.attempted, "correct": False,
                      "actual": actual if actual is not None else gen.expected.iloc[:0]}
    v = oracle.verify(gen.expected, actual)
    order_s = res["order_end"] - res["order_start"]
    rep.update(
        check={k: x for k, x in v.items() if k != "ok"},
        failed=v["failed_turns"],
        correct=v["correct"],
        setup_s=res["get_spark_end"] - launch,
        drain_s=order_s,
        turns_per_s=gen.input_rows / order_s,
        input_turns=gen.input_rows,
        # one write: every turn becomes readable when it commits
        visible_s=order_s,
        actual=actual,
        result=res,
        trace_file=result if trace else None,
        warm_file=warm if trace else None,
    )
    return rep


def _plan_counts(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(re.findall(r"\b(?:Exchange|BroadcastExchange)\b", plan)),
        "windows": len(re.findall(r"(?m)^\W*Window\b", plan)),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--launch", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from common import Spans, write_json

    spans = Spans()
    with spans.span("process", start=args.launch):
        spark, res = _order(spans, args)
    write_json(args.result, res | {"spans": spans.items})  # before teardown
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    return 0


def _order(spans, args):
    from common import cpus

    with spans.span("session.get_spark"):
        from dataflow_ordered_processing_spark.session import get_spark

        spark = get_spark("hotkey-batch", master=f"local[{cpus()}]")
    from pyspark.sql import functions as F

    from dataflow_ordered_processing_spark.operators.ordered_batch import ordered_emit_batch
    from dataflow_ordered_processing_spark.operators.skew import (
        adaptive_ordered_emit_batch,
        hot_keys,
        salted_ordered_emit_batch,
    )
    from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA

    res = {"get_spark_end": time.time()}
    sc = spark.sparkContext
    df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(args.input)
    res["order_start"] = time.time()
    with spans.span("batch_plan.order"):
        sc.setJobGroup("construct", "plan construction")
        with spans.span("batch_plan.construct"):
            out = adaptive_ordered_emit_batch(df, hot_threshold=HOT_THRESHOLD)
        res["construct_jobs"] = len(sc.statusTracker().getJobIdsForGroup("construct"))
        sc.setJobGroup("execute", "plan execution")
        with spans.span("batch_plan.execute"):
            out.write.mode("overwrite").parquet(args.out)
    res["order_end"] = time.time()

    if args.trace:
        def noop(d):
            d.write.format("noop").mode("overwrite").save()

        hot = F.broadcast(hot_keys(df, HOT_THRESHOLD))
        with spans.span("skew.salted"):
            with spans.span("skew.salted.construct"):
                salted = salted_ordered_emit_batch(df.join(hot, "conv_id", "left_semi"))
            with spans.span("skew.salted.execute"):
                noop(salted)
        res["plan"] = _plan_counts(salted)
        with spans.span("ordered_batch.cold"):
            noop(ordered_emit_batch(df.join(hot, "conv_id", "left_anti"), impl="sql"))
        with spans.span("ordered_batch.single_phase"):
            noop(ordered_emit_batch(df, impl="sql"))
    return spark, res


if __name__ == "__main__":
    sys.exit(main())
