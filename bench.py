"""Benchmark harness — one JSON line on stdout.

Runs the engine's headline operators at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

  ordered_emit        batch ordering, pure-Catalyst plan (the scale path)
  ordered_stream      the REAL applyInPandasWithState streaming operator run
                      to completion (availableNow) over the damaged arrival
                      stream — reports ordered turns/sec; run twice in one
                      session, cold (`ordered_stream`), then warm
                      (`ordered_stream_sharded`)
  ordered_salted      two-phase skew plan
  windows/join/sessionize/dedup/minhash/topk — the analytics + data-pipeline
                      headliners

Output: {"metric": "...", "value": total_sec, "unit": "sec",
         "queries": {name: sec}, "sf": ..., "ordered_turns_per_sec": ...,
         "staging_spread_p99_s": ..., "session_s": ..., "process_wall_s": ...}

`value` sums the timed queries only. `session_s` is the get_spark() time
(JVM launch, plus the session warm-up under SPARK_GRAFT_WARM=1) and
`process_wall_s` runs from the top of this script, before pyspark is
imported, to the JSON line: the end-to-end figure.

`staging_spread_p99_s` is NOT emission latency: it is the p99 spread of
ingest_ts over a run that replays pre-staged history as fast as triggers
allow, so it measures staging cadence (run length / trigger count), not how
long a live turn waits to be emitted. The real arrival-relative measurement
is perfbench's `live` workload (`emit_latency_p50_s`, `emit_latency_p99_s`):
`python3 perfbench/run.py --workload live --seed 1 --seconds 30`.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

_T0 = time.time()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from dataflow_ordered_processing_spark.session import get_spark
    from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA
    from dataflow_ordered_processing_spark.streaming import ordered_stream
    from dataflow_ordered_processing_spark.streaming.ordered_stream import split_output

    t_session = time.time()
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    session_s = time.time() - t_session

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def run(name: str, fn):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        timings[name] = round(dt, 3)
        return out

    # --- batch ordering (count() forces the full plan)
    n_turns = run("ordered_emit", lambda: E._q_ordered_emit(spark, sf_dir).count())
    run("ordered_salted", lambda: E._q_ordered_emit_salted(spark, sf_dir).count())
    run("ordered_status", lambda: E._q_ordered_status(spark, sf_dir).count())

    # --- the streaming operator end-to-end: stage arrival files, stream with
    # availableNow, measure ordered rows / wall-clock
    stage = tempfile.mkdtemp(prefix="bench-src-")
    arrival = E._arrival_df(spark, sf_dir)
    arrival.repartition(cpus).write.mode("overwrite").parquet(stage)
    n_arrival = spark.read.parquet(stage).count()

    def stream_run(out_name, n_shards=None):
        src = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stage)
        q = (
            ordered_stream(src, n_shards=n_shards)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(out_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        data, _ = split_output(spark.table(out_name))
        return data.count()

    # one engine, run cold, then warm (both at 8 × cpus shards on
    # local[cpus]); the leaf names are kept so the trajectory stays comparable
    emitted = run("ordered_stream", lambda: stream_run("bench_stream_out"))
    run("ordered_stream_sharded", lambda: stream_run("bench_sharded_out", cpus * 8))
    extras["sharded_turns_per_sec"] = round(
        n_arrival / timings["ordered_stream_sharded"], 1
    )
    # throughput = ARRIVAL turns ingested+ordered per second (the damage
    # predicate buffers gapped turns by design, so emitted < ingested)
    extras["ordered_turns_per_sec"] = round(n_arrival / timings["ordered_stream"], 1)
    extras["ordered_rows_ingested"] = n_arrival
    extras["ordered_rows_emitted"] = emitted
    extras["batch_ordered_turns_per_sec"] = round(n_arrival / timings["ordered_emit"], 1)
    extras["batch_rows_emitted"] = n_turns

    # p99 emission latency: micro-batch latency proxy on the batch path is 0;
    # measure on a short real pipeline with parquet sink + ingest_ts
    from dataflow_ordered_processing_spark.streaming.sinks import (
        SinkConfig,
        read_sink,
        start_ordered_pipeline,
    )

    sink_dir = tempfile.mkdtemp(prefix="bench-sink-")

    def latency_run():
        src = spark.readStream.schema(TRANSCRIPT_SCHEMA).option(
            "maxFilesPerTrigger", max(1, cpus // 4)
        ).parquet(stage)
        cfgS = SinkConfig(
            data_path=os.path.join(sink_dir, "data"),
            checkpoint=os.path.join(sink_dir, "ckpt"),
        )
        q = start_ordered_pipeline(src, cfgS, n_shards=cpus * 8)
        q.processAllAvailable()
        q.stop()
        sunk = read_sink(spark, cfgS.data_path)
        # p99 ingest_ts spread relative to run start. This replays STAGED
        # history, so the number is bounded by staging cadence (trigger
        # count × micro-batch time), not by per-turn wait — hence the
        # honest name. For real in-order emission latency (arrival-relative)
        # see perfbench's `live` workload: emit_latency_p50_s / _p99_s.
        row = sunk.agg(
            F.expr(
                "percentile_approx(unix_timestamp(ingest_ts), array(0.99D), 10000)"
            )[0].alias("p99"),
            F.min(F.unix_timestamp("ingest_ts")).alias("t0"),
            F.count("*").alias("n"),
        ).collect()[0]
        extras["staging_spread_p99_s"] = float(row["p99"] - row["t0"])
        return row["n"]

    run("ordered_pipeline_sink", latency_run)

    # --- analytics + data-pipeline headliners
    run("tumbling_tool_counts", lambda: E._q_tumbling(spark, sf_dir).count())
    run("sliding_turn_rate", lambda: E._q_sliding(spark, sf_dir).count())
    run("session_windows", lambda: E._q_session(spark, sf_dir).count())
    run("user_assistant_pairs", lambda: E._q_user_assistant(spark, sf_dir).count())
    run("events_sessionize", lambda: E._q_events_sessionize(spark, sf_dir).count())
    run("role_rollup", lambda: E._q_role_rollup(spark, sf_dir).count())
    run("trailing_avg", lambda: E._q_trailing_avg(spark, sf_dir).count())
    run("dedup_exact", lambda: E._q_dedup_exact(spark, sf_dir).count())
    run("minhash_lsh_pairs", lambda: E._q_minhash_pairs(spark, sf_dir).count())
    run("ngram_jaccard", lambda: E._q_ngram_jaccard(spark, sf_dir).count())
    run("simhash", lambda: E._q_simhash(spark, sf_dir).count())
    run("text_stats", lambda: E._q_quality(spark, sf_dir).count())
    run("brute_force_topk", lambda: E._q_brute_topk(spark, sf_dir).count())
    run("lsh_topk", lambda: E._q_lsh_topk(spark, sf_dir).count())
    run("ivf_topk", lambda: E._q_ivf_topk(spark, sf_dir).count())
    run("dedup_pipeline", lambda: E._q_dedup_pipeline(spark, sf_dir).count())
    run("training_mix", lambda: E._q_training_mix(spark, sf_dir).count())
    run("multimodal_features", lambda: E._q_multimodal_features(spark, sf_dir).count())
    run("vocab_topk", lambda: E._q_vocab_topk(spark, sf_dir).count())
    run("pricing_summary", lambda: E._q_pricing_summary(spark, sf_dir).count())
    run("revenue_by_nation", lambda: E._q_revenue_by_nation(spark, sf_dir).count())
    run("doc_length_stats", lambda: E._q_doc_length_stats(spark, sf_dir).count())
    run("stream_dedup", lambda: E._q_stream_dedup(spark, sf_dir).count())
    run("cep_strict", lambda: E._q_cep_strict(spark, sf_dir).count())
    run("cep_funnel", lambda: E._q_cep_funnel(spark, sf_dir).count())
    # new in r7 (suite grows by one cheap batch query; the streaming skip
    # matcher's cost is covered by BENCH/cep.json's interleaved legs)
    run("cep_times", lambda: E._q_cep_times(spark, sf_dir).count())

    # staging is throwaway: leaving it accumulates in /tmp (or worse, tmpfs)
    # across bench runs — the round-2 contamination lesson
    import shutil

    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(sink_dir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # stop every query (and with it its state stores) before the JSON line,
    # so no teardown error can interleave with it
    for q in spark.streams.active:
        q.stop()
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                **extras,
                "session_s": round(session_s, 3),
                "process_wall_s": round(time.time() - _T0, 3),
            }
        ),
        flush=True,
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
