"""Traced streaming driver: the same workload as ``jobs/run_pipeline.py``,
driven in-process through the public functions and configured the way
run_pipeline configures them, with spans recorded around each call.

    python3 perfbench/traced_stream.py <run_pipeline arguments> \\
        --workload NAME --trace-out FILE

Spans (in memory, written once at the end, before teardown):

- ``session.get_spark`` and run_pipeline's worker warm-up;
- per micro-batch, a ``foreachBatch`` wrapper: ``engine.stateful`` (persist
  and count of the batch: the stateful exchange plus the Python operator)
  apart from ``sink.split_sink`` (the unmodified ``split_sink(cfg)``);
- ``sink.read_sink`` (``read_sink`` plus count) and ``sink.sink_dirs``;
- a driver-side replay of the same per-trigger arrival groups through
  ``ordered_core.apply_batch`` (``core.replay``) and the CEP matcher
  (``cep.replay``).

A StreamingQueryListener keeps every progress record in full.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from common import PIPELINE, Spans, write_json


def _pipeline_module():
    spec = importlib.util.spec_from_file_location("run_pipeline", PIPELINE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _batch_files(ckpt: str) -> dict[int, list[str]]:
    """Source files per batch id, from the file source's checkpoint log."""
    log_dir = os.path.join(ckpt, "sources", "0")
    by_path: dict[str, int] = {}
    for name in sorted(os.listdir(log_dir)) if os.path.isdir(log_dir) else []:
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    by_path[e["path"]] = e["batchId"]
    groups: dict[int, list[str]] = {}
    for path, b in by_path.items():
        groups.setdefault(b, []).append(path.removeprefix("file://"))
    return {b: sorted(v) for b, v in sorted(groups.items())}


def replay(spans: Spans, groups: dict[int, list[str]], matcher) -> dict:
    """Feed each batch's arrivals, per conversation, through apply_batch and
    the matcher, on the driver. Spans carry the busy time of each layer."""
    from dataflow_ordered_processing_spark.operators import ordered_core as core

    states: dict = {}
    carries: dict = {}
    counts = {"emitted": 0, "match_rows": 0, "buffered_max": 0, "batches": len(groups)}
    for b, paths in groups.items():
        t = pq.read_table(paths).to_pandas()
        with spans.span("replay.batch", epoch=b) as s:
            cols = {c: t[c].to_numpy() for c in ("conv_id", "turn_idx", "role", "text", "tool")}
            cols["ts_us"] = core.ts_to_us(t["ts"]).to_numpy()
            order = np.argsort(cols["conv_id"], kind="stable")
            conv_sorted = cols["conv_id"][order]
            cuts = np.flatnonzero(conv_sorted[1:] != conv_sorted[:-1]) + 1
            core_s = cep_s = 0.0
            for ix in np.split(order, cuts) if len(order) else []:
                conv = cols["conv_id"][ix[0]]
                arrays = {c: cols[c][ix] for c in core.BUF_COLS}
                st = states.setdefault(conv, core.OrderedState())
                t0 = time.perf_counter()
                emitted = core.apply_batch(st, arrays, as_arrays=True)
                t1 = time.perf_counter()
                core_s += t1 - t0
                n = len(emitted["turn_idx"])
                counts["emitted"] += n
                if matcher is not None and n:
                    run = {c: emitted[c] for c in ("turn_idx", "role", "tool", "ts_us")}
                    matches, carry = matcher.match(run, carries.get(conv), final=st.complete)
                    cep_s += time.perf_counter() - t1
                    counts["match_rows"] += len(matches["start_idx"])
                    if st.complete:
                        carries.pop(conv, None)
                    else:
                        carries[conv] = carry
            counts["buffered_max"] = max(
                counts["buffered_max"], sum(x.buffered_count for x in states.values())
            )
        spans.add("core.replay", s["start"], s["start"] + core_s, parent=s["id"])
        spans.add("cep.replay", s["start"] + core_s, s["start"] + core_s + cep_s,
                  parent=s["id"])
    counts["duplicates"] = sum(x.duplicate_count for x in states.values())
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    for a in ("--source", "--out", "--checkpoint", "--master", "--engine", "--pattern",
              "--workload", "--trace-out"):
        ap.add_argument(a, required=a not in ("--pattern",))
    ap.add_argument("--trigger-s", type=float)
    ap.add_argument("--run-seconds", type=float)
    ap.add_argument("--max-files-per-trigger", type=int)
    ap.add_argument("--available-now", action="store_true")
    args = ap.parse_args()
    spans = Spans()
    progress: list[dict] = []
    result: dict = {"spans": spans.items, "progress": progress}
    with spans.span("process"):
        spark = drive(spans, args, progress, result)
    write_json(args.trace_out, result)  # before teardown
    with open(os.path.join(os.getcwd(), "progress.jsonl"), "w") as f:
        for p in progress:
            f.write(json.dumps(p) + "\n")
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    return 0


def drive(spans: Spans, args, progress: list, result: dict):
    rp = _pipeline_module()
    with spans.span("session.get_spark"):
        from dataflow_ordered_processing_spark.session import get_spark

        spark = get_spark("ordered-pipeline", master=args.master)
    from pyspark.sql.streaming import StreamingQueryListener

    from dataflow_ordered_processing_spark.operators.cep_core import stream_matcher
    from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA
    from dataflow_ordered_processing_spark.streaming import (
        OrderedStreamConfig,
        build_ordered_stream,
        resolve_n_shards,
    )
    from dataflow_ordered_processing_spark.streaming.sinks import (
        SinkConfig,
        _check_engine_marker,
        _pattern_spec,
        read_sink,
        sink_dirs,
        split_sink,
    )

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.streams.addListener(Capture())
    pattern = rp.parse_pattern(args.pattern) if args.pattern else None
    cfg = OrderedStreamConfig(pattern=pattern)
    sink = SinkConfig(
        data_path=os.path.join(args.out, "data"),
        dlq_path=os.path.join(args.out, "dlq"),
        checkpoint=args.checkpoint,
    )
    with spans.span("pipeline.warmup"):
        rp._warmup(spark)
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if args.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", args.max_files_per_trigger)
    src = reader.parquet(args.source)
    n_shards = resolve_n_shards(src, None) if args.engine == "sharded" else None
    _check_engine_marker(args.checkpoint, args.engine, n_shards,
                         _pattern_spec(pattern, None, "strict", None, None))
    unified = build_ordered_stream(src, cfg, engine=args.engine, n_shards=n_shards)
    write_batch = split_sink(sink)

    def traced_batch(batch_df, epoch_id):
        with spans.span("batch", epoch=epoch_id):
            with spans.span("engine.stateful", epoch=epoch_id) as s:
                persisted = batch_df.persist()
                s["rows"] = persisted.count()
            try:
                with spans.span("sink.split_sink", epoch=epoch_id):
                    write_batch(persisted, epoch_id)
            finally:
                persisted.unpersist()

    writer = (
        unified.writeStream.outputMode("append")
        .foreachBatch(traced_batch)
        .option("checkpointLocation", sink.checkpoint)
        .queryName("ordered-transcripts")
    )
    if args.available_now:
        writer = writer.trigger(availableNow=True)
    elif args.trigger_s:
        writer = writer.trigger(processingTime=f"{args.trigger_s} seconds")
    with spans.span("stream.run"):
        q = writer.start()
        if args.run_seconds:
            q.awaitTermination(args.run_seconds)
            q.stop()
        else:
            q.awaitTermination()
    with spans.span("sink.read_sink"):
        result["rows_read"] = read_sink(spark, sink.data_path).count()
    with spans.span("sink.sink_dirs"):
        dirs = sink_dirs(sink.data_path)
    result["visible_dirs"] = len(dirs)
    result["compact_dirs"] = sum(os.path.basename(d).startswith("compact=") for d in dirs)
    matcher = stream_matcher(pattern) if pattern else None
    with spans.span("replay"):
        result["replay"] = replay(spans, _batch_files(args.checkpoint), matcher)
    return spark


if __name__ == "__main__":
    sys.exit(main())
