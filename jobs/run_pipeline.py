"""Cluster entrypoint: spark-submit --py-files <package.zip> jobs/run_pipeline.py

Runs the ordered-transcript pipeline: streaming source directory (or Iceberg
table when a catalog is configured) → ordered processor → dual sink
(data + status) with checkpointing and the metrics listener.

    spark-submit --py-files dataflow_ordered_processing_spark.zip \\
        jobs/run_pipeline.py --source /data/arrivals --out /data/out \\
        --checkpoint /data/ckpt [--heartbeat-ms 60000] [--trigger-s 2] \\
        [--available-now]

The same entrypoint serves the scaling-efficiency runs (north_rule): submit
identical jobs at N and 4N executors and compare the turns/sec reported on
stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _warmup(spark) -> None:
    """Touch every Python worker once before the timed run (the package's
    one session warm-up; a no-op if get_spark already ran it)."""
    from dataflow_ordered_processing_spark import session

    session._warm_session(spark, spark.sparkContext.defaultParallelism)


def _hot_candidates(spark, data_path: str, threshold: int) -> set[str]:
    """Conversations whose status received_count reached the threshold in
    any committed epoch. ONE definition for both the startup detector and
    the end-of-run candidates report (review finding r4: keep them
    identical). Guards the crash window where the sink dir exists but no
    epoch is committed yet (sink_dirs == []) — read_sink on zero paths
    would raise."""
    from pyspark.sql import functions as F

    from dataflow_ordered_processing_spark.streaming.sinks import (
        read_sink,
        sink_dirs,
    )

    if not sink_dirs(data_path):
        return set()
    status = read_sink(spark, data_path, table="status")
    rows = (
        status.groupBy("conv_id")
        .agg(F.max("received_count").alias("rc"))
        .filter(F.col("rc") >= threshold)
        .collect()
    )
    return {r["conv_id"] for r in rows}


def _undrainable_removed_rows(spark, hot_raw: str, hot_ordered: str, hot: set) -> dict:
    """After a drain, raw rows ABOVE a conversation's release watermark for
    conversations absent from the NEW routed set are about to be lost
    forever: the replay after a reset only regenerates rows for keys that
    are still routed, and the retained main-stream checkpoint has already
    marked all source files processed, so nothing else will ever reprocess
    them (ADVICE r5). Returns {conv_id: n_lost_rows} — empty means the
    reset is safe."""
    from pyspark.sql import functions as F

    from dataflow_ordered_processing_spark.streaming.hotkey import read_hot_ordered
    from dataflow_ordered_processing_spark.streaming.sinks import read_raw

    raw = read_raw(spark, hot_raw)
    if raw is None:
        return {}
    released = read_hot_ordered(spark, hot_ordered)
    hi = (
        released.groupBy("conv_id").agg(F.max("turn_idx").alias("hi"))
        if released is not None
        else None
    )
    at_risk = raw if hi is None else (
        raw.join(F.broadcast(hi), "conv_id", "left").filter(
            F.col("hi").isNull() | (F.col("turn_idx") > F.col("hi"))
        )
    )
    if hot:
        at_risk = at_risk.filter(~F.col("conv_id").isin(sorted(hot)))
    rows = at_risk.groupBy("conv_id").agg(F.count("*").alias("n")).collect()
    return {r["conv_id"]: int(r["n"]) for r in rows}


def _check_hot_marker(
    spark, out_dir: str, ckpt_hot: str, hot_raw: str, hot: set, reset: bool
) -> None:
    """Pin the ROUTED KEY SET to the side-channel checkpoint (the hot-key
    analog of sinks._check_engine_marker). The set may not silently change:

    - GROWING it strands the new key: the existing side-channel checkpoint
      has already marked all prior source files processed, so the key's
      earlier turns never reach hot_raw and its salted prefix from turn 1
      never completes — zero rows released, forever, with no error.
    - SHRINKING it strands the removed key the other way: fresh keyed
      state in the main pipeline buffers its mid-conversation turns
      waiting for a turn 1 that already went down the side channel.

    Changing the set therefore requires --reset-hot-channel, which clears
    the side-channel checkpoint AND hot_raw so the NEXT run replays the
    whole source through the side channel (released rows already in
    hot_ordered are kept — the incremental pass drops re-delivered turns at
    or below each conversation's release watermark). Un-routing a LIVE
    conversation remains semantically unsupported; only un-route keys that
    have completed."""
    import json as _json
    import shutil

    if reset:
        if hot:
            # the replay after the reset only regenerates raw rows for keys
            # in the NEW routed set — rows of REMOVED keys still sitting in
            # hot_raw above their release watermark would be deleted with
            # nowhere to come back from (ADVICE r5). Drain the channel
            # first (releases every releasable row into hot_ordered), then
            # refuse if undrainable rows of removed keys remain (a gap —
            # e.g. a removed key whose turn 1 never arrived). The guard
            # runs BEFORE anything is deleted (review r5 #1: deleting the
            # side checkpoint/marker first would make a refused reset
            # unrecoverable — the advised 'keep the key routed' retry needs
            # both intact).
            has_files = os.path.isdir(hot_raw) and any(
                f.endswith(".parquet")
                for _, _, fs in os.walk(hot_raw)
                for f in fs
            )
            if has_files:
                from dataflow_ordered_processing_spark.streaming.hotkey import (
                    order_hot_channel,
                )

                hot_ordered = os.path.join(out_dir, "hot_ordered")
                order_hot_channel(spark, hot_raw, hot_ordered)
                lost = _undrainable_removed_rows(spark, hot_raw, hot_ordered, hot)
                if lost:
                    raise ValueError(
                        f"--reset-hot-channel would permanently lose "
                        f"unreleased rows of un-routed conversations {lost} "
                        "(rows above the release watermark, key absent from "
                        "the new --hot-keys set — the post-reset replay only "
                        "regenerates routed keys). Keep those keys routed "
                        "until their gaps close, or export the rows from "
                        f"{hot_raw!r} manually before resetting. Nothing "
                        "was deleted; the side-channel checkpoint and "
                        "routed-set marker are intact."
                    )
            shutil.rmtree(ckpt_hot, ignore_errors=True)
            shutil.rmtree(hot_raw, ignore_errors=True)
        else:
            # hot empty (routing being disabled): PRESERVE hot_raw — no
            # future replay would regenerate it, and it may hold routed
            # rows not yet released to hot_ordered (r4d review: deleting
            # here silently lost them). Drain offline with
            # tools/drain_hot_channel.py.
            shutil.rmtree(ckpt_hot, ignore_errors=True)
    from dataflow_ordered_processing_spark.streaming.sinks import epoch_dirs

    marker = os.path.join(ckpt_hot, "_hot_keys.json")
    current = sorted(hot)
    if not hot and not os.path.exists(marker):
        return  # routing never enabled here — nothing to pin or clear
    if hot and not os.path.exists(marker) and epoch_dirs(hot_raw):
        # r4e: a PRESERVED channel (left by a disable-reset) with no marker
        # — enabling routing now would replay the source into epoch ids
        # restarting at 0, and the epoch-idempotent raw sink would SKIP
        # every preserved epoch dir, silently stranding the new key's
        # replayed history. Refuse; reset deletes the stale channel (its
        # released rows live on in hot_ordered, and unreleased rows should
        # be drained first with tools/drain_hot_channel.py).
        raise ValueError(
            f"hot_raw at {hot_raw!r} holds committed epochs from a previous "
            "routing configuration but no routed-set marker exists (routing "
            "was disabled with --reset-hot-channel). Enabling routing over "
            "the preserved channel would silently skip replayed epochs. "
            "Drain it first (tools/drain_hot_channel.py), then re-run with "
            "--reset-hot-channel to clear it and replay the source."
        )
    if os.path.exists(marker):
        with open(marker) as f:
            prior = _json.load(f)
        if prior != current:
            grown = sorted(set(current) - set(prior))
            shrunk = sorted(set(prior) - set(current))
            raise ValueError(
                f"hot-key routed set changed (added {grown}, removed "
                f"{shrunk}) but the side-channel checkpoint {ckpt_hot!r} "
                "was built for the prior set. Added keys would be "
                "SILENTLY STRANDED (their history predates the checkpoint "
                "and never reaches hot_raw); removed keys would buffer "
                "forever in fresh keyed state. Re-run with "
                "--reset-hot-channel to clear the side-channel checkpoint "
                "and hot_raw and replay the source (already-released rows "
                "are kept and deduplicated by release watermark), or "
                "restore the prior --hot-keys set."
            )
    if not hot:
        return  # reset cleared the channel and routing is now disabled
    os.makedirs(ckpt_hot, exist_ok=True)
    with open(marker, "w") as f:
        _json.dump(current, f)


def _pred_val(v: str):
    """'user' → equality; 'user|assistant' → IN-set tuple; '' → None."""
    v = v.strip()
    if not v:
        return None
    if "|" in v:
        return tuple(x.strip() for x in v.split("|") if x.strip())
    return v


def parse_pattern(spec: str):
    """'u=user,a=assistant,c=tool/code' → tuple of cep_core.Step. Each step
    is name=role, name=role/tool, or name=/tool (tool-only predicate).
    Quantifiers (skip mode): append '*N' (exactly N consecutive), '*N+'
    (at least N), or '*N-M' (N to M) — e.g. 't=tool*3+,u=user' = a maximal
    run of >=3 consecutive tool turns then a user turn."""
    from dataflow_ordered_processing_spark.operators.cep_core import Step, Times

    steps = []
    for part in spec.split(","):
        part = part.strip()
        if not part or "=" not in part:
            raise ValueError(f"bad pattern step {part!r} (want name=role[/tool])")
        name, pred = part.split("=", 1)
        pred, _, quant = pred.partition("*")
        role, _, tool = pred.partition("/")
        step = Step(name.strip(), role=_pred_val(role), tool=_pred_val(tool))
        if quant:
            quant = quant.strip()
            if quant.endswith("+"):
                n_min, n_max = int(quant[:-1]), None
            elif "-" in quant:
                lo, hi = quant.split("-", 1)
                n_min, n_max = int(lo), int(hi)
            else:
                n_min = n_max = int(quant)
            step = Times(step, n_min, n_max)
        steps.append(step)
    if len(steps) < 2:
        # validate BEFORE the checkpoint marker is written: a 1-step
        # pattern would otherwise be pinned, fail inside the executors,
        # and poison the checkpoint against the corrected pattern
        raise ValueError("a pattern needs at least 2 steps")
    return tuple(steps)


def parse_not_between(spec: str) -> dict:
    """'0:g=tool/code,1:h=user' → {0: Step, 1: Step} (skip-mode negative
    guards; the segment index picks which step gap the guard watches)."""
    from dataflow_ordered_processing_spark.operators.cep_core import Step

    out = {}
    for part in spec.split(","):
        part = part.strip()
        seg, _, step_spec = part.partition(":")
        if not step_spec or "=" not in step_spec:
            raise ValueError(
                f"bad not_between entry {part!r} (want segment:name=role[/tool])"
            )
        name, pred = step_spec.split("=", 1)
        role, _, tool = pred.partition("/")
        out[int(seg)] = Step(name.strip(), role=_pred_val(role), tool=_pred_val(tool))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True, help="directory of arrival parquet files")
    ap.add_argument("--out", required=True, help="output base dir (data/, status/, dlq/)")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--heartbeat-ms", type=int, default=None)
    ap.add_argument(
        "--evict-idle-heartbeats",
        type=int,
        default=None,
        help="state TTL: evict a key after this many idle timer firings "
        "(requires --heartbeat-ms)",
    )
    ap.add_argument("--trigger-s", type=float, default=None)
    ap.add_argument("--available-now", action="store_true")
    ap.add_argument(
        "--run-seconds",
        type=float,
        default=None,
        help="run the stream for a fixed duration then stop (required for "
        "timer-driven modes: processAllAvailable never quiesces while "
        "processing-time timers keep scheduling batches)",
    )
    ap.add_argument("--master", default=None, help="override master (tests/bench only)")
    ap.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="pin the state/shuffle partition count (production streaming "
        "keeps state shards FIXED while executor counts scale — required "
        "for a fair N vs 4N comparison and for checkpoint compatibility)",
    )
    ap.add_argument(
        "--no-warmup",
        action="store_true",
        help="skip the python-worker warm-up pass (cold-start measurement)",
    )
    ap.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=None,
        help="split the bounded input into multiple micro-batches (enables "
        "sustained-throughput measurement over steady-state batches)",
    )
    # the shard-keyed engine is the only one; the option stays so existing
    # `--engine sharded` command lines keep working
    ap.add_argument("--engine", choices=["sharded"], default="sharded", help=argparse.SUPPRESS)
    ap.add_argument(
        "--export",
        choices=["avro", "json", "parquet"],
        default=None,
        help="after the run, bulk-export the ordered data table to "
        "<out>/export.<fmt> (Avro works jar-less via the built-in OCF "
        "writer) — the reference simulator's output-connector analog",
    )
    ap.add_argument(
        "--n-shards",
        type=int,
        default=None,
        help="state shard count; default 8 x defaultParallelism "
        "(measured sweet spot). PINNED to the checkpoint on first start: "
        "n_shards is baked into the state key, so resuming an existing "
        "checkpoint with a different value is refused (it would strand "
        "per-conversation state and break exactly-once)",
    )
    ap.add_argument(
        "--hot-keys",
        default=None,
        help="comma-separated conversation ids to route around the keyed "
        "streaming operator. SLA context: a mega-conversation in ANY "
        "keyed-state streaming engine (this one and the reference alike) "
        "serializes into a single task — throughput caps at one core's "
        "state-machine rate and buffer memory grows with the key's open "
        "gap (measured: BENCH/hot_key.json). Routed keys instead bypass "
        "state entirely into a raw side channel (<out>/hot_raw, epoch-"
        "idempotent) and are ordered AFTER the run by the DISTRIBUTED "
        "two-phase salted batch plan into <out>/hot_ordered — one key "
        "spread across the whole cluster. Incremental: each pass sorts and "
        "writes only turns past the conversation's prior release watermark "
        "(pass=<n> commit dirs). hot_ordered SUPERSEDES any earlier "
        "data-sink rows of routed conversations — read the combined output "
        "with streaming.hotkey.read_pipeline_output",
    )
    ap.add_argument(
        "--hot-key-threshold",
        type=int,
        default=None,
        help="detect hot conversations from the status table (status rows "
        "carry received_count): convs at/above the threshold in a PREVIOUS "
        "run/epoch are auto-added to --hot-keys at startup, and a "
        "hot_key_candidates report is printed after the run so the next "
        "run can route newly detected ones. Detection is run-to-run (keyed "
        "state cannot be migrated mid-stream — same property as the "
        "reference's keyed DoFn state)",
    )
    ap.add_argument(
        "--auto-hot-keys",
        action="store_true",
        help="with --hot-key-threshold: when startup detection changes the "
        "routed set (a conversation crossed the threshold in a previous "
        "run), perform the documented reset flow AUTOMATICALLY instead of "
        "failing on the routed-set marker — the side-channel checkpoint "
        "and hot_raw are cleared (drain-guarded: unreleased rows of "
        "un-routed keys still refuse) and this run replays the source "
        "through the side channel. Detection stays run-to-run (keyed "
        "state cannot migrate mid-stream); this flag just removes the "
        "manual --reset-hot-channel step between runs",
    )
    ap.add_argument(
        "--reset-hot-channel",
        action="store_true",
        help="clear the hot-key side-channel checkpoint and hot_raw before "
        "starting, so this run replays the WHOLE source through the side "
        "channel — required when the routed key set changes (see the "
        "routed-set marker error). Released rows in hot_ordered are kept; "
        "replayed turns at/below each conversation's release watermark "
        "are dropped by the incremental ordering pass",
    )
    ap.add_argument(
        "--status-keep-last",
        type=int,
        default=None,
        help="opt-in status-history retention at compaction time: folds "
        "prune status rows beyond the newest N per conversation (data "
        "rows are never pruned). Default keeps every status row — at a "
        "2 s trigger the status table dominates a long-lived sink, so "
        "production deployments that only need the latest few statuses "
        "per key should set this (e.g. 16)",
    )
    ap.add_argument(
        "--pattern",
        default=None,
        help="CEP: match a strict-contiguity pattern over the in-order "
        "emission and land the matches in the sink as row_type='match' "
        "rows (read back with read_sink(..., table='matches')). Comma-"
        "separated steps 'name=role' or 'name=role/tool' or 'name=/tool', "
        "e.g. 'u=user,a=assistant,c=tool/code'. The pattern is pinned in "
        "the checkpoint engine marker (the CEP state depends on it)",
    )
    ap.add_argument(
        "--pattern-within-s",
        type=int,
        default=None,
        help="CEP within bound: drop matches whose first-to-last turn "
        "timestamp span exceeds this many seconds",
    )
    ap.add_argument(
        "--pattern-mode",
        choices=("strict", "skip"),
        default="strict",
        help="CEP contiguity: 'strict' = consecutive turns (Flink `next`), "
        "'skip' = skip-till-next-match (Flink `followedBy` — the funnel "
        "mode; steps may have other turns between them). Pinned in the "
        "checkpoint marker (the two modes carry different state)",
    )
    ap.add_argument(
        "--pattern-within-turns",
        type=int,
        default=None,
        help="CEP skip mode: drop matches whose first-to-last turn_idx "
        "distance exceeds this (row-bounded funnel)",
    )
    ap.add_argument(
        "--pattern-not-between",
        default=None,
        help="CEP skip mode negative guards (Flink notFollowedBy): comma-"
        "separated 'segment:name=role[/tool]' entries, e.g. "
        "'0:g=tool/code' = no code tool call strictly between matched "
        "step 0 and step 1",
    )
    ap.add_argument(
        "--merge-on-key",
        action="store_true",
        help="paranoid exactly-once: additionally drop data rows at or below "
        "their conversation's sink high watermark (covers cross-epoch "
        "re-emission under eager state cleanup). O(batch) per epoch via the "
        "compact _keyidx high-watermark index — never re-reads the sink",
    )
    args = ap.parse_args()

    # CEP pattern: parse + conflict-check BEFORE the JVM spins up (and
    # before any checkpoint marker is written) so a bad invocation fails in
    # milliseconds with a clean error
    if args.auto_hot_keys and not args.hot_key_threshold:
        ap.error("--auto-hot-keys requires --hot-key-threshold")
    pattern = parse_pattern(args.pattern) if args.pattern else None
    not_between = (
        parse_not_between(args.pattern_not_between)
        if args.pattern_not_between
        else None
    )
    if pattern and (args.hot_keys or args.hot_key_threshold or args.auto_hot_keys):
        # routed conversations bypass the ordered engine (raw side channel →
        # salted batch ordering), which never runs the CEP matcher — their
        # matches would silently vanish from the sink (review r6c)
        raise SystemExit(
            "--pattern cannot be combined with hot-key routing: routed "
            "conversations are ordered by the salted batch path, which does "
            "not run the streaming matcher — their matches would be "
            "silently missing. Match routed conversations with the batch "
            "operator (plans/cep.match_pattern) over the hot channel "
            "output instead."
        )

    from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA
    from dataflow_ordered_processing_spark.session import get_spark
    from dataflow_ordered_processing_spark.streaming import (
        BufferMetricsListener,
        OrderedStreamConfig,
        start_ordered_pipeline,
    )
    from dataflow_ordered_processing_spark.streaming.sinks import (
        SinkConfig,
        export_table,
        raw_passthrough_sink,
        read_sink,
    )

    cfg = OrderedStreamConfig(
        status_heartbeat_ms=args.heartbeat_ms,
        evict_idle_after_heartbeats=args.evict_idle_heartbeats,
        pattern=pattern,
        pattern_within_s=args.pattern_within_s,
        pattern_mode=args.pattern_mode,
        pattern_within_turns=args.pattern_within_turns,
        pattern_not_between=not_between,
    )
    sink = SinkConfig(
        data_path=os.path.join(args.out, "data"),
        dlq_path=os.path.join(args.out, "dlq"),
        checkpoint=args.checkpoint,
        merge_on_key=args.merge_on_key,
        compact_status_keep_last=args.status_keep_last,
    )

    spark = get_spark(
        "ordered-pipeline", master=args.master, shuffle_partitions=args.shuffle_partitions
    )
    spark.streams.addListener(
        BufferMetricsListener(os.path.join(args.out, "metrics.jsonl"))
    )
    if not args.no_warmup:
        _warmup(spark)

    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if args.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", args.max_files_per_trigger)
    src = reader.parquet(args.source)

    # ---- hot-key routing (north_rule skew, streaming answer) ----
    hot: set[str] = set()
    if args.hot_keys:
        hot |= {k for k in args.hot_keys.split(",") if k}
    if args.hot_key_threshold:
        hot |= _hot_candidates(spark, sink.data_path, args.hot_key_threshold)
    hot_q = None
    hot_raw = os.path.join(args.out, "hot_raw")
    # the guard runs even with an EMPTY hot set: un-routing everything is
    # still a routed-set change the marker must refuse (or --reset-hot-
    # channel must clear) — review finding r4c
    reset = args.reset_hot_channel
    if args.auto_hot_keys:
        marker = os.path.join(args.checkpoint + "-hot", "_hot_keys.json")
        prior: set = set()
        if os.path.exists(marker):
            with open(marker) as f:
                prior = set(json.load(f))
        if hot != prior:
            # the documented reset flow, performed automatically; the
            # drain guard inside _check_hot_marker still refuses when an
            # un-routed key's unreleased rows would be lost
            reset = True
            print(json.dumps({
                "auto_hot_keys_reset": True,
                "added": sorted(hot - prior),
                "removed": sorted(prior - hot),
            }))
    _check_hot_marker(
        spark, args.out, args.checkpoint + "-hot", hot_raw, hot, reset
    )
    if hot:
        from pyspark.sql import functions as F

        hot_list = sorted(hot)
        print(json.dumps({"hot_keys_routed": hot_list}))
        hot_writer = (
            src.filter(F.col("conv_id").isin(hot_list))
            .writeStream.outputMode("append")
            .foreachBatch(raw_passthrough_sink(hot_raw))
            .option("checkpointLocation", args.checkpoint + "-hot")
            .queryName("hot-key-side-channel")
        )
        if args.available_now:
            hot_writer = hot_writer.trigger(availableNow=True)
        hot_q = hot_writer.start()
        # NULL keys stay in the MAIN stream (three-valued logic: a bare
        # ~isin is NULL for NULL keys, silently dropping the row from BOTH
        # channels — the sink's null_key DLQ check must still see it)
        src = src.filter(
            F.col("conv_id").isNull() | ~F.col("conv_id").isin(hot_list)
        )

    if args.available_now:
        trigger = {"availableNow": True}
    elif args.trigger_s:
        trigger = {"processingTime": f"{args.trigger_s} seconds"}
    else:
        trigger = {}

    t0 = time.time()
    q = start_ordered_pipeline(src, sink, cfg, args.n_shards, **trigger)
    if args.run_seconds:
        q.awaitTermination(args.run_seconds)
        q.stop()
    elif args.available_now:
        q.awaitTermination()
    else:
        q.processAllAvailable()
        q.stop()
    if hot_q is not None:
        if args.available_now:
            hot_q.awaitTermination()
        else:
            hot_q.processAllAvailable()
            hot_q.stop()
    wall = time.time() - t0

    hot_result = None
    if hot_q is not None:
        # order the accumulated side channel: incremental (only each conv's
        # suffix past its prior release watermark is sorted and written),
        # idempotent (pass=<n> commit dirs), distributed
        # two-phase salted plan. Read the combined output with
        # hotkey.read_pipeline_output — hot_ordered supersedes any earlier
        # data-sink rows of routed conversations.
        from dataflow_ordered_processing_spark.streaming.hotkey import (
            order_hot_channel,
        )

        t_hot = time.time()
        st = order_hot_channel(
            spark, hot_raw, os.path.join(args.out, "hot_ordered")
        )
        # report even when 0 rows released: "channel ran, released nothing"
        # is exactly the symptom an operator must be able to see (review
        # finding r4b)
        hot_result = {
            "hot_rows_ordered": st["rows_total"],
            "hot_rows_new": st["rows_new"],
            "hot_batch_wall_s": round(time.time() - t_hot, 2),
        }

    data = read_sink(spark, sink.data_path)
    if args.export:
        export_table(data, os.path.join(args.out, f"export.{args.export}"), args.export)
    n = data.count()
    result = {
        "rows_emitted": n,
        "wall_s": round(wall, 2),
        "turns_per_sec": round(n / wall, 1),
    }
    # sustained throughput: steady-state batches only (exclude batch 0 —
    # first-batch costs are one-time: planning, state-store open, source
    # listing). This is the rate a long-running stream settles at.
    try:
        rows, ms = 0, 0
        with open(os.path.join(args.out, "metrics.jsonl")) as f:
            for line in f:
                e = json.loads(line)
                if e.get("event") == "progress" and e["batchId"] >= 1 and e["numInputRows"]:
                    rows += e["numInputRows"]
                    ms += e["durationMs"].get("triggerExecution", 0)
        if rows and ms:
            result["sustained_rows"] = rows
            result["sustained_turns_per_sec"] = round(rows / (ms / 1000.0), 1)
    except OSError:
        pass
    if hot_result:
        result.update(hot_result)
    if args.hot_key_threshold:
        result["hot_key_candidates"] = sorted(
            _hot_candidates(spark, sink.data_path, args.hot_key_threshold) - hot
        )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
