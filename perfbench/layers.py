"""Per-layer metrics of one traced repetition.

Each metric belongs to one module of the program; a layer a workload does
not run reports 0 (the streaming layers on hotkey_batch, the batch-plan
layers on the streaming workloads, CEP on the backfills, the feeder
outside live, the session warm-up outside hotkey_batch, which measures it
in a process of its own: warm_probe.py).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

from common import median

UNITS = {
    "session.get_spark_s": "s",
    "session.get_spark_warm_s": "s",
    "session.warm_s": "s",
    "proc.peak_rss_mb": "MB",
    "microbatch.count": "count",
    "microbatch.first_trigger_ms": "ms",
    "microbatch.trigger_ms_p50": "ms",
    "microbatch.trigger_ms_max": "ms",
    "microbatch.planning_ms_p50": "ms",
    "microbatch.wal_commit_ms_p50": "ms",
    "microbatch.commit_offsets_ms_p50": "ms",
    "microbatch.latest_offset_ms_p50": "ms",
    "microbatch.add_batch_ms_p50": "ms",
    "source.lag_rows_max": "rows",
    "feed.lag_p99_s": "s",
    "state.commit_ms_p50": "ms",
    "state.updates_ms_p50": "ms",
    "state.rows_total_max": "rows",
    "state.rows_updated_sum": "rows",
    "state.memory_bytes_max": "bytes",
    "engine.stateful_s": "s",
    "engine.rows_out": "rows",
    "core.replay_s": "s",
    "core.emitted": "rows",
    "core.duplicates": "rows",
    "core.buffered_max": "rows",
    "cep.replay_s": "s",
    "cep.match_rows": "rows",
    "sink.split_sink_s_p50": "s",
    "sink.split_sink_s_max": "s",
    "sink.epochs": "count",
    "sink.visible_dirs": "count",
    "sink.compact_dirs": "count",
    "sink.dlq_rows": "rows",
    "sink.read_s": "s",
    "batch_plan.construct_s": "s",
    "batch_plan.construct_jobs": "count",
    "batch_plan.execute_s": "s",
    "skew.salted_s": "s",
    "ordered_batch.cold_s": "s",
    "ordered_batch.single_phase_s": "s",
    "skew.exchanges": "count",
    "skew.windows": "count",
    "trace.drain_s": "s",
}


def _dur(spans: list[dict], name: str) -> list[float]:
    return [s["end"] - s["start"] for s in spans if s["name"] == name]


def _committed_rows(base: str) -> int:
    """Rows in every committed (``_SUCCESS``) directory under ``base``."""
    n = 0
    for d, _, files in os.walk(base):
        if "_SUCCESS" in files:
            n += sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                     for f in files if f.endswith(".parquet"))
    return n


def _p50(values) -> float:
    return median(values) if values else 0.0


def _streaming(rep: dict, trace: dict) -> dict:
    spans, prog = trace["spans"], trace["progress"]
    dm = [p.get("durationMs") or {} for p in prog]
    ops = [(p.get("stateOperators") or [{}])[0] for p in prog]
    batches = rep["progress"]
    consumed, lag = 0, 0
    published = [(at, rows) for _, at, rows in rep.get("feed", {}).get("published", [])]
    for b in batches:
        arrived = rep["staged_rows"] + sum(r for at, r in published if at <= b["start"])
        lag = max(lag, arrived - consumed)
        consumed += b["rows"]
    sink_s = _dur(spans, "sink.split_sink")
    replay = trace["replay"]
    return {
        "session.get_spark_s": sum(_dur(spans, "session.get_spark")),
        "microbatch.count": len(prog),
        "microbatch.first_trigger_ms": dm[0].get("triggerExecution", 0) if dm else 0,
        "microbatch.trigger_ms_p50": _p50([d.get("triggerExecution", 0) for d in dm]),
        "microbatch.trigger_ms_max": max((d.get("triggerExecution", 0) for d in dm), default=0),
        "microbatch.planning_ms_p50": _p50([d.get("queryPlanning", 0) for d in dm]),
        "microbatch.wal_commit_ms_p50": _p50([d.get("walCommit", 0) for d in dm]),
        "microbatch.commit_offsets_ms_p50": _p50([d.get("commitOffsets", 0) for d in dm]),
        "microbatch.latest_offset_ms_p50": _p50([d.get("latestOffset", 0) for d in dm]),
        "microbatch.add_batch_ms_p50": _p50([d.get("addBatch", 0) for d in dm]),
        "source.lag_rows_max": lag,
        "feed.lag_p99_s": rep.get("feed_lag_p99_s", 0.0),
        "state.commit_ms_p50": _p50([o.get("commitTimeMs", 0) for o in ops]),
        "state.updates_ms_p50": _p50([o.get("allUpdatesTimeMs", 0) for o in ops]),
        "state.rows_total_max": max((o.get("numRowsTotal", 0) for o in ops), default=0),
        "state.rows_updated_sum": sum(o.get("numRowsUpdated", 0) for o in ops),
        "state.memory_bytes_max": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
        "engine.stateful_s": sum(_dur(spans, "engine.stateful")),
        "engine.rows_out": sum(s.get("rows", 0) for s in spans if s["name"] == "engine.stateful"),
        "core.replay_s": sum(_dur(spans, "core.replay")),
        "core.emitted": replay["emitted"],
        "core.duplicates": replay["duplicates"],
        "core.buffered_max": replay["buffered_max"],
        "cep.replay_s": sum(_dur(spans, "cep.replay")),
        "cep.match_rows": replay["match_rows"],
        "sink.split_sink_s_p50": _p50(sink_s),
        "sink.split_sink_s_max": max(sink_s, default=0.0),
        "sink.epochs": len(sink_s),
        "sink.visible_dirs": trace["visible_dirs"],
        "sink.compact_dirs": trace["compact_dirs"],
        "sink.dlq_rows": _committed_rows(os.path.join(os.path.dirname(rep["log"]), "out", "dlq")),
        "sink.read_s": sum(_dur(spans, "sink.read_sink")),
        "trace.drain_s": rep["drain_s"],
    }


def _batch(rep: dict) -> dict:
    res = rep["result"]
    spans = res["spans"]
    return {
        "session.get_spark_s": sum(_dur(spans, "session.get_spark")),
        "batch_plan.construct_s": sum(_dur(spans, "batch_plan.construct")),
        "batch_plan.construct_jobs": res["construct_jobs"],
        "batch_plan.execute_s": sum(_dur(spans, "batch_plan.execute")),
        "skew.salted_s": sum(_dur(spans, "skew.salted")),
        "ordered_batch.cold_s": sum(_dur(spans, "ordered_batch.cold")),
        "ordered_batch.single_phase_s": sum(_dur(spans, "ordered_batch.single_phase")),
        "skew.exchanges": res["plan"]["exchanges"],
        "skew.windows": res["plan"]["windows"],
        "trace.drain_s": rep["drain_s"],
    }


def per_layer(workload: str, rep: dict) -> tuple[dict, dict]:
    """Every per-layer metric of a traced rep, and the spans and progress
    records to keep with the result."""
    values = dict.fromkeys(UNITS, 0.0)
    kept: dict = {}
    if "setup_s" in rep:
        if workload == "hotkey_batch":
            values.update(_batch(rep))
            kept["spans"] = rep["result"]["spans"]
        else:
            with open(rep["trace_file"]) as f:
                trace = json.load(f)
            values.update(_streaming(rep, trace))
            kept = {"spans": trace["spans"], "progress": trace["progress"]}
    if rep.get("warm_file") and os.path.exists(rep["warm_file"]):
        with open(rep["warm_file"]) as f:
            warm = json.load(f)["spans"]
        values["session.get_spark_warm_s"] = sum(_dur(warm, "session.get_spark_warm"))
        values["session.warm_s"] = sum(_dur(warm, "session.warm"))
        kept["warm_spans"] = warm
    values["proc.peak_rss_mb"] = rep.get("peak_rss_mb", 0.0)
    return values, kept
