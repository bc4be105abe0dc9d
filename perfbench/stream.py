"""One streaming repetition: stage the inputs, launch the pipeline in a fresh
process, feed it on an absolute schedule (live), then read Spark's own
progress records and the sink back and score them.

Untraced repetitions run ``jobs/run_pipeline.py``, the production
entrypoint. Traced ones run ``traced_stream.py`` with the same arguments.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import sys
import threading
import time

import numpy as np

import oracle
from common import (PIPELINE, RssSampler, child_timeout, cpus, fresh_dir, quantile, spawn,
                    stop_session, wait_child)
from gen import Generated, write_files

HERE = os.path.dirname(os.path.abspath(__file__))
LIVE_PATTERN = "u=user,a=assistant,c=tool"
# live: how long batch 0 (cold workers, the stalled set) may take before
# the feed starts; how long after the last publish turns may commit; and
# the first feed seconds left out of the latency samples while batch times
# settle (their turns are still checked and counted)
BATCH0_ALLOW_S = 10.0
DRAIN_GRACE_S = 8.0
LIVE_WARMUP_S = 6.0
# allowances around a child's own run length: JVM launch and session
# set-up before it, read-back and teardown after it
SETUP_ALLOW_S = 60.0
TEARDOWN_ALLOW_S = 30.0
# closed-loop drains have no fixed length; they get what is left of the run
DRAIN_ALLOW_S = 150.0


def run_length(workload: str, feed_s: int) -> float:
    """How long the pipeline itself runs: live's --run-seconds."""
    return BATCH0_ALLOW_S + feed_s + DRAIN_GRACE_S + 2 if workload == "live" else DRAIN_ALLOW_S


def pipeline_args(workload: str, src: str, out: str, ckpt: str, feed_s: int) -> list[str]:
    args = ["--source", src, "--out", out, "--checkpoint", ckpt,
            "--master", f"local[{cpus()}]"]
    if workload == "live":
        return args + ["--engine", "sharded", "--trigger-s", "0.5",
                       "--pattern", LIVE_PATTERN,
                       "--run-seconds", str(run_length(workload, feed_s))]
    engine = "classic" if workload == "classic_backfill" else "sharded"
    return args + ["--available-now", "--engine", engine, "--max-files-per-trigger", "8"]


class Feeder(threading.Thread):
    """Publishes each staged file at its absolute due time (atomic rename
    into the source dir), whether or not the pipeline keeps up. The feed
    starts once batch 0 has committed."""

    def __init__(self, files: list[tuple[float, str, str, int]], ckpt: str, proc):
        super().__init__(daemon=True)
        self.files, self.ckpt, self.proc = files, ckpt, proc
        self.t0: float | None = None
        self.published: list[tuple[float, float, int]] = []  # (due_abs, at, rows)
        self.stop = threading.Event()

    def run(self) -> None:
        marker = os.path.join(self.ckpt, "commits", "0")
        while not os.path.exists(marker):
            if self.stop.is_set() or self.proc.poll() is not None:
                return
            time.sleep(0.02)
        self.t0 = time.time() + 0.5
        for due, staged, final, rows in self.files:
            at = self.t0 + due
            while (wait := at - time.time()) > 0:
                if self.stop.wait(min(wait, 0.2)):
                    return
            os.replace(staged, final)
            self.published.append((at, time.time(), rows))


def _progress(path: str) -> list[dict]:
    """Per-batch progress of the main query (batchId, start, end, rows)."""
    out = []
    if not os.path.exists(path):
        return out
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            if e.get("event", "progress") != "progress" or "batchId" not in e:
                continue
            start = dt.datetime.fromisoformat(e["timestamp"].replace("Z", "+00:00")).timestamp()
            d = e.get("durationMs") or {}
            out.append({**e, "start": start,
                        "end": start + d.get("triggerExecution", 0) / 1000.0,
                        "rows": e.get("numInputRows", 0)})
    out.sort(key=lambda b: b["batchId"])
    return out


def run_rep(workload: str, gen: Generated, work: str, trace: bool) -> dict:
    """Run one repetition; return its measurements and checks."""
    fresh_dir(work)
    src, stage = os.path.join(work, "src"), os.path.join(work, "stage")
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    os.makedirs(src)
    paths = write_files(gen, stage)
    feed = []
    for p, due, t in zip(paths, gen.due_s, gen.files):
        final = os.path.join(src, os.path.basename(p))
        if due is None:
            os.replace(p, final)
        else:
            feed.append((due, p, final, t.num_rows))
    feed_s = int(math.ceil(max([d for d, *_ in feed], default=0))) + 1
    args = pipeline_args(workload, src, out, ckpt, feed_s)
    if trace:
        cmd = [sys.executable, os.path.join(HERE, "traced_stream.py"), *args,
               "--workload", workload, "--trace-out", os.path.join(work, "trace.json")]
    else:
        cmd = [sys.executable, PIPELINE, *args]
    log_path = os.path.join(work, "child.log")
    launch = time.time()
    with open(log_path, "w") as log:
        proc = spawn(cmd, work, log)
        feeder = Feeder(feed, ckpt, proc) if feed else None
        rss = RssSampler(proc.pid) if trace else None
        try:
            if feeder:
                feeder.start()
            if rss:
                rss.start()
            rc = wait_child(proc, child_timeout(
                SETUP_ALLOW_S + run_length(workload, feed_s) + TEARDOWN_ALLOW_S))
            exit_t = time.time()
        finally:
            if feeder:
                feeder.stop.set()
                feeder.join()
            if rss:
                peak_rss_mb = rss.stop()
            stop_session(proc.pid)
    rep = {"rc": rc, "launch": launch, "wall_s": exit_t - launch, "log": log_path,
           "staged_rows": sum(t.num_rows for t, due in zip(gen.files, gen.due_s) if due is None)}
    if rss:
        rep["peak_rss_mb"] = peak_rss_mb
        rep["trace_file"] = os.path.join(work, "trace.json")
    prog_file = "progress.jsonl" if trace else os.path.join("out", "metrics.jsonl")
    batches = _progress(os.path.join(work, prog_file))
    rep["batches"] = len(batches)
    rep["batch_ms"] = [b.get("durationMs") for b in batches]
    actual = oracle.read_sink_data(os.path.join(out, "data"))
    v = oracle.verify(gen.expected, actual)
    rep["check"] = {k: x for k, x in v.items() if k != "ok"}
    rep["attempted"] = gen.attempted
    ok_rep = rc == 0 and bool(batches)
    if not ok_rep:
        # a crashed or unparseable run fails every turn it attempted
        rep["failed"] = gen.attempted
        rep["correct"] = False
        return rep | {"actual": actual}
    rep["failed"] = v["failed_turns"]
    rep["correct"] = v["correct"]
    b0 = batches[0]
    rep["setup_s"] = b0["start"] - launch
    data_batches = [b for b in batches if b["rows"]]
    starts = np.array([b["start"] for b in batches])
    ends = np.array([b["end"] for b in batches])
    ok = v["ok"]
    idx = np.searchsorted(starts, ok["ingest_us"].to_numpy() / 1e6 + 0.001, "right") - 1
    commit_end = ends[np.clip(idx, 0, len(ends) - 1)]
    n_exp_lat = len(gen.expected)
    if feeder is not None:
        if feeder.t0 is None:
            rep["failed"], rep["correct"] = gen.attempted, False
            return rep | {"actual": actual}
        due = ok["due"].to_numpy()
        fed = due >= 0
        commit_end, idx = commit_end[fed], idx[fed]
        lat = commit_end - (feeder.t0 + due[fed])
        deadline = feeder.t0 + feed_s + DRAIN_GRACE_S
        late = int((commit_end > deadline).sum())
        lat = np.where(commit_end > deadline, np.inf, lat)
        committed = int(np.isfinite(lat).sum())
        sampled = due[fed] >= LIVE_WARMUP_S
        n_exp_lat = int((gen.expected["due"] >= LIVE_WARMUP_S).sum())
        # a file listed between the trigger timestamp and the listing call
        # can land in that batch: allow the listing time
        dur = ends[idx] - starts[idx]
        lo_ms = np.array([(batches[i].get("durationMs") or {}).get("latestOffset", 0) for i in idx])
        rep["latency_violations"] = int((lat < dur - lo_ms / 1000.0 - 0.001).sum())
        lags = [at_real - at for at, at_real, _ in feeder.published]
        rep["feed_lag_p99_s"] = quantile(lags, 0.99) if lags else 0.0
        rep["feed_lag_max_s"] = max(lags, default=0.0)
        fed_rows = sum(r for *_, r in feeder.published)
        last_end = max((b["end"] for b in data_batches), default=feeder.t0)
        rep["drain_s"] = last_end - feeder.t0
        # open loop: the feed sets the offered rate; the sustained rate is
        # the turns committed by the drain deadline per second of feed
        rep["turns_per_s"] = committed / feed_s
        rep["input_turns"] = fed_rows
        rep["late_turns"] = late
        rep["failed"] += late
        # the run is invalid if the feeder fell a whole interval behind
        rep["correct"] = (rep["correct"] and rep["latency_violations"] == 0
                          and rep["feed_lag_max_s"] <= 1.0
                          and len(feeder.published) == len(feed))
        lat = lat[sampled]
        rep["feed"] = {"t0": feeder.t0, "published": feeder.published}
    else:
        # closed loop: the whole history is staged, so every turn is due
        # when the drain starts
        lat = commit_end - b0["start"]
        last_end = data_batches[-1]["end"] if data_batches else b0["end"]
        rep["drain_s"] = last_end - b0["start"]
        rep["turns_per_s"] = gen.input_rows / rep["drain_s"]
        rep["input_turns"] = gen.input_rows
    n_missing = n_exp_lat - len(lat)
    rep["latencies"] = np.concatenate([lat, np.full(max(0, n_missing), np.inf)])
    rep["progress"] = batches
    rep["actual"] = actual
    return rep
