"""Hot-key side-channel ordering: incremental, idempotent, supersede-aware.

A conversation routed with ``--hot-keys`` bypasses the keyed streaming
operator into a raw epoch sink (``sinks.raw_passthrough_sink``); this module
turns that accumulated raw channel into ordered output with three
properties the naive "re-sort everything each run" approach lacks
(round-4 review findings):

  incremental   each pass orders only turns ABOVE each conversation's
                previously released high watermark (the salted plan runs
                with ``initial_idx = hi + 1``), and writes only the new
                suffix — per-pass write volume is O(new rows), and the
                expensive sort runs only over the suffix. emit_seq and the
                running depth counters are offset by the prior release so
                the concatenated output is indistinguishable from one
                single-pass ordering.
  idempotent    output lands in monotone ``pass=<n>`` directories with the
                same _SUCCESS commit protocol as every other sink here; a
                sidecar meta records which raw-channel state each pass
                covered, so re-running against an unchanged raw channel is
                a no-op — by CONTENT comparison, immune to raw epoch-id
                reuse after a --reset-hot-channel replay.
  supersede     a routed conversation may have earlier turns already
                committed in the keyed data sink (routed from run 2
                onward: the side channel's fresh checkpoint replays the
                whole source). ``read_pipeline_output`` is the documented
                read path: hot_ordered is AUTHORITATIVE for routed
                conversations and their data-sink rows are excluded, so
                nothing double-counts.

The per-conversation loop below is a driver loop over the ROUTED KEY LIST —
bounded by the operator's own --hot-keys/--hot-key-threshold choice (a
handful of mega-keys), not by data volume; each iteration is a distributed
job over one conversation's suffix.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..locking import committed_dirs
from ..operators.ordered_batch import DEPTHS
from ..operators.skew import salted_ordered_emit_batch
from .sinks import epoch_dirs, read_raw

_OUT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "emit_seq", *DEPTHS]


def _raw_state(raw_path: str, committed: list[str]) -> dict:
    """No-op fingerprint of the raw channel. Must be CONTENT-aware: after
    --reset-hot-channel a replay restarts epoch ids at 0, so (max_epoch,
    n_epochs) alone can collide with a pre-reset pass covering different
    rows (caught by test_hot_key_supersede_and_incremental run 5). Digest
    the sorted (relative path, size) list of every committed file — still
    metadata-only (no data read), but collision-proof where a single byte
    TOTAL is not (ADVICE r5: distinct raw contents with equal totals
    collided and silently skipped ordering new rows; Spark part-file names
    embed a per-write UUID, so a replay with different rows always changes
    the file list)."""
    import hashlib

    entries: list[str] = []
    for d in committed:
        for root, _, files in os.walk(d):
            for fname in files:
                p = os.path.join(root, fname)
                entries.append(f"{os.path.relpath(p, raw_path)}:{os.path.getsize(p)}")
    return {
        "raw_max_epoch": max(int(p.rsplit("=", 1)[1]) for p in committed),
        "raw_epochs": len(committed),
        "raw_files_md5": hashlib.md5(";".join(sorted(entries)).encode()).hexdigest(),
    }


def read_hot_ordered(spark: SparkSession, out_path: str) -> DataFrame | None:
    """All released hot-channel rows across committed passes."""
    dirs = [p for _, p in committed_dirs(out_path, "pass")]
    if not dirs:
        return None
    return spark.read.option("basePath", out_path).parquet(*dirs).drop("pass")


def _write_meta(target: str, rows_new: int, rows_total: int, raw_state: dict) -> None:
    """Per-pass sidecar next to _SUCCESS: running release totals (so later
    passes never re-count historical dirs — review finding r4b) plus the
    RAW-CHANNEL STATE this pass covered (so no-op detection compares
    content, not directory names — immune to raw epoch-id reuse after a
    channel reset)."""
    with open(os.path.join(target, "_hot_meta.json"), "w") as f:
        json.dump({"rows_new": rows_new, "rows_total": rows_total, **raw_state}, f)


def _latest_meta(out_path: str) -> dict | None:
    dirs = committed_dirs(out_path, "pass")
    if not dirs:
        return None
    meta = os.path.join(dirs[-1][1], "_hot_meta.json")
    if not os.path.exists(meta):  # pre-meta layout: caller falls back
        return None
    with open(meta) as f:
        return json.load(f)


def order_hot_channel(
    spark: SparkSession, raw_path: str, out_path: str, block: int = 1024
) -> dict:
    """Order the raw side channel incrementally (see module docstring).
    Returns {"rows_total": all released rows, "rows_new": this pass}."""
    raw = read_raw(spark, raw_path)
    committed = epoch_dirs(raw_path)
    if raw is None or not committed:
        return {"rows_total": 0, "rows_new": 0}
    raw_state = _raw_state(raw_path, committed)
    passes = committed_dirs(out_path, "pass")
    meta = _latest_meta(out_path)
    if meta is not None and all(meta.get(k) == v for k, v in raw_state.items()):
        return {"rows_total": int(meta["rows_total"]), "rows_new": 0}
    # dir name = monotone PASS index, decoupled from raw epoch ids: a
    # --reset-hot-channel replay restarts raw epochs at 0, so raw state
    # must never name output dirs (the pass meta records what it covered)
    target = os.path.join(
        out_path, f"pass={passes[-1][0] + 1 if passes else 0}"
    )

    prior = read_hot_ordered(spark, out_path)
    if prior is None:
        ordered = salted_ordered_emit_batch(raw, block=block)
        ordered.write.mode("overwrite").parquet(target)
        n = spark.read.parquet(target).count()
        _write_meta(target, n, n, raw_state)
        return {"rows_total": n, "rows_new": n}

    # per-conv release state: high watermark + emit/depth offsets from the
    # last released row. One tiny collect over the (bounded) routed key set.
    # (max_by avoids a prior⋈prior self-join and its attribute-resolution
    # pitfalls: one aggregation, one row per conv.)
    last_rows = {
        r["conv_id"]: r
        for r in prior.groupBy("conv_id")
        .agg(
            F.max("turn_idx").alias("turn_idx"),
            F.max_by("emit_seq", "turn_idx").alias("emit_seq"),
            *[F.max_by(c, "turn_idx").alias(c) for c in DEPTHS],
        )
        .collect()
    }
    raw_convs = [r["conv_id"] for r in raw.select("conv_id").distinct().collect()]
    parts: list[DataFrame] = []
    for conv in raw_convs:
        st = last_rows.get(conv)
        if st is None:  # newly routed conversation: full order from turn 1
            parts.append(
                salted_ordered_emit_batch(
                    raw.filter(F.col("conv_id") == conv), block=block
                )
            )
            continue
        hi = int(st["turn_idx"])
        # suffix only: turns ≤ hi were released in a prior pass (prefix
        # release guarantees 1..hi complete) — the filter pushes down to
        # the raw parquet scan
        suffix = raw.filter((F.col("conv_id") == conv) & (F.col("turn_idx") > hi))
        ordered = salted_ordered_emit_batch(suffix, block=block, initial_idx=hi + 1)
        ordered = ordered.withColumn(
            "emit_seq", F.col("emit_seq") + F.lit(int(st["emit_seq"]))
        )
        for c in DEPTHS:
            ordered = ordered.withColumn(c, F.col(c) + F.lit(int(st[c])))
        parts.append(ordered)
    prior_total = int(meta["rows_total"]) if meta else prior.count()
    if not parts:
        return {"rows_total": prior_total, "rows_new": 0}
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.select(*_OUT_COLS).write.mode("overwrite").parquet(target)
    # passes that released nothing new still commit an (empty) pass marker
    # with the covered raw state, so no-op detection converges; totals
    # accumulate in the sidecar meta
    new = spark.read.parquet(target).count()
    total = prior_total + new
    _write_meta(target, new, total, raw_state)
    return {"rows_total": total, "rows_new": new}


def read_pipeline_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The documented combined read: the keyed data table with routed
    conversations SUPERSEDED by the hot channel (whose ordering is
    authoritative for them — data-sink rows for routed convs are earlier,
    partial releases of the same turns). Columns = data-table schema;
    hot-channel rows carry ingest_ts = NULL (they bypassed the sink
    stamp)."""
    from .sinks import read_sink

    data = read_sink(spark, os.path.join(out_dir, "data"))
    hot = read_hot_ordered(spark, os.path.join(out_dir, "hot_ordered"))
    if hot is None:
        return data
    # supersede by (conv_id, turn_idx ≤ hot watermark), NOT by whole conv
    # (review finding r4b): a conversation un-routed in a later run keeps
    # its post-watermark keyed-sink rows in the combined output instead of
    # having them silently deleted. (NB: un-routing a LIVE conversation is
    # still refused at the pipeline level — fresh keyed state would buffer
    # forever waiting for turn 1 — see run_pipeline's routed-set marker;
    # this read-side rule is defense in depth and covers post-reset reads.)
    hot_hi = hot.groupBy("conv_id").agg(F.max("turn_idx").alias("_hot_hi"))
    kept = (
        data.join(F.broadcast(hot_hi), "conv_id", "left")
        .filter(F.col("_hot_hi").isNull() | (F.col("turn_idx") > F.col("_hot_hi")))
        .drop("_hot_hi")
    )
    return kept.unionByName(
        hot.withColumn("ingest_ts", F.lit(None).cast("timestamp"))
    )
