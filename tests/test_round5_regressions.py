"""Round-5 regression tests: ADVICE r4/r5 findings.

  - an all-empty key-index fold must leave an index that later deltas
    still dedupe against exactly.
  - _keyidx_raw must survive a LEGACY all-empty compact generation, and
    a LEGACY kbucket=-partitioned index must keep deduping exactly.
  - the hot-channel no-op fingerprint must distinguish raw states whose
    file CONTENT differs even when total committed bytes collide.
  - --reset-hot-channel must not delete unreleased rows of conversations
    absent from the new routed set (they are unrecoverable: the post-reset
    replay only regenerates routed keys).
"""

from __future__ import annotations

import datetime
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataflow_ordered_processing_spark.streaming.sinks import (  # noqa: E402
    _KEYIDX_COMPACT_AFTER,
    _keyidx_base,
    _keyidx_raw,
    _write_keyidx_delta,
)

_TS = datetime.datetime(2026, 1, 1, 12, 0, 0)


def _turn_rows(conv, turns):
    return [
        {
            "conv_id": conv,
            "turn_idx": t,
            "role": "user",
            "text": f"{conv}-{t}",
            "tool": None,
            "ts": _TS + datetime.timedelta(seconds=t),
        }
        for t in turns
    ]


def _turns_df(spark, rows):
    from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA

    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def test_keyidx_all_empty_fold_then_real_delta_dedupes(spark, tmp_path):
    """More than _KEYIDX_COMPACT_AFTER status-only epochs (a cold start)
    fold an all-empty key index; later data epochs still dedupe exactly
    against it."""
    from dataflow_ordered_processing_spark.streaming import sinks as sk

    path = str(tmp_path / "data")
    wb = sk.split_sink(sk.SinkConfig(data_path=path, validate=False, merge_on_key=True))

    def batch(row_type, turns):
        return spark.createDataFrame(
            [("c1", t, row_type) for t in turns],
            "conv_id string, turn_idx long, row_type string",
        )

    for epoch in range(_KEYIDX_COMPACT_AFTER + 2):
        wb(batch("status", [None]), epoch)
    assert [d for d in os.listdir(_keyidx_base(path)) if d.startswith("compact=")]
    wb(batch("data", [1, 2]), 20)
    wb(batch("data", [1, 2, 3]), 21)  # 1 and 2 re-delivered
    got = sk.read_sink(spark, path, table="unified").filter("row_type = 'data'").collect()
    assert sorted(r["turn_idx"] for r in got) == [1, 2, 3]


def test_keyidx_raw_survives_legacy_empty_compact(spark, tmp_path):
    """A legacy sink may already hold an all-empty compact generation
    (written before the skip guard): the explicit-schema read must return
    it as empty instead of failing parquet schema inference forever."""
    data_path = str(tmp_path / "data")
    legacy = os.path.join(_keyidx_base(data_path), "compact=5")
    os.makedirs(legacy)
    open(os.path.join(legacy, "_SUCCESS"), "w").close()
    assert _keyidx_raw(spark, data_path).count() == 0
    # and deltas written after the legacy empty generation are still seen
    real = spark.createDataFrame([("c2", 3)], "conv_id string, turn_idx int")
    _write_keyidx_delta(real, data_path, 6)
    idx = _keyidx_raw(spark, data_path).collect()
    assert [(r["conv_id"], r["hi_turn"]) for r in idx] == [("c2", 3)]


def test_keyidx_legacy_kbucket_layout_still_dedupes(spark, tmp_path):
    """A key index in the earlier partitioned layout — a kbucket=
    partitioned compact generation and deltas carrying a kbucket column —
    still dedupes exactly, read as it is and after one more batch folds it
    into an unpartitioned generation."""
    from pyspark.sql import functions as F

    from dataflow_ordered_processing_spark.streaming import sinks as sk

    path = str(tmp_path / "data")
    base = _keyidx_base(path)

    def legacy(rows):
        return spark.createDataFrame(
            rows, "conv_id string, hi_turn long, hi_match long"
        ).withColumn("kbucket", F.pmod(F.xxhash64("conv_id"), F.lit(64)).cast("int"))

    legacy([("a", 2, None), ("b", 3, None)]).write.partitionBy("kbucket").parquet(
        os.path.join(base, "compact=4")
    )
    for epoch in range(5, 5 + _KEYIDX_COMPACT_AFTER):  # c's watermark ends at 8
        legacy([("c", epoch - 4, None)]).coalesce(1).write.parquet(
            os.path.join(base, f"epoch={epoch}")
        )
    wb = sk.split_sink(sk.SinkConfig(data_path=path, validate=False, merge_on_key=True))

    def batch(rows):
        return spark.createDataFrame(
            [(c, t, "data") for c, t in rows],
            "conv_id string, turn_idx long, row_type string",
        )

    wb(batch([("a", 2), ("a", 3), ("b", 3), ("c", 8), ("c", 9)]), 13)
    assert sorted(d for d in os.listdir(base) if d.startswith("compact=")) == ["compact=4"]
    wb(batch([("a", 3), ("b", 4), ("c", 9)]), 14)  # folds the legacy index first
    assert sorted(d for d in os.listdir(base) if d.startswith("compact=")) == ["compact=13"]
    got = sk.read_sink(spark, path, table="unified").select("conv_id", "turn_idx").collect()
    assert sorted(map(tuple, got)) == [("a", 3), ("b", 4), ("c", 9)]


def test_hot_fingerprint_not_fooled_by_equal_totals(tmp_path):
    """Two raw-channel states with IDENTICAL (max_epoch, n_epochs, total
    bytes) but different file layouts must fingerprint differently (the
    r4 total-bytes fingerprint collided and silently skipped ordering)."""
    from dataflow_ordered_processing_spark.streaming.hotkey import _raw_state

    def build(root, sizes):
        ep = os.path.join(root, "epoch=0")
        os.makedirs(ep)
        open(os.path.join(ep, "_SUCCESS"), "w").close()
        for name, size in sizes.items():
            with open(os.path.join(ep, name), "wb") as f:
                f.write(b"x" * size)
        return root, [ep]

    a = _raw_state(*build(str(tmp_path / "a"), {"part-a.parquet": 3, "part-b.parquet": 5}))
    b = _raw_state(*build(str(tmp_path / "b"), {"part-a.parquet": 5, "part-b.parquet": 3}))
    assert a["raw_max_epoch"] == b["raw_max_epoch"]
    assert a["raw_epochs"] == b["raw_epochs"]
    assert a["raw_files_md5"] != b["raw_files_md5"]


def test_reset_refuses_to_lose_unreleased_removed_keys(spark, tmp_path):
    """--reset-hot-channel with a shrunk routed set: conv 'gap' has
    unreleasable rows (no turn 1) and is absent from the new set — the
    reset must refuse instead of deleting them; keeping it routed (or
    draining everything releasable) lets the reset proceed."""
    from jobs.run_pipeline import _check_hot_marker
    from dataflow_ordered_processing_spark.streaming.hotkey import read_hot_ordered

    out = str(tmp_path / "out")
    ckpt_hot = str(tmp_path / "ckpt-hot")
    hot_raw = os.path.join(out, "hot_raw")
    rows = _turn_rows("gap", [2, 3]) + _turn_rows("ok", [1, 2])
    _turns_df(spark, rows).write.parquet(os.path.join(hot_raw, "epoch=0"))

    with pytest.raises(ValueError, match="permanently lose"):
        _check_hot_marker(spark, out, ckpt_hot, hot_raw, {"ok"}, reset=True)
    # the refusing attempt still DRAINED what it could: 'ok' is released
    released = read_hot_ordered(spark, os.path.join(out, "hot_ordered"))
    assert released.filter("conv_id = 'ok'").count() == 2
    assert os.path.isdir(hot_raw)  # nothing was deleted

    # keeping the gapped conv routed makes the reset safe
    _check_hot_marker(spark, out, ckpt_hot, hot_raw, {"gap", "ok"}, reset=True)
    assert not os.path.isdir(hot_raw)


# --------------------------------------------------------------- compaction
def test_epoch_compaction_bounds_dirs_and_preserves_rows(spark, tmp_path):
    """30 epochs with fanout 4: visible dir count stays O(fanout × levels)
    instead of 30, and read_sink returns exactly the same rows as the
    uncompacted layout would."""
    from dataflow_ordered_processing_spark.streaming import sinks as sk

    path = os.path.join(str(tmp_path), "data")
    cfg = sk.SinkConfig(data_path=path, validate=False, compact_epochs_after=4)
    wb = sk.split_sink(cfg)
    for e in range(30):
        wb(
            spark.createDataFrame(
                [(f"c{e}", 1, "data"), (f"c{e}", 2, "data")],
                "conv_id string, turn_idx long, row_type string",
            ),
            e,
        )
    dirs = sk.sink_dirs(path)
    assert len(dirs) <= 4 * 3 + 4  # ≤ fanout dirs per touched level
    assert any("compact=" in d for d in dirs)
    got = sorted(
        (r["conv_id"], r["turn_idx"])
        for r in sk.read_sink(spark, path, table="unified").collect()
    )
    assert got == sorted((f"c{e}", t) for e in range(30) for t in (1, 2))


def test_epoch_compaction_crash_window_no_double_read(spark, tmp_path):
    """The fold-committed-but-inputs-not-deleted window: a committed epoch
    dir whose range is covered by a committed compact generation must be
    invisible to readers (no double count) and swept by the next compaction
    call. Also covers the replay that re-creates a folded epoch."""
    from dataflow_ordered_processing_spark.streaming import sinks as sk

    path = os.path.join(str(tmp_path), "data")
    # grace 0: superseded dirs are swept immediately, so the replay
    # re-creation below exercises a REAL post-deletion window
    cfg = sk.SinkConfig(
        data_path=path, validate=False, compact_epochs_after=4,
        compact_grace_seconds=0,
    )
    wb = sk.split_sink(cfg)
    for e in range(6):  # > fanout → first fold happened
        wb(
            spark.createDataFrame(
                [(f"c{e}", 1, "data")], "conv_id string, turn_idx long, row_type string"
            ),
            e,
        )
    assert any("compact=" in d for d in sk.sink_dirs(path))
    n_before = sk.read_sink(spark, path, table="unified").count()
    # replay re-creates a folded epoch (its _SUCCESS died with the fold)
    sk._write_idempotent(
        spark.createDataFrame(
            [("c0", 1, "data")], "conv_id string, turn_idx long, row_type string"
        ),
        path,
        0,
    )
    assert os.path.isdir(os.path.join(path, "epoch=0"))
    assert sk.read_sink(spark, path, table="unified").count() == n_before
    # the sweep removes the superseded re-creation
    sk.compact_data_epochs(spark, path, fanout=4, grace_seconds=0)
    assert not os.path.isdir(os.path.join(path, "epoch=0"))
    assert sk.read_sink(spark, path, table="unified").count() == n_before


def test_merge_on_key_exact_across_compaction(spark, tmp_path):
    """merge_on_key stays hash-exact when data epochs fold underneath it,
    including the legacy-bootstrap path where a compacted range must yield
    its key-index delta from the compact dir."""
    from dataflow_ordered_processing_spark.streaming import sinks as sk

    path = os.path.join(str(tmp_path), "data")
    # phase 1: merge OFF, small fanout → ranges fold with no index deltas
    wb_off = sk.split_sink(
        sk.SinkConfig(data_path=path, validate=False, compact_epochs_after=3)
    )
    convs = ["a", "b"]
    for e in range(8):
        wb_off(
            spark.createDataFrame(
                [(c, e + 1, "data") for c in convs],
                "conv_id string, turn_idx long, row_type string",
            ),
            e,
        )
    # phase 2: merge ON — bootstrap must read COMPACTED ranges for the index
    wb_on = sk.split_sink(
        sk.SinkConfig(
            data_path=path, validate=False, merge_on_key=True, compact_epochs_after=3
        )
    )
    # full replay of old turns at a new epoch id + one fresh turn
    wb_on(
        spark.createDataFrame(
            [(c, t, "data") for c in convs for t in (1, 2, 3, 9)],
            "conv_id string, turn_idx long, row_type string",
        ),
        8,
    )
    rows = sorted(
        (r["conv_id"], r["turn_idx"])
        for r in sk.read_sink(spark, path, table="unified").collect()
    )
    assert rows == sorted((c, t) for c in convs for t in range(1, 10))


# ------------------------------------------------------------ auto hot keys
def test_auto_hot_keys_routes_detected_key_across_restarts(spark, tmp_path):
    """--auto-hot-keys: run 1 (threshold only) detects a conversation that
    crossed the threshold; run 2 with the flag performs the documented
    reset flow automatically and routes it; the combined read stays exact.
    A third run with an unchanged set must NOT reset (no-op fingerprint:
    zero new hot rows)."""
    import json as _json
    import subprocess
    import sys

    import duckdb

    from tests.test_round4_regressions import _gen_input_subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    n_input = _gen_input_subprocess(repo, src, 2000, 10)
    con = duckdb.connect()
    (hot_conv, hot_n), (_, second_n) = con.execute(
        f"SELECT conv_id, count(*) FROM read_parquet('{src}/*.parquet') "
        "GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 2"
    ).fetchall()
    assert hot_n > second_n  # threshold below isolates exactly one conv
    base = [
        sys.executable, os.path.join(repo, "jobs", "run_pipeline.py"),
        "--source", src, "--out", out, "--checkpoint", ckpt,
        "--available-now", "--master", "local[4]",
        "--shuffle-partitions", "4", "--no-warmup",
        "--hot-key-threshold", str(hot_n),
    ]

    def run(extra):
        r = subprocess.run(base + extra, capture_output=True, text=True, timeout=600)
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [_json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]

    # run 1: nothing routed yet; detection reports the crossing conv
    lines1 = run([])
    assert lines1[-1]["hot_key_candidates"] == [hot_conv]
    assert not any("hot_keys_routed" in l for l in lines1)

    # run 2: --auto-hot-keys picks it up, auto-resets, routes it
    lines2 = run(["--auto-hot-keys"])
    assert any(l.get("auto_hot_keys_reset") for l in lines2)
    routed = next(l for l in lines2 if "hot_keys_routed" in l)
    assert routed["hot_keys_routed"] == [hot_conv]
    assert lines2[-1]["hot_rows_ordered"] == hot_n

    # run 3: set unchanged → NO reset, side channel is a no-op
    lines3 = run(["--auto-hot-keys"])
    assert not any(l.get("auto_hot_keys_reset") for l in lines3)
    assert lines3[-1]["hot_rows_new"] == 0

    # combined read stays exact: every (conv, turn) exactly once, the routed
    # conversation fully ordered from the side channel
    from dataflow_ordered_processing_spark.streaming.hotkey import (
        read_pipeline_output,
    )

    combined = read_pipeline_output(spark, out)
    assert combined.count() == n_input
    assert combined.select("conv_id", "turn_idx").distinct().count() == n_input
    hot_rows = (
        combined.filter(f"conv_id = '{hot_conv}'")
        .orderBy("emit_seq")
        .select("turn_idx")
        .collect()
    )
    assert [r["turn_idx"] for r in hot_rows] == list(range(1, hot_n + 1))


def test_compaction_grace_defers_input_deletion(spark, tmp_path):
    """Review r5 #4: folded inputs must survive the grace window (an
    external reader may have listed them just before the fold committed)
    while staying INVISIBLE to new listings; grace 0 sweeps them."""
    from dataflow_ordered_processing_spark.streaming import sinks as sk

    path = os.path.join(str(tmp_path), "data")
    wb = sk.split_sink(
        sk.SinkConfig(data_path=path, validate=False, compact_epochs_after=4)
    )  # default grace: 300 s
    for e in range(6):
        wb(
            spark.createDataFrame(
                [(f"c{e}", 1, "data")], "conv_id string, turn_idx long, row_type string"
            ),
            e,
        )
    physical = [d for d in os.listdir(path) if d.startswith("epoch=")]
    visible = sk.sink_dirs(path)
    assert len(physical) == 6  # fold committed, inputs NOT yet deleted
    assert sum("epoch=" in d for d in visible) == 2  # ...but superseded ones hidden
    assert sk.read_sink(spark, path, table="unified").count() == 6  # no double read
    sk.compact_data_epochs(spark, path, fanout=4, grace_seconds=0)
    assert sorted(
        d for d in os.listdir(path) if d.startswith("epoch=")
    ) == sorted(d.rsplit("/", 1)[-1] for d in visible if "epoch=" in d)


def test_compaction_failure_does_not_quarantine_committed_rows(spark, tmp_path, monkeypatch):
    """Review r5 #3: a maintenance (compaction) failure AFTER the epoch
    committed must fail the batch but must NOT copy the already-committed
    rows into the writer_error DLQ, where a replay would double-ingest."""
    from dataflow_ordered_processing_spark.streaming import sinks as sk

    path = os.path.join(str(tmp_path), "data")
    dlq = os.path.join(str(tmp_path), "dlq")
    wb = sk.split_sink(
        sk.SinkConfig(
            data_path=path, dlq_path=dlq, validate=False, compact_epochs_after=4
        )
    )

    def boom(*a, **k):
        raise OSError("transient fs error during fold")

    monkeypatch.setattr(sk, "compact_data_epochs", boom)
    with pytest.raises(OSError, match="transient fs error"):
        wb(
            spark.createDataFrame(
                [("c0", 1, "data")], "conv_id string, turn_idx long, row_type string"
            ),
            0,
        )
    # the epoch itself committed; nothing was quarantined
    assert os.path.exists(os.path.join(path, "epoch=0", "_SUCCESS"))
    assert not os.path.isdir(os.path.join(dlq, "writer_error"))
    # replaying the epoch (stream retry) is a clean no-op commit
    monkeypatch.undo()
    wb(
        spark.createDataFrame(
            [("c0", 1, "data")], "conv_id string, turn_idx long, row_type string"
        ),
        0,
    )
    assert sk.read_sink(spark, path, table="unified").count() == 1


def test_multilevel_sweep_and_lock(spark, tmp_path):
    """Review r5b #1/#2: with a small fanout the fold cascades to level 2,
    making an epoch dir, its level-1 cover, and the level-2 cover all
    sweep-eligible in the same pass — decisions must be taken before any
    deletion (the old loop crashed on getmtime of a just-deleted cover).
    Also: a fresh _compact.lock makes a second compactor a no-op."""
    from dataflow_ordered_processing_spark.streaming import sinks as sk

    path = os.path.join(str(tmp_path), "data")
    wb = sk.split_sink(
        sk.SinkConfig(data_path=path, validate=False, compact_epochs_after=None)
    )
    for e in range(11):
        wb(
            spark.createDataFrame(
                [(f"c{e}", 1, "data")], "conv_id string, turn_idx long, row_type string"
            ),
            e,
        )
    folds = sk.compact_data_epochs(spark, path, fanout=2, grace_seconds=0)
    assert folds >= 4  # cascaded past level 1
    entries = sk._sink_entries(path)
    assert entries == sk._visible_entries(path)  # everything superseded swept
    assert max(e[0] for e in entries) >= 2  # a level-2 generation exists
    assert sk.read_sink(spark, path, table="unified").count() == 11

    # a held flock turns the next call into a no-op (a second open of the
    # same path is a distinct open-file-description, so LOCK_NB conflicts
    # even from the same process)
    import fcntl

    fd = os.open(os.path.join(path, "_compact.lock"), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        assert sk.compact_data_epochs(spark, path, fanout=2, grace_seconds=0) == 0
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
    # released → the next call proceeds normally (nothing left to fold)
    assert sk.compact_data_epochs(spark, path, fanout=2, grace_seconds=0) == 0


def test_ann_plan_shapes(spark, sf_dir):
    """Plan pins for the reworked ANN paths: candidate generation must be a
    BROADCAST equi-join on the bucket/cell key (never a cartesian product,
    never a sort-merge join of the corpus), and the vectorized scorer must
    appear as a single Arrow-batched python stage (ArrowEvalPython), not a
    per-row codegen expression tree."""
    from pyspark.sql import functions as F

    from dataflow_ordered_processing_spark.functions import similarity as S

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    lsh = plan(S.lsh_topk(embs, queries, k=5, n_planes=4, n_tables=4))
    assert "BroadcastHashJoin" in lsh
    assert "CartesianProduct" not in lsh and "SortMergeJoin" not in lsh
    assert "ArrowEvalPython" in lsh  # vectorized signatures + scorer

    ivf = plan(S.ivf_topk(embs, queries, k=5, n_cells=8, n_probe=2))
    assert "BroadcastHashJoin" in ivf
    assert "CartesianProduct" not in ivf and "SortMergeJoin" not in ivf
    assert "ArrowEvalPython" in ivf


def test_sample_stratified_rates_and_stability(spark, sf_dir):
    """Per-stratum hash sampling: rate 1.0 keeps everything, 0.0 nothing;
    membership is identical across re-runs AND under corpus growth (the
    kept set of a subset equals the subset of the kept set — the property
    a seeded-RNG sample cannot give)."""
    from pyspark.sql import functions as F

    from dataflow_ordered_processing_spark.functions import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"src0": 1.0, "src1": 0.0}
    kept = text.sample_stratified(docs, rates, default_rate=0.4)
    n_src0 = docs.filter("source = 'src0'").count()
    assert kept.filter("source = 'src0'").count() == n_src0
    assert kept.filter("source = 'src1'").count() == 0
    ids1 = {r["doc_id"] for r in kept.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in text.sample_stratified(docs, rates, default_rate=0.4)
            .select("doc_id").collect()}
    assert ids1 == ids2  # re-run stable
    sub = docs.filter(F.col("doc_id") % 3 == 0)
    sub_kept = {r["doc_id"] for r in text.sample_stratified(sub, rates, default_rate=0.4)
                .select("doc_id").collect()}
    assert sub_kept == {i for i in ids1 if i % 3 == 0}  # growth stable


# ------------------------------------------------- visibility property test
from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_visibility_partitions_epochs_exactly_once(tmp_path_factory, data):
    """THE compaction safety property, driven through random histories:
    after any sequence of folds (each possibly 'crashing' before input
    deletion), replay re-creations of folded epochs, and partial sweeps,
    the visible entries cover every committed epoch id EXACTLY once —
    no loss, no double-read. Pure directory-level simulation of the same
    layout the sink writes (fold = compact=L-lo-hi dir + _SUCCESS)."""
    from dataflow_ordered_processing_spark.streaming.sinks import (
        _sink_entries,
        _visible_entries,
    )

    base = str(tmp_path_factory.mktemp("vis"))

    def mk(name):
        d = os.path.join(base, name)
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "_SUCCESS"), "w").close()

    n_epochs = data.draw(st.integers(min_value=1, max_value=12))
    for e in range(n_epochs):
        mk(f"epoch={e}")
    all_folded: list[tuple[int, int, int]] = []  # (level, lo, hi) ever created
    for _ in range(data.draw(st.integers(min_value=0, max_value=6))):
        vis = _visible_entries(base)
        by_level: dict[int, list] = {}
        for e in vis:
            by_level.setdefault(e[0], []).append(e)
        lvl = data.draw(st.sampled_from(sorted(by_level)))
        cands = sorted(by_level[lvl], key=lambda e: e[1])
        if len(cands) < 2:
            continue
        k = data.draw(st.integers(min_value=2, max_value=len(cands)))
        batch = cands[:k]
        lo, hi = batch[0][1], batch[-1][2]
        mk(f"compact={lvl + 1}-{lo}-{hi}")
        all_folded.append((lvl + 1, lo, hi))
        # crash-or-not: delete each input independently (a real sweep
        # deletes all-or-none per pass, but the invariant must hold for
        # ANY subset left behind)
        import shutil as _sh

        for e in batch:
            if data.draw(st.booleans()):
                _sh.rmtree(e[3], ignore_errors=True)
        # replay may re-create a folded epoch dir (its _SUCCESS died with
        # the fold; _write_idempotent rewrites it)
        if data.draw(st.booleans()):
            mk(f"epoch={data.draw(st.integers(min_value=lo, max_value=hi))}")

    covered: list[int] = []
    for lvl, lo, hi, _p in _visible_entries(base):
        covered.extend(range(lo, hi + 1) if lvl else [lo])
    assert sorted(covered) == list(range(n_epochs)), (
        f"visible entries cover {sorted(covered)} != 0..{n_epochs - 1}; "
        f"entries={_sink_entries(base)}"
    )
