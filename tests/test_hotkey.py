"""Hot-key routing: named or detected mega-conversations bypass keyed
state into a raw side channel, are ordered there by the salted batch plan
in incremental passes, and the combined read supersedes their keyed-sink
rows per turn. The routed set is pinned by a marker; changing it needs
--reset-hot-channel, which refuses to drop unreleased rows."""

import datetime
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dataflow_ordered_processing_spark.operators.skew import salted_ordered_emit_batch
from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA
from dataflow_ordered_processing_spark.streaming import sinks as sk
from dataflow_ordered_processing_spark.streaming.hotkey import (
    _raw_state,
    order_hot_channel,
    read_hot_ordered,
    read_pipeline_output,
)
from dataflow_ordered_processing_spark.streaming.sinks import raw_passthrough_sink, sink_dirs
from jobs.run_pipeline import _check_hot_marker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _gen_input_subprocess(src: str, rows: int, convs: int) -> int:
    """Run tools.scaling_bench.generate_input in a SUBPROCESS: it calls
    spark.stop() when done, which would kill the pytest session fixture's
    shared SparkContext if run in-process ('Cannot call methods on a
    stopped SparkContext')."""
    subprocess.run(
        [
            sys.executable, "-c",
            "import sys; sys.path.insert(0, sys.argv[1]); "
            "from tools.scaling_bench import generate_input; "
            "generate_input(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), cpus=4)",
            REPO, src, str(rows), str(convs),
        ],
        check=True, capture_output=True, timeout=600,
    )
    return duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{src}/*.parquet')"
    ).fetchone()[0]


def test_hot_key_routing_pipeline(tmp_path):
    """run_pipeline --hot-keys routes the named conversation around the
    stateful operator: the data sink has no rows for it, <out>/hot_ordered
    holds its turns exactly ordered, nothing is lost, and a
    --hot-key-threshold report names the remaining biggest conversations."""
    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    n_input = _gen_input_subprocess(src, 4000, 40)
    con = duckdb.connect()
    hot_conv, hot_n = con.execute(
        f"SELECT conv_id, count(*) FROM read_parquet('{src}/*.parquet') "
        "GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 1"
    ).fetchone()
    r = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
            "--source", src, "--out", out, "--checkpoint", ckpt,
            "--available-now", "--master", "local[4]",
            "--shuffle-partitions", "4", "--no-warmup",
            "--hot-keys", hot_conv, "--hot-key-threshold", "1",
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    lines = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]
    routed = next(l for l in lines if "hot_keys_routed" in l)
    result = lines[-1]
    assert routed["hot_keys_routed"] == [hot_conv]
    assert result["hot_rows_ordered"] == hot_n
    assert result["rows_emitted"] == n_input - hot_n  # cold side complete
    # the side channel is exactly ordered: turn_idx == 1..n in emit order
    # (pass=<n> commit dirs — incremental passes)
    got = con.execute(
        f"SELECT turn_idx FROM read_parquet('{out}/hot_ordered/*/*.parquet') "
        f"WHERE conv_id = '{hot_conv}' ORDER BY emit_seq"
    ).fetchall()
    assert [t[0] for t in got] == list(range(1, hot_n + 1))
    # no hot rows leaked into the keyed sink — enumerate the committed dirs
    # through the compaction-aware view (a bare epoch=* glob reads nothing
    # from compact=L-lo-hi generations and would pass vacuously once folds
    # begin)
    data_files = [
        os.path.join(d, f)
        for d in sink_dirs(os.path.join(out, "data"))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    ]
    n_hot_in_data = con.execute(
        "SELECT count(*) FROM read_parquet($files) "
        "WHERE row_type = 'data' AND conv_id = $conv",
        {"files": data_files, "conv": hot_conv},
    ).fetchone()[0]
    assert n_hot_in_data == 0
    # detection report: with threshold 1 every remaining conv qualifies and
    # the routed one is excluded
    assert hot_conv not in result["hot_key_candidates"]
    assert len(result["hot_key_candidates"]) == 39


def test_hot_key_supersede_and_incremental(spark, tmp_path):
    """A conversation routed from run 2 onward already
    has rows in the keyed data sink — the combined read must supersede
    them (no double count), and the second ordering pass must be
    incremental (writes only the new suffix)."""
    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    n_input = _gen_input_subprocess(src, 1200, 12)
    base_cmd = [
        sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--source", src, "--out", out, "--checkpoint", ckpt,
        "--available-now", "--master", "local[4]",
        "--shuffle-partitions", "4", "--no-warmup",
    ]
    # run 1: NO routing — conv-000000 lands in the keyed data sink
    r1 = subprocess.run(base_cmd, capture_output=True, text=True, timeout=600)
    assert r1.returncode == 0, r1.stderr[-2000:]
    # run 2: same source replayed via a FRESH pipeline (new ckpt), now
    # routing the biggest conv — its side channel re-reads the whole source

    shutil.rmtree(ckpt)
    r2 = subprocess.run(
        base_cmd + ["--hot-keys", "conv-000000"],
        capture_output=True, text=True, timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    combined = read_pipeline_output(spark, out)
    # no double count: routed conv's data-sink rows (from run 1) superseded
    assert combined.count() == n_input
    assert (
        combined.select("conv_id", "turn_idx").distinct().count() == n_input
    )
    hot1 = read_hot_ordered(spark, os.path.join(out, "hot_ordered"))
    n_hot = hot1.count()
    pass_dirs_1 = os.listdir(os.path.join(out, "hot_ordered"))

    # run 3: same checkpoint, no new source data — the ordering pass must
    # be a no-op (pass meta matches the raw state, rows_new == 0)
    r3 = subprocess.run(
        base_cmd + ["--hot-keys", "conv-000000"],
        capture_output=True, text=True, timeout=600,
    )
    assert r3.returncode == 0, r3.stderr[-2000:]

    res3 = [json.loads(l) for l in r3.stdout.splitlines() if l.startswith("{")][-1]
    assert res3.get("hot_rows_new", 0) == 0
    assert res3["hot_rows_ordered"] == n_hot
    assert os.listdir(os.path.join(out, "hot_ordered")) == pass_dirs_1

    # run 4: CHANGED routed set without reset → refused by the marker
    # (growing it would strand the new key's pre-checkpoint history)
    r4 = subprocess.run(
        base_cmd + ["--hot-keys", "conv-000000,conv-000001"],
        capture_output=True, text=True, timeout=600,
    )
    assert r4.returncode != 0
    assert "reset-hot-channel" in (r4.stderr + r4.stdout)

    # run 5: same change WITH --reset-hot-channel → side channel replays
    # the whole source; both keys ordered; combined read still exact
    r5 = subprocess.run(
        base_cmd + ["--hot-keys", "conv-000000,conv-000001",
                    "--reset-hot-channel"],
        capture_output=True, text=True, timeout=600,
    )
    assert r5.returncode == 0, r5.stderr[-2000:]
    combined5 = read_pipeline_output(spark, out)
    assert combined5.count() == n_input
    assert combined5.select("conv_id", "turn_idx").distinct().count() == n_input
    hot5 = read_hot_ordered(spark, os.path.join(out, "hot_ordered"))
    assert hot5.select("conv_id").distinct().count() == 2


def test_order_hot_channel_incremental_offsets(spark, tmp_path):
    """The incremental pass must continue emit_seq and the running depth
    counters exactly where the prior pass stopped — the concatenated
    channel must equal a single-pass ordering of all rows."""
    raw_path = os.path.join(str(tmp_path), "hot_raw")
    out_path = os.path.join(str(tmp_path), "hot_ordered")
    roles = ["user", "assistant", "tool"]

    def rows(turns):
        return spark.createDataFrame(
            [
                ("h", t, roles[t % 3], f"text-{t}", None,
                 datetime.datetime(2026, 1, 1, 0, 0, t))
                for t in turns
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    sink = raw_passthrough_sink(raw_path)
    sink(rows([3, 1, 2, 7, 5, 4]), 0)  # epoch 0: prefix 1..5, gap at 6
    st1 = order_hot_channel(spark, raw_path, out_path)
    assert (st1["rows_total"], st1["rows_new"]) == (5, 5)

    sink(rows([6, 8, 2, 9]), 1)  # epoch 1: fills the gap, redelivers 2
    st2 = order_hot_channel(spark, raw_path, out_path)
    assert (st2["rows_total"], st2["rows_new"]) == (9, 4)  # 6..9 released

    got = (
        read_hot_ordered(spark, out_path)
        .orderBy("emit_seq")
        .collect()
    )
    want = (
        salted_ordered_emit_batch(rows([3, 1, 2, 7, 5, 4, 6, 8, 9]))
        .orderBy("emit_seq")
        .collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    # idempotency: same raw state → no new pass
    st3 = order_hot_channel(spark, raw_path, out_path)
    assert (st3["rows_total"], st3["rows_new"]) == (9, 0)


def test_hot_marker_pins_routed_set(spark, tmp_path):
    """Growing the routed set strands the new
    key (side-channel checkpoint predates its history), shrinking strands
    the removed key (fresh keyed state waits for turn 1). Both must fail
    fast; --reset-hot-channel clears the channel and proceeds."""
    ckpt_hot = os.path.join(str(tmp_path), "ckpt-hot")
    hot_raw = os.path.join(str(tmp_path), "hot_raw")
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"a", "b"}, reset=False)
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"b", "a"}, reset=False)  # same set ok
    with pytest.raises(ValueError, match="reset-hot-channel"):
        _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"a", "b", "c"}, reset=False)
    with pytest.raises(ValueError, match="reset-hot-channel"):
        _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"a"}, reset=False)
    os.makedirs(hot_raw, exist_ok=True)
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"a", "c"}, reset=True)  # reset allows
    assert not os.path.isdir(hot_raw)  # raw channel cleared for full replay
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"a", "c"}, reset=False)  # new set pinned
    # shrinking to EMPTY is still a routed-set change — must refuse
    with pytest.raises(ValueError, match="reset-hot-channel"):
        _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, set(), reset=False)
    # disabling routing via reset must PRESERVE hot_raw (no future
    # replay regenerates it; it may hold unreleased routed rows)
    os.makedirs(hot_raw, exist_ok=True)
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, set(), reset=True)  # reset un-routes
    assert not os.path.exists(os.path.join(ckpt_hot, "_hot_keys.json"))
    assert os.path.isdir(hot_raw)
    # with routing never enabled, an empty set is a clean no-op
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, set(), reset=False)
    # RE-enabling routing over a preserved channel (committed epochs,
    # no marker) must refuse — a fresh side-channel checkpoint would replay
    # into epoch ids the idempotent raw sink skips, stranding the new key
    ep = os.path.join(hot_raw, "epoch=0")
    os.makedirs(ep, exist_ok=True)
    open(os.path.join(ep, "_SUCCESS"), "w").close()
    with pytest.raises(ValueError, match="preserved"):
        _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"b"}, reset=False)
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"b"}, reset=True)  # reset clears it
    assert not os.path.isdir(hot_raw)


def test_read_pipeline_output_supersedes_per_turn(spark, tmp_path):
    """Supersede by (conv, turn ≤ hot watermark), not whole conv: keyed-sink
    rows ABOVE the hot channel's release watermark (e.g. after an un-route
    + reset) must survive the combined read."""
    out = os.path.join(str(tmp_path), "out")
    # hot channel released turns 1..3 of conv h
    hot_sink = raw_passthrough_sink(os.path.join(out, "hot_raw"))
    hot_sink(
        spark.createDataFrame(
            [("h", t, "user", f"t{t}", None, datetime.datetime(2026, 1, 1))
             for t in (2, 1, 3)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        ),
        0,
    )
    st = order_hot_channel(
        spark, os.path.join(out, "hot_raw"), os.path.join(out, "hot_ordered")
    )
    assert st == {"rows_total": 3, "rows_new": 3}
    # keyed data sink holds STALE turns 1..2 of h plus LATER turns 4..5
    # (post-un-route) and an untouched conv c — full data schema so
    # read_sink's projection and the union with hot rows line up
    def full_batch(conv, turns, epoch):
        rows = [
            (conv, t, "user", f"t{t}", None, datetime.datetime(2026, 1, 1),
             t, t, 0, 0, 2, "data")
            for t in turns
        ]
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx long, role string, text string, "
            "tool string, ts timestamp, emit_seq long, n_user_cum long, "
            "n_assistant_cum long, n_tool_cum long, chars_cum long, "
            "row_type string",
        )

    wb = sk.split_sink(sk.SinkConfig(data_path=os.path.join(out, "data")))
    wb(full_batch("h", [1, 2, 4, 5], 0), 0)
    wb(full_batch("c", [1], 1), 1)
    got = sorted(
        (r["conv_id"], r["turn_idx"])
        for r in read_pipeline_output(spark, out).collect()
    )
    # h: 1,2,3 from hot (authoritative), 4,5 from data (kept!); c: 1
    assert got == [("c", 1), ("h", 1), ("h", 2), ("h", 3), ("h", 4), ("h", 5)]


def test_null_key_reaches_dlq_under_hot_routing(spark, tmp_path):
    """With hot routing active, a NULL conv_id row must
    stay in the MAIN stream and land in the DLQ (null_key) — a bare ~isin
    filter is NULL for NULL keys and silently dropped it from BOTH
    channels."""
    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    n_input = _gen_input_subprocess(src, 600, 6)
    # inject one NULL-key arrival (explicit schema: an all-None object
    # column would otherwise be written as INT32)
    pq.write_table(
        pa.table(
            {
                "conv_id": pa.array([None], type=pa.string()),
                "turn_idx": pa.array([1], type=pa.int32()),
                "role": pa.array(["user"], type=pa.string()),
                "text": pa.array(["orphan"], type=pa.string()),
                "tool": pa.array([None], type=pa.string()),
                "ts": pa.array([datetime.datetime(2026, 1, 1)],
                               type=pa.timestamp("us")),
            }
        ),
        os.path.join(src, "part-null-key.parquet"),
    )
    r = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
            "--source", src, "--out", out, "--checkpoint", ckpt,
            "--available-now", "--master", "local[4]",
            "--shuffle-partitions", "4", "--no-warmup",
            "--hot-keys", "conv-000000",
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    dlq_files = glob.glob(os.path.join(out, "dlq", "epoch=*", "*.parquet"))
    assert dlq_files, "NULL-key row never reached the DLQ"

    con = duckdb.connect()
    # the operator emits BOTH a data row and a status row for the NULL
    # group; both carry a NULL key and both belong in the DLQ
    n_null = con.execute(
        f"SELECT count(*) FROM read_parquet({dlq_files!r}) "
        "WHERE dlq_error = 'null_key'"
    ).fetchone()[0]
    assert n_null == 2
    n_data = con.execute(
        f"SELECT count(*) FROM read_parquet({dlq_files!r}) "
        "WHERE dlq_error = 'null_key' AND row_type = 'data' AND text = 'orphan'"
    ).fetchone()[0]
    assert n_data == 1


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
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def test_hot_fingerprint_not_fooled_by_equal_totals(tmp_path):
    """Two raw-channel states with IDENTICAL (max_epoch, n_epochs, total
    bytes) but different file layouts must fingerprint differently (a
    total-bytes fingerprint collides and silently skips ordering)."""
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


def test_auto_hot_keys_routes_detected_key_across_restarts(spark, tmp_path):
    """--auto-hot-keys: run 1 (threshold only) detects a conversation that
    crossed the threshold; run 2 with the flag performs the documented
    reset flow automatically and routes it; the combined read stays exact.
    A third run with an unchanged set must NOT reset (no-op fingerprint:
    zero new hot rows)."""
    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    n_input = _gen_input_subprocess(src, 2000, 10)
    con = duckdb.connect()
    (hot_conv, hot_n), (_, second_n) = con.execute(
        f"SELECT conv_id, count(*) FROM read_parquet('{src}/*.parquet') "
        "GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 2"
    ).fetchall()
    assert hot_n > second_n  # threshold below isolates exactly one conv
    base = [
        sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--source", src, "--out", out, "--checkpoint", ckpt,
        "--available-now", "--master", "local[4]",
        "--shuffle-partitions", "4", "--no-warmup",
        "--hot-key-threshold", str(hot_n),
    ]

    def run(extra):
        r = subprocess.run(base + extra, capture_output=True, text=True, timeout=600)
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]

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
