"""Round-3 review findings pinned as regression tests:

  R3-1  resuming a checkpoint with a different n_shards must fail
        fast (n_shards is baked into the sharded state key — a silent
        mismatch strands state and breaks exactly-once).
  R3-2  completed conversations become compact tombstones: excluded from
        heartbeat sweeps (no frozen-counter status spam), aged out silently
        under the TTL, late duplicates still discarded AND counted.
  R3-3  epoch sink reads see only COMMITTED epochs (_SUCCESS marker) — a
        partial crash-epoch must be invisible to read_sink/merge dedup.
  R3-4  redact_pii counts reflect insertions actually made on the
        progressively-redacted string, not independent detections on the
        original (overlapping patterns: email consuming an IPv4).
"""

import os
import pickle
import time as _time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataflow_ordered_processing_spark.functions import dedup, text
from dataflow_ordered_processing_spark.operators import ordered_core as core
from dataflow_ordered_processing_spark.plans import relational
from dataflow_ordered_processing_spark.streaming import OrderedStreamConfig
from dataflow_ordered_processing_spark.streaming.ordered_sharded import (
    _HB_AT,
    _TOMBS,
    _conv_dumps,
    _conv_to_tuple,
    make_sharded_func,
)
from dataflow_ordered_processing_spark.streaming.sinks import (
    _check_engine_marker,
    epoch_dirs,
)
from dataflow_ordered_processing_spark.streaming.windows import (
    _watermark_seconds,
    start_first_match_join_pipeline,
)

from test_ordered_sharded import (  # reuse the fake-state harness
    _FakeState,
    _collect,
    _shard_batch_rows,
    _state_with,
)


# ---------------------------------------------------------------- R3-1

def test_engine_marker_pins_n_shards(tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _check_engine_marker(ckpt, "sharded", 256)
    _check_engine_marker(ckpt, "sharded", 256)  # same config resumes fine
    with pytest.raises(ValueError, match="n_shards"):
        _check_engine_marker(ckpt, "sharded", 512)


# ---------------------------------------------------------------- R3-2

def _completed_conv(state_dict=None):
    """Run one arrival batch containing a full 3-turn conversation (turn 3 =
    end sentinel) through the sharded func; return the resulting state."""
    cfg = OrderedStreamConfig(status_heartbeat_ms=50)
    func = make_sharded_func(cfg)
    state = _FakeState(
        _state_with(state_dict or {}, hb_at=_time.time()), timed_out=False
    )
    batch = _shard_batch_rows([("cX", 1), ("cX", 2)])
    end = _shard_batch_rows([("cX", 3)])
    end.loc[:, "role"] = core.END_ROLE
    end.loc[:, "text"] = core.END_TEXT
    _collect(func((0,), iter([pd.concat([batch, end], ignore_index=True)]), state))
    return state


def test_completed_conv_becomes_tombstone():
    state = _completed_conv()
    d = pickle.loads(state.get[0])
    assert "cX" not in {k for k in d if isinstance(k, str)}
    assert d[_TOMBS]["cX"][0] == 3  # last_emitted preserved compactly


def test_tombstones_excluded_from_heartbeat_sweep():
    state = _completed_conv()
    d = pickle.loads(state.get[0])
    d[_HB_AT] = _time.time() - 10.0  # force a sweep on next invocation
    state._v = (pickle.dumps(d, protocol=5),)
    cfg = OrderedStreamConfig(status_heartbeat_ms=50, emit_status_every_batch=False)
    func = make_sharded_func(cfg)
    # arrival for an unrelated key triggers the overdue sweep
    _, statuses = _collect(func((0,), iter([_shard_batch_rows([("cB", 2)])]), state))
    assert "cX" not in statuses  # frozen tombstone: no heartbeat status


def test_tombstone_ttl_evicts_silently():
    cfg = OrderedStreamConfig(status_heartbeat_ms=50, evict_idle_after_heartbeats=2)
    func = make_sharded_func(cfg)
    state = _completed_conv()
    for _ in range(3):
        if not state.exists:
            break
        state.hasTimedOut = True
        _, statuses = _collect(func((0,), iter([]), state))
        assert "cX" not in statuses  # eviction emits no status (no gap)
    assert not state.exists  # tombstone aged out → shard state freed


def test_late_duplicate_after_completion_counted():
    cfg = OrderedStreamConfig(status_heartbeat_ms=50)
    func = make_sharded_func(cfg)
    state = _completed_conv()
    data, _ = _collect(func((0,), iter([_shard_batch_rows([("cX", 2)])]), state))
    assert data == []  # re-delivery discarded, not re-emitted
    d = pickle.loads(state.get[0])
    tomb = d[_TOMBS]["cX"]
    assert tomb[1] == 4  # received_count 3 + 1
    assert tomb[3] == 1  # duplicate_count


def test_tombstone_shard_stops_heartbeating():
    """A shard holding only a completed conversation must not re-arm its
    timer (no TTL), and a timer firing on it must emit no status."""
    timer_set = []

    class _TimedState(_FakeState):
        def setTimeoutDuration(self, ms):
            timer_set.append(ms)

    state = _TimedState(_completed_conv().get[0])
    func = make_sharded_func(OrderedStreamConfig(status_heartbeat_ms=50))

    # duplicate arrival to a tombstone: status still emitted (arrival path),
    # timer NOT re-armed (frozen state, nothing will ever change)
    frames = list(func((0,), iter([_shard_batch_rows([("cX", 2)])]), state))
    assert any((f["row_type"] == "status").any() for f in frames)
    assert timer_set == []

    # timer firing on a tombstone: silent (no status row, no data)
    state.hasTimedOut = True
    assert list(func((0,), iter([]), state)) == []


# ---------------------------------------------------------------- R3-3

def test_epoch_dirs_skip_uncommitted(tmp_path):
    base = str(tmp_path / "sink")
    for e, committed in [(0, True), (1, False), (2, True)]:
        d = os.path.join(base, f"epoch={e}")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as f:
            f.write("x")
        if committed:
            open(os.path.join(d, "_SUCCESS"), "w").close()
    got = [os.path.basename(p) for p in epoch_dirs(base)]
    assert got == ["epoch=0", "epoch=2"]  # partial epoch=1 invisible


# ---------------------------------------------------------------- R3-4

def test_redact_counts_match_insertions(spark):
    df = spark.createDataFrame(
        [(1, "contact a@1.2.3.4.net or 5.6.7.8"), (2, "x@y.com a@1.2.3.4.net")],
        ["doc_id", "text"],
    )
    got = text.redact_pii(df).toPandas().set_index("doc_id")
    # doc 1: the email consumes 1.2.3.4 — only the standalone ip counts
    assert got.loc[1, "n_email"] == 1 and got.loc[1, "n_ipv4"] == 1
    assert got.loc[1, "redacted"].count("<IPV4>") == got.loc[1, "n_ipv4"]
    # doc 2: both matches are emails; no <IPV4> token is ever inserted
    assert got.loc[2, "n_email"] == 2 and got.loc[2, "n_ipv4"] == 0
    assert "<IPV4>" not in got.loc[2, "redacted"]


# ---------------------------------------------------------------- R3-5

def test_lsh_degenerate_bucket_capped(spark):
    """Adversarial corpus: 500 identical docs share every band key. Without
    a cap the band self-join expands 500²/2 pairs in ONE bucket; with the
    cap the bucket is dropped (the exact tier owns identical docs) and the
    query completes with no quadratic expansion."""
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), F.lit("same text everywhere here now").alias("text")
    )
    capped = dedup.minhash_lsh_pairs(docs, max_bucket=64)
    assert capped.count() == 0  # mega-bucket excluded from pair expansion
    stats = dedup.lsh_bucket_stats(docs).collect()
    assert stats[0]["n_docs"] == 500  # the audit query exposes the cluster
    # the cheaper exact tier still catches the cluster
    ex = dedup.dedup_exact(docs).collect()
    assert len(ex) == 1 and ex[0]["n_copies"] == 500
    # a cap above every bucket size is a no-op vs the uncapped default:
    # the capped path itself is lossless on benign data
    benign = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("distinct words for doc number "), F.col("id").cast("string")).alias("text"),
    )
    assert (
        dedup.minhash_lsh_pairs(benign, max_bucket=64).collect()
        == dedup.minhash_lsh_pairs(benign).collect()
    )


# ---------------------------------------------------------------- R3-6

def test_first_match_watermark_guard():
    """Stream-stream join refuses unbounded-state watermarks on continuous
    streams; finite replays must say so explicitly."""
    assert _watermark_seconds("10 minutes") == 600.0
    assert _watermark_seconds("2 days") == 172800.0
    with pytest.raises(ValueError, match="unbounded state"):
        # guard fires before the source is touched
        start_first_match_join_pipeline(None, "x", "y", watermark="2 days")


# ------------------------------------------------- new corpus-stats ops (r3)

def test_vocab_topk_counts_and_tiebreak(spark):
    df = spark.createDataFrame([(1, "a b b c C"), (2, "b  a\t x")], ["doc_id", "text"])
    got = [(r["token"], r["n"]) for r in text.vocab_topk(df, k=3).collect()]
    # case-folded, whitespace-split; ties broken by token for a stable cut
    assert got == [("b", 3), ("a", 2), ("c", 2)]


def test_doc_length_stats_exact(spark):
    df = spark.createDataFrame(
        [(i, "x" * n) for i, n in enumerate([4, 8, 10, 100])], ["doc_id", "text"]
    )
    row = text.doc_length_stats(df).collect()[0]
    assert row["n_docs"] == 4 and row["max_chars"] == 100
    assert row["p50_chars"] == 9.0  # exact percentile, linear interpolation
    assert row["mean_chars"] == 30.5


# ------------------------------------------- pre-pickled shard entries (r3)

def test_untouched_convs_not_repickled():
    """Shard-dict entries are stored pre-pickled: an arrival batch must
    rewrite ONLY the touched conversations' bytes, leaving untouched
    entries byte-identical (the outer blob pickle then memcpys them —
    measured 13x cheaper per invocation at 10k pending convs / 100
    touched, the 100-TB sparse-touch regime)."""

    def pend(conv):
        buf = {
            "turn_idx": np.array([3, 5], dtype="int64"),
            "role": np.array(["user", "user"], dtype=object),
            "text": np.array([f"{conv}-a", f"{conv}-b"], dtype=object),
            "tool": np.array([None, None], dtype=object),
            "ts_us": np.array([1000, 2000], dtype="int64"),
        }
        return core.OrderedState(last_emitted=0, buffer=buf)

    entries = {f"c{i}": _conv_dumps(pend(f"c{i}")) for i in range(5)}
    state = _FakeState(pickle.dumps(dict(entries), protocol=5))
    func = make_sharded_func(OrderedStreamConfig(emit_status_every_batch=False))
    list(func((0,), iter([_shard_batch_rows([("c0", 1)])]), state))
    after = pickle.loads(state.get[0])
    assert after["c1"] == entries["c1"]  # untouched: byte-identical
    assert isinstance(after["c0"], bytes) and after["c0"] != entries["c0"]


def test_legacy_tuple_state_blob_still_loads():
    """Checkpoints written before the pre-pickled format hold tuples —
    they must deserialize transparently (mixed dicts allowed)."""
    buf = {
        "turn_idx": np.array([2], dtype="int64"),
        "role": np.array(["user"], dtype=object),
        "text": np.array(["t2"], dtype=object),
        "tool": np.array([None], dtype=object),
        "ts_us": np.array([1000], dtype="int64"),
    }
    legacy = {"cL": _conv_to_tuple(core.OrderedState(last_emitted=0, buffer=buf))}
    state = _FakeState(pickle.dumps(legacy, protocol=5))
    func = make_sharded_func(OrderedStreamConfig(emit_status_every_batch=False))
    data, _ = _collect(func((0,), iter([_shard_batch_rows([("cL", 1)])]), state))
    assert data == [("cL", 1), ("cL", 2)]  # gap closed through a legacy blob


def test_dense_touch_stores_plain_tuples():
    """Adaptive encoding: when a batch touches the majority of the shard's
    conversations, entries are stored as plain tuples (no nested dumps
    framing); sparse batches store bytes (see
    test_untouched_convs_not_repickled)."""
    state = _FakeState(None)
    func = make_sharded_func(OrderedStreamConfig(emit_status_every_batch=False))
    batch = _shard_batch_rows([("cA", 2), ("cB", 2)])  # all touched, all pending
    list(func((0,), iter([batch]), state))
    d = pickle.loads(state.get[0])
    assert isinstance(d["cA"], tuple) and isinstance(d["cB"], tuple)


# ----------------------------------------------- relational family (r3)

def test_relational_plan_shapes(spark, sf_dir):
    """The join-planning contract at 100 TB: dimensions broadcast (no
    sort-merge join anywhere), the date filter reaches the orders scan,
    and top-k is TakeOrdered (no global sort)."""
    plan = (
        relational.revenue_by_nation(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # predicate pushdown

    topk = (
        relational.top_brands_by_revenue(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in topk and "BroadcastHashJoin" in topk


def test_pricing_summary_micros_deterministic(spark, sf_dir, tmp_path, monkeypatch):
    """Integer-micro aggregation is addition-order independent: the same
    query over a reshuffled input yields bit-identical sums."""
    a = {
        (r["l_returnflag"], r["l_linestatus"]): r["sum_charge_micros"]
        for r in relational.pricing_summary(spark, sf_dir).collect()
    }
    d = str(tmp_path / "li13")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(13).write.parquet(d)
    orig = relational._t

    def patched(spark_, sf, name):
        if name == "lineitem":
            return spark_.read.parquet(d)
        return orig(spark_, sf, name)

    monkeypatch.setattr(relational, "_t", patched)
    b = {
        (r["l_returnflag"], r["l_linestatus"]): r["sum_charge_micros"]
        for r in relational.pricing_summary(spark, sf_dir).collect()
    }
    assert a == b


# --------------------------------------- review round-2 findings (r3b)

def test_marker_refuses_premarker_checkpoint(tmp_path):
    """A checkpoint with committed state but no engine marker predates
    config pinning — its n_shards is unknowable, so resume must refuse
    instead of guessing (the default changed, silent re-keying risk)."""
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(os.path.join(ckpt, "offsets"))
    with pytest.raises(ValueError, match="no.*marker|marker"):
        _check_engine_marker(ckpt, "sharded", 256)


def test_sweep_completion_honors_cleanup_on_complete():
    """A capped drain finishing a conversation during a heartbeat sweep
    must follow the same completion contract as the arrival path: eager
    cleanup under cleanup_on_complete=True (no tombstone)."""
    cfg = OrderedStreamConfig(
        status_heartbeat_ms=50, max_emit_per_batch=5, cleanup_on_complete=True
    )
    func = make_sharded_func(cfg)
    # pending buffer holds the full conversation incl. the end sentinel;
    # the sweep's drain completes it
    buf = {
        "turn_idx": np.array([1, 2, 3], dtype="int64"),
        "role": np.array(["user", "assistant", core.END_ROLE], dtype=object),
        "text": np.array(["a", "b", core.END_TEXT], dtype=object),
        "tool": np.array([None] * 3, dtype=object),
        "ts_us": np.array([1, 2, 3], dtype="int64"),
    }
    st0 = core.OrderedState(last_emitted=0, buffer=buf)
    st0.last_event_received = True
    state = _FakeState(_state_with({"cC": _conv_to_tuple(st0)}), timed_out=True)
    data, _ = _collect(func((0,), iter([]), state))
    assert [t for _, t in data] == [1, 2, 3]
    assert not state.exists  # eager cleanup: no tombstone, state freed


def test_resurrected_conv_drops_stale_tombstone():
    """A post-final turn that re-opens a gap resurrects the conversation
    from its tombstone; the stale tombstone must not survive alongside the
    active state."""
    func = make_sharded_func(OrderedStreamConfig(status_heartbeat_ms=50))
    state = _completed_conv()  # cX complete at turn 3, tombstoned
    # bogus post-final turn 5 arrives (gap at 4) → resurrect as pending
    list(func((0,), iter([_shard_batch_rows([("cX", 5)])]), state))
    d = pickle.loads(state.get[0])
    assert "cX" in {k for k in d if isinstance(k, str)}  # active again
    assert "cX" not in d.get(_TOMBS, {})  # stale tombstone dropped


def test_watermark_parser_lenient():
    assert _watermark_seconds("1 hour 30 minutes") == 5400.0
    assert _watermark_seconds("interval 2 days") == 172800.0
    assert _watermark_seconds("complete gibberish here") is None  # fails open


def test_watermark_parser_case_insensitive():
    assert _watermark_seconds("24 HOURS") == 86400.0  # uppercase must parse
    assert _watermark_seconds("10 Minutes") == 600.0
    with pytest.raises(ValueError, match="unbounded state"):
        start_first_match_join_pipeline(None, "x", "y", watermark="24 HOURS")
