"""Kill-and-resume: the pipeline restarts from checkpoint, reprocesses
nothing it already committed, and the sink ends exactly-once on
(conv_id, turn_idx) — north_rule: 'resumable from checkpoint with
per-partition lineage + metrics'."""

import json
import os

import pytest

from dataflow_ordered_processing_spark.operators.cep_core import Step
from dataflow_ordered_processing_spark.session import STATE_STORE_PROVIDER
from dataflow_ordered_processing_spark.sources.scenarios import scenario, serial_oracle
from dataflow_ordered_processing_spark.streaming import (
    BufferMetricsListener,
    OrderedStreamConfig,
    start_ordered_pipeline,
)
from dataflow_ordered_processing_spark.streaming.sinks import (
    SinkConfig,
    _check_engine_marker,
    _marked_ordered_stream,
    read_sink,
)

from streaming_utils import StagedStream

_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"


def _assert_oracle(data, batches):
    """Exactly-once on the idempotency key, and the serial oracle's rows."""
    assert not data.duplicated(subset=["conv_id", "turn_idx"]).any()
    want = serial_oracle(batches)
    got = data.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(got["turn_idx"].astype("int64")) == list(want["turn_idx"].astype("int64"))
    assert list(got["text"]) == list(want["text"])
    assert list(got["emit_seq"].astype("int64")) == list(want["emit_seq"].astype("int64"))


def _logged_stores(ckpt):
    """The state store each offset-log entry of the checkpoint names."""
    offsets = os.path.join(ckpt, "offsets")
    stores = set()
    for name in os.listdir(offsets):
        if name.isdigit():
            with open(os.path.join(offsets, name)) as f:
                stores.add(json.loads(f.read().splitlines()[1])["conf"][_PROVIDER])
    return stores


def test_checkpoint_kill_and_resume(spark, tmp_path):
    batches = scenario("random_permutation")
    base = str(tmp_path)
    sink = SinkConfig(
        data_path=os.path.join(base, "data"),
        checkpoint=os.path.join(base, "ckpt"),
    )
    listener = BufferMetricsListener(os.path.join(base, "metrics.jsonl"))
    spark.streams.addListener(listener)

    st = StagedStream(spark, base)
    try:
        # leg 1: first two arrival batches, then kill the query
        q = start_ordered_pipeline(st.source(), sink, n_shards=8)
        for b in batches[:2]:
            st.push(b)
            q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

        committed_leg1 = read_sink(spark, sink.data_path).count()

        # leg 2: restart from the SAME checkpoint; feed the rest
        q2 = start_ordered_pipeline(st.source(), sink, n_shards=8)
        for b in batches[2:]:
            st.push(b)
            q2.processAllAvailable()
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination(30)
    finally:
        spark.streams.removeListener(listener)

    data = read_sink(spark, sink.data_path).toPandas()
    _assert_oracle(data, batches)
    assert committed_leg1 < len(data)  # leg 1 really committed a prefix
    # every row left the engine with a sink timestamp for latency metrics
    assert data["ingest_ts"].notna().all()

    # lineage/metrics captured per micro-batch
    with open(os.path.join(base, "metrics.jsonl")) as f:
        events = [json.loads(line) for line in f]
    progress = [e for e in events if e["event"] == "progress"]
    assert progress, "listener captured no progress events"
    assert any(s["rows_total"] >= 0 for e in progress for s in e["stateOperators"])
    stateful_keys = {"commit_ms", "updates_ms", "removals_ms", "num_shuffle_partitions",
                     "custom_metrics"}
    ops = [s for e in progress for s in e["stateOperators"]]
    assert ops and all(stateful_keys <= s.keys() for s in ops)
    # the session's store is RocksDB, which reports its own metrics
    assert any(k.startswith("rocksdb") for s in ops for k in s["custom_metrics"])
    assert {e["event"] for e in events} >= {"started", "progress"}


def _rows(df):
    return sorted(map(tuple, df.astype(object).where(df.notna(), None).values.tolist()))


def _run_sink(spark, base, merge, batches, lose_commit_after=None, leg1_store=None):
    """Feed `batches` through the pipeline; after batch
    `lose_commit_after`, stop, delete the newest commits/<n> (the process
    died between the sink commit and Spark's commit log write) and restart,
    so Spark re-runs epoch n into an already committed sink epoch. Leg 1
    runs on `leg1_store` (None: the session's store), the restart on the
    session's store. Returns (data without its wall-clock stamp, status
    rows without theirs, replayed, the stores the offset log names)."""
    sink = SinkConfig(
        data_path=os.path.join(base, "data"),
        checkpoint=os.path.join(base, "ckpt"),
        merge_on_key=merge,
    )
    st = StagedStream(spark, base)
    session_store = spark.conf.get(_PROVIDER)
    spark.conf.set(_PROVIDER, leg1_store or session_store)
    q = None
    replayed = None
    try:
        q = start_ordered_pipeline(st.source(), sink, n_shards=8)
        for i, b in enumerate(batches):
            st.push(b)
            q.processAllAvailable()
            if i == lose_commit_after:
                q.stop()
                q.awaitTermination(30)
                spark.conf.set(_PROVIDER, session_store)
                commits = os.path.join(sink.checkpoint, "commits")
                n = max(int(f) for f in os.listdir(commits) if f.isdigit())
                for f in (str(n), f".{n}.crc"):  # the log entry and its checksum
                    os.remove(os.path.join(commits, f))
                q = start_ordered_pipeline(st.source(), sink, n_shards=8)
                q.processAllAvailable()
                replayed = n if os.path.exists(os.path.join(commits, str(n))) else None
    finally:
        spark.conf.set(_PROVIDER, session_store)
        if q is not None:
            q.stop()
            q.awaitTermination(30)
    data = read_sink(spark, sink.data_path).drop("ingest_ts").toPandas()
    status = read_sink(spark, sink.data_path, table="status").drop("status_ts").toPandas()
    return data, _rows(status), replayed, _logged_stores(sink.checkpoint)


@pytest.mark.parametrize(
    "merge,leg1_store",
    [(False, None), (True, None), (False, _HDFS)],
    ids=["False", "True", "hdfs"],
)
def test_lost_commit_log_replays_exactly_once(spark, tmp_path, merge, leg1_store):
    """The re-run epoch is already committed, so the sink writes nothing —
    but it must still run the batch: Spark fails a batch whose state
    stores did not all commit, and the restart would fail for good.

    [hdfs]: leg 1 runs on the HDFS-backed store, as checkpoints started
    before RocksDB became the session's store did. Spark logs the store in
    each offset-log entry, so the restart under the RocksDB session keeps
    the HDFS store (offsets/0 and every later entry name it), and the
    replay still ends exactly-once."""
    batches = scenario("random_permutation")
    want = _run_sink(spark, str(tmp_path / "straight"), merge, batches)
    got = _run_sink(spark, str(tmp_path / "replayed"), merge, batches,
                    lose_commit_after=1, leg1_store=leg1_store)
    assert got[2] is not None, "the restart did not re-run the uncommitted epoch"
    assert (_rows(got[0]), got[1]) == (_rows(want[0]), want[1])
    _assert_oracle(got[0], batches)
    assert want[3] == {STATE_STORE_PROVIDER}
    assert got[3] == {leg1_store or STATE_STORE_PROVIDER}


# markers as the two-engine release wrote them (run_pipeline's live pattern)
_PARENT_MARKERS = {
    "plain": '{"engine": "sharded", "n_shards": 32, "pattern": null}',
    "cep": '{"engine": "sharded", "n_shards": 32, "pattern": {"steps": '
    '[["u", "user", null], ["a", "assistant", null], ["c", "tool", null]], '
    '"within_s": null, "mode": "strict", "within_turns": null, "not_between": null}}',
}


def _old_checkpoint(base, name, marker):
    ckpt = os.path.join(base, name)
    os.makedirs(os.path.join(ckpt, "offsets"))  # committed streaming state
    with open(os.path.join(ckpt, "_ordered_engine.json"), "w") as f:
        f.write(marker)
    return ckpt


def test_marker_refuses_classic_resumes_sharded(spark, tmp_path):
    """A checkpoint of the removed per-conv_id engine is refused at start;
    one the shard-keyed engine wrote before it became the only engine
    resumes, with and without a CEP pattern."""
    classic = '{"engine": "classic", "n_shards": null}'
    ckpt = _old_checkpoint(str(tmp_path), "classic", classic)
    with pytest.raises(ValueError, match="cannot resume"):
        _marked_ordered_stream(None, ckpt, None, 8)
    with open(os.path.join(ckpt, "_ordered_engine.json")) as f:
        assert f.read() == classic  # refused, not rewritten

    src = StagedStream(spark, str(tmp_path)).source()
    pattern = (Step("u", role="user"), Step("a", role="assistant"), Step("c", role="tool"))
    for name, cfg in (("plain", None), ("cep", OrderedStreamConfig(pattern=pattern))):
        ckpt = _old_checkpoint(str(tmp_path), name, _PARENT_MARKERS[name])
        unified = _marked_ordered_stream(src, ckpt, cfg, 32)
        assert unified.isStreaming
        assert ("match_start_idx" in unified.columns) == (cfg is not None)
        with open(os.path.join(ckpt, "_ordered_engine.json")) as f:
            assert f.read() == _PARENT_MARKERS[name]  # resumed, not rewritten


_STRICT = (Step("u", role="user"), Step("a", role="assistant"))
_STRICT_STEPS = [["u", "user", None], ["a", "assistant", None]]
_SKIP = OrderedStreamConfig(pattern=_STRICT, pattern_mode="skip")
_SKIP_SPEC = {"steps": _STRICT_STEPS, "within_s": None, "mode": "skip",
              "within_turns": None, "not_between": None}


@pytest.mark.parametrize(
    "prior,cfg",
    [
        ({"engine": "sharded", "n_shards": 8}, None),
        ({"engine": "sharded", "n_shards": 8, "pattern": _STRICT_STEPS},
         OrderedStreamConfig(pattern=_STRICT)),
        ({"engine": "sharded", "n_shards": 8,
          "pattern": {"steps": _STRICT_STEPS, "within_s": None}},
         OrderedStreamConfig(pattern=_STRICT)),
        ({"engine": "sharded", "n_shards": 8, "pattern": _SKIP_SPEC}, _SKIP),
    ],
    ids=["no_pattern_key", "list_pattern", "no_mode_keys", "skip_no_frontier_fields"],
)
def test_marker_refuses_other_formats(tmp_path, prior, cfg):
    """A marker in any form this build does not write is refused with the
    one mismatch error at start, before any batch runs, and stays as it
    was."""
    marker = json.dumps(prior)
    ckpt = _old_checkpoint(str(tmp_path), "ckpt", marker)
    with pytest.raises(ValueError, match="cannot resume"):
        _marked_ordered_stream(None, ckpt, cfg, 8)
    with open(os.path.join(ckpt, "_ordered_engine.json")) as f:
        assert f.read() == marker


def test_engine_marker_pins_n_shards(tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _check_engine_marker(ckpt, "sharded", 256)
    _check_engine_marker(ckpt, "sharded", 256)  # same config resumes fine
    with pytest.raises(ValueError, match="n_shards"):
        _check_engine_marker(ckpt, "sharded", 512)


def test_marker_refuses_premarker_checkpoint(tmp_path):
    """A checkpoint with committed state but no engine marker predates
    config pinning — its n_shards is unknowable, so resume must refuse
    instead of guessing (the default changed, silent re-keying risk)."""
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(os.path.join(ckpt, "offsets"))
    with pytest.raises(ValueError, match="no.*marker|marker"):
        _check_engine_marker(ckpt, "sharded", 256)
