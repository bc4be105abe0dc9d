"""Kill-and-resume: the pipeline restarts from checkpoint, reprocesses
nothing it already committed, and the sink ends exactly-once on
(conv_id, turn_idx) — north_rule: 'resumable from checkpoint with
per-partition lineage + metrics'."""

import json
import os

import pytest

from dataflow_ordered_processing_spark.operators.cep_core import Step
from dataflow_ordered_processing_spark.sources.scenarios import scenario, serial_oracle
from dataflow_ordered_processing_spark.streaming import (
    BufferMetricsListener,
    OrderedStreamConfig,
    start_ordered_pipeline,
)
from dataflow_ordered_processing_spark.streaming.sinks import (
    SinkConfig,
    _marked_ordered_stream,
    read_sink,
)

from streaming_utils import StagedStream


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
    # exactly-once on the idempotency key
    assert not data.duplicated(subset=["conv_id", "turn_idx"]).any()
    # full oracle equality
    want = serial_oracle(batches)
    got = data.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(got["turn_idx"].astype("int64")) == list(want["turn_idx"].astype("int64"))
    assert list(got["text"]) == list(want["text"])
    assert list(got["emit_seq"].astype("int64")) == list(want["emit_seq"].astype("int64"))
    assert committed_leg1 < len(got)  # leg 1 really committed a prefix
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
    assert any(s["custom_metrics"] for s in ops)
    assert {e["event"] for e in events} >= {"started", "progress"}


def _run_sink(spark, base, merge, batches, lose_commit_after=None):
    """Feed `batches` through the pipeline; after batch
    `lose_commit_after`, stop, delete the newest commits/<n> (the process
    died between the sink commit and Spark's commit log write) and restart,
    so Spark re-runs epoch n into an already committed sink epoch. Returns
    (data rows, status rows without their wall-clock stamp, replayed)."""
    sink = SinkConfig(
        data_path=os.path.join(base, "data"),
        checkpoint=os.path.join(base, "ckpt"),
        merge_on_key=merge,
    )
    st = StagedStream(spark, base)
    q = start_ordered_pipeline(st.source(), sink, n_shards=8)
    replayed = None
    try:
        for i, b in enumerate(batches):
            st.push(b)
            q.processAllAvailable()
            if i == lose_commit_after:
                q.stop()
                q.awaitTermination(30)
                commits = os.path.join(sink.checkpoint, "commits")
                n = max(int(f) for f in os.listdir(commits) if f.isdigit())
                for f in (str(n), f".{n}.crc"):  # the log entry and its checksum
                    os.remove(os.path.join(commits, f))
                q = start_ordered_pipeline(st.source(), sink, n_shards=8)
                q.processAllAvailable()
                replayed = n if os.path.exists(os.path.join(commits, str(n))) else None
    finally:
        q.stop()
        q.awaitTermination(30)
    data = read_sink(spark, sink.data_path).drop("ingest_ts").toPandas()
    status = read_sink(spark, sink.data_path, table="status").drop("status_ts").toPandas()

    def rows(df):
        return sorted(map(tuple, df.astype(object).where(df.notna(), None).values.tolist()))

    return rows(data), rows(status), replayed


@pytest.mark.parametrize("merge", [False, True])
def test_lost_commit_log_replays_exactly_once(spark, tmp_path, merge):
    """The re-run epoch is already committed, so the sink writes nothing —
    but it must still run the batch: Spark fails a batch whose state
    stores did not all commit, and the restart would fail for good."""
    batches = scenario("random_permutation")
    want = _run_sink(spark, str(tmp_path / "straight"), merge, batches)
    got = _run_sink(spark, str(tmp_path / "replayed"), merge, batches, lose_commit_after=1)
    assert got[2] is not None, "the restart did not re-run the uncommitted epoch"
    assert got[:2] == want[:2]


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
    ckpt = _old_checkpoint(str(tmp_path), "classic", '{"engine": "classic", "n_shards": null}')
    with pytest.raises(ValueError, match="classic per-conv_id engine, which was removed"):
        _marked_ordered_stream(None, ckpt, None, 8)

    src = StagedStream(spark, str(tmp_path)).source()
    pattern = (Step("u", role="user"), Step("a", role="assistant"), Step("c", role="tool"))
    for name, cfg in (("plain", None), ("cep", OrderedStreamConfig(pattern=pattern))):
        ckpt = _old_checkpoint(str(tmp_path), name, _PARENT_MARKERS[name])
        unified = _marked_ordered_stream(src, ckpt, cfg, 32)
        assert unified.isStreaming
        assert ("match_start_idx" in unified.columns) == (cfg is not None)
        with open(os.path.join(ckpt, "_ordered_engine.json")) as f:
            assert f.read() == _PARENT_MARKERS[name]  # resumed, not rewritten
