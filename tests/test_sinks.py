"""Sink behaviors: DLQ on write failure, export formats, merge_on_key and
its key index, epoch compaction and its visibility rules, status retention
and key clustering at compaction, raw-channel refusal, unpersist on failed
writes. Epoch idempotency under crashes: test_sink_fault_matrix.py."""

import datetime
import fcntl
import os
import shutil
import tempfile
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA
from dataflow_ordered_processing_spark.session import get_spark
from dataflow_ordered_processing_spark.sources.scenarios import scenario
from dataflow_ordered_processing_spark.streaming import sinks as sk
from dataflow_ordered_processing_spark.streaming.sinks import (
    SinkConfig,
    export_table,
    read_sink,
    split_sink,
)


def _df(spark):
    return spark.createDataFrame(scenario("batch_in_order")[0], schema=TRANSCRIPT_SCHEMA)


def test_dlq_on_sink_failure(spark, tmp_path):
    # split_sink receives whatever micro-batch DataFrame foreachBatch hands
    # it; a plain batch frame drives the failure path deterministically
    batch = _df(spark)
    cfg = SinkConfig(
        data_path="/proc/definitely/not/writable",  # forces the write to fail
        dlq_path=str(tmp_path / "dlq"),
    )
    writer = split_sink(cfg)
    with pytest.raises(Exception):
        writer(batch, 0)
    dlq = spark.read.parquet(str(tmp_path / "dlq" / "writer_error" / "epoch=0"))
    assert dlq.count() == 3  # failed batch landed in the dead-letter table
    assert "ingest_ts" in dlq.columns
    assert dlq.filter("dlq_error = 'writer_error'").count() == 3


def test_row_level_dlq_quarantines_only_poison_rows(spark, tmp_path):
    """One bad row in a batch → exactly 1 DLQ row; the other N-1 rows land
    in the sink (reference: per-row failed-insert capture,
    FailedBigQueryInsertProcessor.java:38-49)."""
    rows = [
        ("c1", 1, "data", "hello"),
        ("c1", 0, "data", "poison: turn_idx < 1"),
        ("c1", 2, "data", "world"),
        (None, 3, "data", "poison: null key"),
        ("c1", None, "status", None),
        ("c1", 4, None, "poison: null row_type (three-valued isin trap)"),
    ]
    batch = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, row_type string, text string"
    )
    cfg = SinkConfig(data_path=str(tmp_path / "data"), dlq_path=str(tmp_path / "dlq"))
    split_sink(cfg)(batch, 5)
    dlq = spark.read.parquet(str(tmp_path / "dlq" / "epoch=5")).toPandas()
    assert sorted(dlq["dlq_error"]) == ["bad_row_type", "bad_turn_idx", "null_key"]
    sunk = spark.read.parquet(str(tmp_path / "data" / "epoch=5"))
    assert sunk.count() == 3
    assert "dlq_error" not in sunk.columns


def test_export_formats(spark, tmp_path):
    df = _df(spark)
    export_table(df, str(tmp_path / "p"), "parquet")
    assert spark.read.parquet(str(tmp_path / "p")).count() == 3
    export_table(df, str(tmp_path / "j"), "json")
    assert spark.read.json(str(tmp_path / "j")).count() == 3
    with pytest.raises(ValueError):
        export_table(df, str(tmp_path / "x"), "orc2")


def test_export_avro_roundtrip(spark, tmp_path):
    """K4 happy path without the spark-avro jar: the pure-Python OCF
    fallback writes real Avro container files, verified by decoding them
    back and comparing every value (incl. nullable tool and µs timestamps)."""
    import glob

    from dataflow_ordered_processing_spark.sources.avro_io import read_ocf

    df = _df(spark)
    out = str(tmp_path / "a")
    export_table(df, out, "avro")
    files = glob.glob(out + "/part-*.avro")
    assert files and os.path.exists(out + "/_SUCCESS")
    rows = []
    for f in files:
        schema, rs = read_ocf(f)
        assert schema["type"] == "record"
        rows.extend(rs)
    got = sorted(rows, key=lambda r: r["turn_idx"])
    want = sorted((r.asDict() for r in df.collect()), key=lambda r: r["turn_idx"])
    assert len(got) == len(want) == 3
    for g, w in zip(got, want):
        for k, v in w.items():
            if hasattr(v, "timestamp"):  # datetime: compare at µs precision
                assert pd.Timestamp(g[k]).value == pd.Timestamp(v).value
            else:
                assert g[k] == v, (k, g[k], v)


def test_merge_on_key_prevents_cross_epoch_duplicates(spark, tmp_path):
    # eager-cleanup mode re-emits on post-completion re-delivery; the
    # merge_on_key sink keeps the data table unique on (conv_id, turn_idx)
    import os

    from dataflow_ordered_processing_spark.sources.scenarios import scenario
    from dataflow_ordered_processing_spark.streaming import (
        OrderedStreamConfig,
        start_ordered_pipeline,
    )
    from streaming_utils import StagedStream

    base = str(tmp_path)
    sink = SinkConfig(
        data_path=os.path.join(base, "data"),
        checkpoint=os.path.join(base, "ckpt"),
        merge_on_key=True,
    )
    st = StagedStream(spark, base)
    q = start_ordered_pipeline(
        st.source(), sink, OrderedStreamConfig(cleanup_on_complete=True)
    )
    try:
        batches = scenario("duplicates")  # ends with re-delivery of turns 1,2
        for b in batches:
            st.push(b)
            q.processAllAvailable()
    finally:
        q.stop()
    data = read_sink(spark, sink.data_path).toPandas()
    assert len(data) == 3
    assert not data.duplicated(subset=["conv_id", "turn_idx"]).any()


def test_iceberg_sink_contract(spark, tmp_path, monkeypatch):
    """Iceberg exactly-once path contract test. The iceberg-spark-runtime
    jar is NOT in this sandbox image and the sandbox has no network (maven
    central DNS fails — attempted 2026-08-16), so the real catalog cannot be
    exercised; this asserts the writeTo(...).append() plumbing: with
    iceberg_table set the sink must append the unified batch (with ingest_ts)
    to exactly that table and must NOT write the parquet epoch fallback.
    Reference: BigQuery Storage Write API exactly-once commit,
    OrderBookProcessingPipeline.java:131-147."""
    calls = []

    class _StubWriter:
        def __init__(self, df, table):
            self._df = df
            self._table = table
            self._opts = {}

        def option(self, k, v):
            self._opts[k] = v
            return self

        def append(self):
            calls.append((self._table, self._df.columns, self._df.count(), dict(self._opts)))

    batch = spark.createDataFrame(
        [("c1", 1, "data", "x")], "conv_id string, turn_idx int, row_type string, text string"
    )
    # patch the RUNTIME class (pyspark 4's classic DataFrame subclass
    # overrides writeTo, so patching the pyspark.sql.DataFrame base is inert)
    monkeypatch.setattr(
        type(batch), "writeTo", lambda self, t: _StubWriter(self, t), raising=True
    )
    cfg = SinkConfig(
        data_path=str(tmp_path / "data"),
        dlq_path=str(tmp_path / "dlq"),
        iceberg_table="local.db.ordered_turns",
    )
    split_sink(cfg)(batch, 3)
    assert len(calls) == 1
    table, cols, n, opts = calls[0]
    assert table == "local.db.ordered_turns"
    assert "ingest_ts" in cols and n == 1
    # the epoch id rides into the snapshot summary — the replay-dedup key
    assert opts == {"snapshot-property.ordered.epoch": "3"}
    assert not os.path.exists(str(tmp_path / "data"))  # no parquet fallback ran

    # checkpoint-replay idempotency: once the table's snapshot summaries
    # contain this epoch, a re-run of the same epoch must NOT append again
    # (mirrors what the parquet path proves for real with _SUCCESS markers)
    import dataflow_ordered_processing_spark.streaming.sinks as sinks_mod

    committed = {"3"}
    monkeypatch.setattr(
        sinks_mod,
        "_iceberg_epoch_committed",
        lambda spark_, table_, epoch_id: str(epoch_id) in committed,
    )
    split_sink(cfg)(batch, 3)  # replayed epoch → no-op
    assert len(calls) == 1
    split_sink(cfg)(batch, 4)  # fresh epoch → appends
    assert len(calls) == 2 and calls[1][3] == {"snapshot-property.ordered.epoch": "4"}


def test_merge_on_key_refused_with_iceberg_table():
    """merge_on_key dedupes through the parquet sink's key index, which an
    Iceberg sink does not keep: the pair is refused at configuration time
    instead of silently appending undeduped rows."""
    with pytest.raises(ValueError, match="merge_on_key"):
        SinkConfig(data_path="d", iceberg_table="cat.db.t", merge_on_key=True)
    assert SinkConfig(data_path="d", iceberg_table="cat.db.t").iceberg_table


def test_iceberg_epoch_committed_reads_snapshot_summaries():
    """_iceberg_epoch_committed issues a pushed-down LIMIT-1 probe against
    the table's .snapshots metadata (never a full collect): present epoch →
    True, absent → False, missing table (first epoch / no catalog) → False,
    and a TRANSIENT error must RAISE (returning False would permit a
    duplicate append on replay)."""
    import re

    import pytest as _pytest

    from dataflow_ordered_processing_spark.streaming.sinks import (
        _iceberg_epoch_committed,
    )

    class _FakeResult:
        def __init__(self, rows):
            self._rows = rows

        def collect(self):
            return self._rows

    class _FakeSpark:
        def __init__(self, committed=(), error=None):
            self._committed = set(committed)
            self._error = error

        def sql(self, q):
            assert ".snapshots" in q and "LIMIT 1" in q  # pushed-down probe
            if self._error is not None:
                raise self._error
            epoch = re.search(r"= '(\d+)'", q).group(1)
            return _FakeResult([1] if epoch in self._committed else [])

    from pyspark.errors.exceptions.base import AnalysisException

    assert _iceberg_epoch_committed(_FakeSpark({"1", "2"}), "t", 2)
    assert not _iceberg_epoch_committed(_FakeSpark({"1", "2"}), "t", 7)
    # unresolvable table/catalog (AnalysisException) → nothing committed
    assert not _iceberg_epoch_committed(
        _FakeSpark(error=AnalysisException("[TABLE_OR_VIEW_NOT_FOUND] t")), "t", 0
    )
    # transient runtime error → must raise (silent False = duplicate append)
    with _pytest.raises(RuntimeError, match="connection reset"):
        _iceberg_epoch_committed(_FakeSpark(error=RuntimeError("connection reset")), "t", 0)


def test_export_avro_overwrite_clears_stale_parts(spark, tmp_path):
    """Re-exporting into the same directory with fewer partitions must not
    leave stale higher-numbered part files (overwrite semantics, matching
    the jar path's mode('overwrite'))."""
    import glob

    from dataflow_ordered_processing_spark.sources.avro_io import read_ocf

    out = str(tmp_path / "a")
    export_table(_df(spark).repartition(4), out, "avro")
    first = set(glob.glob(out + "/part-*.avro"))
    export_table(_df(spark).coalesce(1), out, "avro")
    files = glob.glob(out + "/part-*.avro")
    rows = sum(len(read_ocf(f)[1]) for f in files)
    assert rows == 3  # no stale rows from the 4-partition export
    assert not (set(files) & first) or len(files) < len(first)


@given(st.data())
@settings(max_examples=5, deadline=None)
def test_keyidx_merge_property(data):
    """Property: for ANY contiguous-emission history with arbitrary
    cross-epoch replays, the merged sink holds exactly the first delivery
    of every key — same reference semantics as a set-based dedup."""
    spark = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    path = tempfile.mkdtemp(prefix="keyidx-prop-") + "/data"
    try:
        wb = sk.split_sink(
            sk.SinkConfig(data_path=path, merge_on_key=True)
        )
        convs = ["a", "b", "c"]
        next_turn = {c: 1 for c in convs}
        expected: set = set()
        n_epochs = data.draw(st.integers(2, 5))
        for e in range(n_epochs):
            rows = []
            for c in convs:
                # cross-epoch replay of a PRIOR-epoch prefix only (the
                # operator contract: a batch never duplicates its own fresh
                # emissions; drawing the bound after adding fresh turns
                # would allow same-epoch duplicates)
                prev_hi = next_turn[c] - 1
                if prev_hi >= 1 and data.draw(st.booleans()):
                    upto = data.draw(st.integers(1, prev_hi))
                    rows.extend((c, t, "data") for t in range(1, upto + 1))
                # fresh contiguous turns (operator emission contract)
                k = data.draw(st.integers(0, 3))
                for t in range(next_turn[c], next_turn[c] + k):
                    rows.append((c, t, "data"))
                    expected.add((c, t))
                next_turn[c] += k
            if not rows:
                rows = [("a", 0, "status")]  # keep the epoch non-degenerate
            wb(
                spark.createDataFrame(
                    rows, "conv_id string, turn_idx long, row_type string"
                ),
                e,
            )

        got = Counter(
            (r["conv_id"], r["turn_idx"])
            for r in sk.read_sink(spark, path, table="unified")
            .filter("row_type = 'data'")
            .collect()
        )
        # MULTIPLICITY matters (a set compare would mask double-writes):
        # every key exactly once, no extras, none missing
        assert set(got) == expected
        assert all(v == 1 for v in got.values()), got
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


def _unified_batch(spark, convs, turns):
    rows = [(c, t, "data") for c in convs for t in turns]
    return spark.createDataFrame(rows, "conv_id string, turn_idx long, row_type string")


def _data_keys(spark, path):
    df = sk.read_sink(spark, path, table="unified").filter("row_type = 'data'")
    return sorted((r["conv_id"], r["turn_idx"]) for r in df.collect())


def test_keyidx_merge_scan_bounded_and_exact(spark, tmp_path):
    """60 epochs × 10 convs × 1 new turn: the index scan stays bounded by
    O(#convs × compaction window) while the sink grows 60×; duplicates are
    still dropped exactly."""
    path = os.path.join(str(tmp_path), "data")
    cfg = sk.SinkConfig(data_path=path, merge_on_key=True)
    wb = sk.split_sink(cfg)
    convs = [f"c{i:02d}" for i in range(10)]
    scans = {}
    for e in range(60):
        wb(_unified_batch(spark, convs, [e + 1]), e)
        if e in (2, 29, 59):
            scans[e] = sk._keyidx_raw(spark, path).count()
    # scan volume: bounded by (compaction window + compact gen) × #convs —
    # NOT by the 600 data rows now in the sink
    bound = (sk._KEYIDX_COMPACT_AFTER + 2) * len(convs)
    assert scans[29] <= bound and scans[59] <= bound
    assert scans[59] <= scans[2] + bound  # no growth trend with history
    total = sk.read_sink(spark, path, table="unified").filter("row_type='data'").count()
    assert total == 600
    assert scans[59] < total / 3  # strictly sublinear vs sink size

    # cross-epoch duplicate: full replay of old turns at a NEW epoch id
    wb(_unified_batch(spark, convs, [1, 2, 3, 60]), 60)
    assert (
        sk.read_sink(spark, path, table="unified").filter("row_type='data'").count()
        == 600  # 1,2,3 are ≤ hi; 60 is ≤ hi; nothing lands twice
    )
    # genuinely fresh turn still lands
    wb(_unified_batch(spark, convs, [61]), 61)
    assert (
        sk.read_sink(spark, path, table="unified").filter("row_type='data'").count()
        == 610
    )


def test_keyidx_bootstraps_legacy_sink(spark, tmp_path):
    """A sink written before the index existed (merge_on_key off) gains the
    index on first merged epoch via a one-time catch-up; cross-epoch dups
    against the legacy rows are dropped."""
    path = os.path.join(str(tmp_path), "data")
    plain = sk.split_sink(sk.SinkConfig(data_path=path))
    plain(_unified_batch(spark, ["a", "b"], [1, 2]), 0)
    assert not os.path.isdir(os.path.join(path, "_keyidx"))
    merged = sk.split_sink(
        sk.SinkConfig(data_path=path, merge_on_key=True)
    )
    merged(_unified_batch(spark, ["a", "b"], [2, 3]), 1)  # 2 is a dup
    assert _data_keys(spark, path) == [
        ("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 2), ("b", 3),
    ]


def test_keyidx_all_empty_fold_then_real_delta_dedupes(spark, tmp_path):
    """More than sk._KEYIDX_COMPACT_AFTER status-only epochs (a cold start)
    fold an all-empty key index; later data epochs still dedupe exactly
    against it."""
    path = str(tmp_path / "data")
    wb = sk.split_sink(sk.SinkConfig(data_path=path, merge_on_key=True))

    def batch(row_type, turns):
        return spark.createDataFrame(
            [("c1", t, row_type) for t in turns],
            "conv_id string, turn_idx long, row_type string",
        )

    for epoch in range(sk._KEYIDX_COMPACT_AFTER + 2):
        wb(batch("status", [None]), epoch)
    assert [d for d in os.listdir(sk._keyidx_base(path)) if d.startswith("compact=")]
    wb(batch("data", [1, 2]), 20)
    wb(batch("data", [1, 2, 3]), 21)  # 1 and 2 re-delivered
    got = sk.read_sink(spark, path, table="unified").filter("row_type = 'data'").collect()
    assert sorted(r["turn_idx"] for r in got) == [1, 2, 3]


def test_epoch_compaction_bounds_dirs_and_preserves_rows(spark, tmp_path):
    """30 epochs with fanout 4: visible dir count stays O(fanout × levels)
    instead of 30, and read_sink returns exactly the same rows as the
    uncompacted layout would."""
    path = os.path.join(str(tmp_path), "data")
    cfg = sk.SinkConfig(data_path=path, compact_epochs_after=4)
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
    path = os.path.join(str(tmp_path), "data")
    # grace 0: superseded dirs are swept immediately, so the replay
    # re-creation below exercises a REAL post-deletion window
    cfg = sk.SinkConfig(
        data_path=path, compact_epochs_after=4,
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
    path = os.path.join(str(tmp_path), "data")
    # phase 1: merge OFF, small fanout → ranges fold with no index deltas
    wb_off = sk.split_sink(
        sk.SinkConfig(data_path=path, compact_epochs_after=3)
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
            data_path=path, merge_on_key=True, compact_epochs_after=3
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


def test_compaction_grace_defers_input_deletion(spark, tmp_path):
    """Folded inputs must survive the grace window (an
    external reader may have listed them just before the fold committed)
    while staying INVISIBLE to new listings; grace 0 sweeps them."""
    path = os.path.join(str(tmp_path), "data")
    wb = sk.split_sink(
        sk.SinkConfig(data_path=path, compact_epochs_after=4)
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
    """A maintenance (compaction) failure AFTER the epoch
    committed must fail the batch but must NOT copy the already-committed
    rows into the writer_error DLQ, where a replay would double-ingest."""
    path = os.path.join(str(tmp_path), "data")
    dlq = os.path.join(str(tmp_path), "dlq")
    wb = sk.split_sink(
        sk.SinkConfig(
            data_path=path, dlq_path=dlq, compact_epochs_after=4
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
    """With a small fanout the fold cascades to level 2,
    making an epoch dir, its level-1 cover, and the level-2 cover all
    sweep-eligible in the same pass — decisions must be taken before any
    deletion (the old loop crashed on getmtime of a just-deleted cover).
    Also: a fresh _compact.lock makes a second compactor a no-op."""
    path = os.path.join(str(tmp_path), "data")
    wb = sk.split_sink(
        sk.SinkConfig(data_path=path, compact_epochs_after=None)
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

    fd = os.open(os.path.join(path, "_compact.lock"), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        assert sk.compact_data_epochs(spark, path, fanout=2, grace_seconds=0) == 0
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
    # released → the next call proceeds normally (nothing left to fold)
    assert sk.compact_data_epochs(spark, path, fanout=2, grace_seconds=0) == 0


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_visibility_partitions_epochs_exactly_once(tmp_path_factory, data):
    """THE compaction safety property, driven through random histories:
    after any sequence of folds (each possibly 'crashing' before input
    deletion), replay re-creations of folded epochs, and partial sweeps,
    the visible entries cover every committed epoch id EXACTLY once —
    no loss, no double-read. Pure directory-level simulation of the same
    layout the sink writes (fold = compact=L-lo-hi dir + _SUCCESS)."""
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
        vis = sk._visible_entries(base)
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

        for e in batch:
            if data.draw(st.booleans()):
                shutil.rmtree(e[3], ignore_errors=True)
        # replay may re-create a folded epoch dir (its _SUCCESS died with
        # the fold; _write_idempotent rewrites it)
        if data.draw(st.booleans()):
            mk(f"epoch={data.draw(st.integers(min_value=lo, max_value=hi))}")

    covered: list[int] = []
    for lvl, lo, hi, _p in sk._visible_entries(base):
        covered.extend(range(lo, hi + 1) if lvl else [lo])
    assert sorted(covered) == list(range(n_epochs)), (
        f"visible entries cover {sorted(covered)} != 0..{n_epochs - 1}; "
        f"entries={sk._sink_entries(base)}"
    )


_UNIFIED_SCHEMA = (
    "conv_id string, turn_idx long, row_type string, status_ts timestamp, "
    "received_count long, result_count long"
)


def _data_row(conv, turn):
    return (conv, turn, "data", None, None, None)


def _status_row(conv, epoch):
    ts = datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=epoch)
    return (conv, None, "status", ts, epoch + 1, epoch + 1)


def _n_persistent(spark):
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_unpersist_on_writer_failure(spark, tmp_path, monkeypatch):
    """When the epoch write fails, the persisted
    micro-batch must still be unpersisted — a retrying runner otherwise
    accumulates cached blocks across failures."""
    path = os.path.join(str(tmp_path), "data")
    dlq = os.path.join(str(tmp_path), "dlq")
    cfg = sk.SinkConfig(data_path=path, dlq_path=dlq)
    wb = sk.split_sink(cfg)
    real = sk._write_idempotent

    def fail_data_writes(df, base, epoch_id):
        if base == path:
            raise OSError("disk full")
        return real(df, base, epoch_id)

    monkeypatch.setattr(sk, "_write_idempotent", fail_data_writes)
    baseline = _n_persistent(spark)
    batch = spark.createDataFrame([_data_row("c0", 1)], _UNIFIED_SCHEMA)
    with pytest.raises(OSError, match="disk full"):
        wb(batch, 0)
    # the quarantine DLQ write happened, and no cached blocks leaked
    assert os.path.isdir(os.path.join(dlq, "writer_error"))
    assert _n_persistent(spark) == baseline


def test_status_retention_at_compaction(spark, tmp_path):
    """Folds prune status rows beyond the newest N per conv
    among the rows the fold sees; data rows are untouched; the retained
    window reads back exactly."""
    path = os.path.join(str(tmp_path), "data")
    wb = sk.split_sink(
        sk.SinkConfig(
            data_path=path,
            compact_epochs_after=None,  # compact explicitly below
        )
    )
    convs = ["a", "b"]
    for e in range(8):
        rows = [_data_row(c, e + 1) for c in convs] + [
            _status_row(c, e) for c in convs
        ]
        wb(spark.createDataFrame(rows, _UNIFIED_SCHEMA), e)

    before_status = (
        sk.read_sink(spark, path, table="unified")
        .filter(F.col("row_type") == "status")
        .select("conv_id", "status_ts", "received_count")
        .collect()
    )
    folds = sk.compact_data_epochs(
        spark, path, fanout=4, grace_seconds=0, status_keep_last=2
    )
    assert folds == 1  # oldest 4 epochs folded; 4 level-0 epochs remain

    unified = sk.read_sink(spark, path, table="unified")
    # data rows: all 16 survive
    assert unified.filter(F.col("row_type") == "data").count() == 16
    status = unified.filter(F.col("row_type") == "status")
    # per conv: newest 2 of the folded epochs 0-3, plus untouched 4-7
    per_conv = {
        r["conv_id"]: r["n"]
        for r in status.groupBy("conv_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_conv == {"a": 6, "b": 6}
    kept = {
        (r["conv_id"], r["received_count"]) for r in status.collect()
    }
    expect = {
        (c, e + 1) for c in convs for e in (2, 3, 4, 5, 6, 7)
    }  # epochs 0,1 pruned from the fold
    assert kept == expect
    # retained rows read back value-exact
    before = {(r["conv_id"], r["received_count"]): r["status_ts"] for r in before_status}
    for r in status.collect():
        assert r["status_ts"] == before[(r["conv_id"], r["received_count"])]


def test_compact_generation_clustered_by_key(spark, tmp_path):
    """Compact generations are range-partitioned on conv_id
    and sorted within partitions, so every parquet file is conv_id-sorted
    and row groups carry tight min/max stats — the BigQuery-clustering
    analog that lets per-key reads prune."""
    path = os.path.join(str(tmp_path), "data")
    wb = sk.split_sink(
        sk.SinkConfig(data_path=path, compact_epochs_after=None)
    )
    # interleave keys across epochs so an unordered fold would be unsorted
    for e in range(5):
        rows = [_data_row(f"conv{k:03d}", e + 1) for k in range(40)]
        wb(spark.createDataFrame(rows, _UNIFIED_SCHEMA), e)
    assert sk.compact_data_epochs(spark, path, fanout=4, grace_seconds=0) == 1
    compact_dirs = [d for d in os.listdir(path) if d.startswith("compact=")]
    assert len(compact_dirs) == 1
    cdir = os.path.join(path, compact_dirs[0])
    files = [f for f in os.listdir(cdir) if f.endswith(".parquet")]
    assert files
    for f in files:
        pf = pq.ParquetFile(os.path.join(cdir, f))
        vals = pf.read(columns=["conv_id"]).column("conv_id").to_pylist()
        assert vals == sorted(vals)  # clustered: file is key-sorted
        for rg in range(pf.metadata.num_row_groups):
            col = pf.metadata.row_group(rg).column(0)
            assert col.statistics is not None  # stats exist for pruning
    # the fold still holds every row
    assert sk.read_sink(spark, path, table="unified").count() == 200


def test_compactor_refuses_raw_channel(spark, tmp_path):
    """Compacting a raw passthrough channel would hide rows from
    read_raw and then sweep the originals — the compactor must refuse, and
    read_raw must fail loudly if compact= dirs ever appear under a raw
    path."""
    raw = os.path.join(str(tmp_path), "hot_raw")
    w = sk.raw_passthrough_sink(raw)
    w(
        spark.createDataFrame(
            [("c0", 1, "user", "hi")], "conv_id string, turn_idx long, role string, text string"
        ),
        0,
    )
    with pytest.raises(ValueError, match="raw passthrough"):
        sk.compact_data_epochs(spark, raw, fanout=2, grace_seconds=0)
    assert sk.read_raw(spark, raw).count() == 1  # untouched
    # a committed compact dir under the raw path (a compactor run on it)
    dmg = os.path.join(raw, "compact=1-0-0")
    os.makedirs(dmg)
    open(os.path.join(dmg, "_SUCCESS"), "w").close()
    with pytest.raises(RuntimeError, match="compacted by mistake"):
        sk.read_raw(spark, raw)


def test_unpersist_on_dlq_write_failure(spark, tmp_path, monkeypatch):
    """A failing DLQ write (disk full) must not leak the persisted
    micro-batch either: the unpersist scope starts before the first
    persist(), ahead of the row-level DLQ split."""
    path = os.path.join(str(tmp_path), "data")
    dlq = os.path.join(str(tmp_path), "dlq")
    cfg = sk.SinkConfig(data_path=path, dlq_path=dlq)
    wb = sk.split_sink(cfg)
    real = sk._write_idempotent

    def fail_dlq_writes(df, base, epoch_id):
        if base == dlq:
            raise OSError("dlq disk full")
        return real(df, base, epoch_id)

    monkeypatch.setattr(sk, "_write_idempotent", fail_dlq_writes)
    baseline = _n_persistent(spark)
    # one violating row (NULL conv_id) forces the row-level DLQ write
    batch = spark.createDataFrame(
        [_data_row("c0", 1), _data_row(None, 1)], _UNIFIED_SCHEMA
    )
    with pytest.raises(OSError, match="dlq disk full"):
        wb(batch, 0)
    assert _n_persistent(spark) == baseline


def test_compactor_refuses_marked_raw_channel_even_with_row_type(spark, tmp_path):
    """The _raw_channel marker written by raw_passthrough_sink refuses
    compaction independent of schema, even when the raw rows carry a
    row_type column like the unified sink's."""
    raw = os.path.join(str(tmp_path), "hot_raw")
    w = sk.raw_passthrough_sink(raw)
    # raw rows that HAPPEN to carry a row_type column: the marker must
    # still refuse compaction
    w(
        spark.createDataFrame(
            [("c0", 1, "data")], "conv_id string, turn_idx long, row_type string"
        ),
        0,
    )
    assert os.path.exists(os.path.join(raw, "_raw_channel"))
    with pytest.raises(ValueError, match="_raw_channel marker"):
        sk.compact_data_epochs(spark, raw, fanout=2, grace_seconds=0)
    assert sk.read_raw(spark, raw).count() == 1


def test_epoch_dirs_skip_uncommitted(tmp_path):
    base = str(tmp_path / "sink")
    for e, committed in [(0, True), (1, False), (2, True)]:
        d = os.path.join(base, f"epoch={e}")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as f:
            f.write("x")
        if committed:
            open(os.path.join(d, "_SUCCESS"), "w").close()
    got = [os.path.basename(p) for p in sk.epoch_dirs(base)]
    assert got == ["epoch=0", "epoch=2"]  # partial epoch=1 invisible
