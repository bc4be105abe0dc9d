"""Sink behaviors: DLQ on write failure, export formats, merge_on_key.
Epoch idempotency under crashes: test_sink_fault_matrix.py."""

import os

import pandas as pd
import pytest

from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA
from dataflow_ordered_processing_spark.sources.scenarios import scenario
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
