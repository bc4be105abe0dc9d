"""Session-factory settings (no running Spark) and the one session
warm-up (on the shared test session)."""

from types import SimpleNamespace

import pytest

from dataflow_ordered_processing_spark import session


@pytest.fixture
def big_shm(monkeypatch):
    """Pretend /dev/shm is writable with 64 GiB free: scratch must still
    follow SPARK_GRAFT_SCRATCH alone."""
    monkeypatch.setattr(
        session.os, "statvfs", lambda _p: SimpleNamespace(f_bavail=64 * 1024**3, f_frsize=1)
    )
    monkeypatch.setattr(session.os, "access", lambda _p, _m: True)


def test_scratch_unset_never_auto_detects_tmpfs(monkeypatch, big_shm):
    # tmpfs scratch is opt-in: a big writable /dev/shm alone is not a request
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    assert session._fast_scratch() is None


@pytest.mark.parametrize("value", ["", "0", "off"])
def test_scratch_env_off_values_keep_system_defaults(monkeypatch, big_shm, value):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", value)
    assert session._fast_scratch() is None


def test_scratch_env_path_overrides(monkeypatch, big_shm, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    assert session._fast_scratch() == str(tmp_path)


def test_warm_session_runs_once_per_application(spark):
    sc = spark.sparkContext
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    session._WARMED.discard(sc.applicationId)
    try:
        for group in ("warm-first", "warm-second"):
            sc.setJobGroup(group, group)
            session._warm_session(spark, 4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("warm-first")
    assert tracker.getJobIdsForGroup("warm-second") == []
    assert spark.streams.active == []
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views
