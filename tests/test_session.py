"""Session-factory settings that need no running Spark."""

import os
from types import SimpleNamespace

import pytest

from dataflow_ordered_processing_spark import session


@pytest.fixture
def big_shm(monkeypatch):
    """Pretend /dev/shm is writable with 64 GiB free, so tmpfs
    auto-detection would pick it."""
    monkeypatch.setattr(
        session.os, "statvfs", lambda _p: SimpleNamespace(f_bavail=64 * 1024**3, f_frsize=1)
    )
    monkeypatch.setattr(session.os, "access", lambda _p, _m: True)


def test_scratch_unset_auto_detects_tmpfs(monkeypatch, big_shm):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    assert session._fast_scratch() == os.path.join("/dev/shm", "spark-graft-scratch")


@pytest.mark.parametrize("value", ["", "0", "off"])
def test_scratch_env_off_values_keep_system_defaults(monkeypatch, big_shm, value):
    # "" is set-but-empty: it must not fall through to tmpfs auto-detection
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", value)
    assert session._fast_scratch() is None


def test_scratch_env_path_overrides(monkeypatch, big_shm, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    assert session._fast_scratch() == str(tmp_path)
