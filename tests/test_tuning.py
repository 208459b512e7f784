"""paddleocr_spark/tuning.py: the tmpfs shuffle-dir probe must be
gated on free space and honor the opt-out (round-4 advice — a
memory-tight container must never point shuffle spill at RAM)."""

import os

from paddleocr_spark.tuning import (
    MIN_FREE_BYTES,
    NO_TMPFS_ENV,
    tmpfs_shuffle_dir,
)


def test_optout_env_wins(monkeypatch):
    monkeypatch.setenv(NO_TMPFS_ENV, "1")
    assert tmpfs_shuffle_dir() is None


def test_missing_root_returns_none():
    assert tmpfs_shuffle_dir("/no/such/tmpfs/dir") is None


def test_free_space_floor(monkeypatch):
    # an impossible floor must disable the probe even on a big tmpfs
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_MIN_FREE", str(1 << 60))
    assert tmpfs_shuffle_dir() is None
    monkeypatch.delenv("SPARK_GRAFT_TMPFS_MIN_FREE")
    # floor = 0: any writable tmpfs qualifies
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_MIN_FREE", "0")
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        assert tmpfs_shuffle_dir() == "/dev/shm/spark_graft_shuffle"


def test_malformed_floor_falls_back_to_default(monkeypatch):
    free = 10 * MIN_FREE_BYTES

    class Stat:
        f_bavail, f_frsize = free, 1

    monkeypatch.setattr(os, "statvfs", lambda _path: Stat)
    monkeypatch.setattr(os.path, "isdir", lambda _path: True)
    monkeypatch.setattr(os, "access", lambda _path, _mode: True)
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_MIN_FREE", "4GiB")
    assert tmpfs_shuffle_dir() == "/dev/shm/spark_graft_shuffle"
    Stat.f_bavail = MIN_FREE_BYTES - 1
    assert tmpfs_shuffle_dir() is None


def test_statvfs_failure_is_safe(monkeypatch):
    def boom(_path):
        raise OSError("statvfs unavailable")

    monkeypatch.setattr(os, "statvfs", boom)
    assert tmpfs_shuffle_dir() is None


def test_default_floor_is_sane():
    assert MIN_FREE_BYTES >= 1 << 30  # never spill into a sub-GiB tmpfs
