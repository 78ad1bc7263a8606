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


def test_statvfs_failure_is_safe(monkeypatch):
    def boom(_path):
        raise OSError("statvfs unavailable")

    monkeypatch.setattr(os, "statvfs", boom)
    assert tmpfs_shuffle_dir() is None


def test_default_floor_is_sane():
    assert MIN_FREE_BYTES >= 1 << 30  # never spill into a sub-GiB tmpfs


def test_malformed_floor_falls_back_to_default(monkeypatch, tmp_path):
    from types import SimpleNamespace

    monkeypatch.setenv("SPARK_GRAFT_TMPFS_MIN_FREE", "4GiB")
    path = str(tmp_path / "shuffle")
    for free, want in ((MIN_FREE_BYTES - 1, None), (MIN_FREE_BYTES, path)):
        monkeypatch.setattr(
            os, "statvfs",
            lambda _p, free=free: SimpleNamespace(f_bavail=free, f_frsize=1),
        )
        assert tmpfs_shuffle_dir(path) == want
