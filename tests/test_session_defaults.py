"""Host-sizing guards in session.py (r7 ADVICE + verdict #6): the tmpfs
scratch default must fall back to disk when /dev/shm is small, and the
driver-heap default must respect a container cgroup limit even when
/proc/meminfo reports the (larger) host memory. Pure-Python, no Spark."""

from __future__ import annotations

import os

from data_engineering_spotify_etl_airflow_aws_spark import session


class _FakeStatvfs:
    def __init__(self, free_bytes: int):
        self.f_bavail = free_bytes // 4096
        self.f_frsize = 4096


def test_local_dir_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/scratch/elsewhere")
    assert session._default_local_dir() == "/scratch/elsewhere"


def test_local_dir_uses_tmpfs_when_roomy(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.setattr(os.path, "isdir", lambda p: True)
    monkeypatch.setattr(os, "access", lambda p, m: True)
    monkeypatch.setattr(os, "statvfs", lambda p: _FakeStatvfs(64 << 30))
    assert session._default_local_dir() == "/dev/shm/spark_graft_local"


def test_local_dir_falls_back_when_tmpfs_small(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.setattr(os.path, "isdir", lambda p: True)
    monkeypatch.setattr(os, "access", lambda p, m: True)
    monkeypatch.setattr(os, "statvfs", lambda p: _FakeStatvfs(2 << 30))
    assert session._default_local_dir() == "/tmp/spark_graft_local"


def test_local_dir_falls_back_when_tmpfs_unwritable(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.setattr(os.path, "isdir", lambda p: True)
    monkeypatch.setattr(os, "access", lambda p, m: False)
    assert session._default_local_dir() == "/tmp/spark_graft_local"


def _patch_cgroup_file(tmp_path, monkeypatch, content: str):
    real_open = open
    f = tmp_path / "memory.max"
    f.write_text(content)

    def fake_open(path, *a, **k):
        if path == "/sys/fs/cgroup/memory.max":
            return real_open(f)
        raise OSError(path)

    monkeypatch.setattr("builtins.open", fake_open)


def test_cgroup_limit_parses_v2(tmp_path, monkeypatch):
    _patch_cgroup_file(tmp_path, monkeypatch, str(4 << 30))
    assert session._cgroup_limit_bytes() == 4 << 30


def test_cgroup_limit_unlimited_is_none(tmp_path, monkeypatch):
    _patch_cgroup_file(tmp_path, monkeypatch, "max")
    assert session._cgroup_limit_bytes() is None


def test_cgroup_limit_found_on_ancestor(tmp_path, monkeypatch):
    """A systemd-slice / host-cgroupns limit lives on the process's own
    cgroup path, not the root; the walk must find it (review finding)."""
    real_open = open
    self_cg = tmp_path / "cgroup"
    self_cg.write_text("0::/a/b\n")
    ancestor = tmp_path / "memory.max"
    ancestor.write_text(str(4 << 30))

    def fake_open(path, *a, **k):
        if path == "/proc/self/cgroup":
            return real_open(self_cg)
        if path == "/sys/fs/cgroup/a/memory.max":  # limit on the ancestor
            return real_open(ancestor)
        raise OSError(path)  # leaf and root files absent

    monkeypatch.setattr("builtins.open", fake_open)
    assert session._cgroup_limit_bytes() == 4 << 30


def test_driver_mem_clamped_by_cgroup(monkeypatch):
    # host reports plenty (meminfo) but the container is capped at 5 GiB:
    # the heap must size off the cgroup (5//2 -> 2g floor-clamped), not 8g
    monkeypatch.setattr(
        session, "_cgroup_limit_bytes", lambda: 5 << 30
    )
    mem = session._default_driver_mem()
    assert mem == "2g"


def _patch_meminfo(tmp_path, monkeypatch, avail_kib: int):
    real_open = open
    f = tmp_path / "meminfo"
    f.write_text(f"MemTotal: {avail_kib * 2} kB\nMemAvailable: {avail_kib} kB\n")

    def fake_open(path, *a, **k):
        if path == "/proc/meminfo":
            return real_open(f)
        return real_open(path, *a, **k)

    monkeypatch.setattr("builtins.open", fake_open)


def test_driver_mem_uncapped_roomy_host_is_8g(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "_cgroup_limit_bytes", lambda: None)
    _patch_meminfo(tmp_path, monkeypatch, 64 * 1024 * 1024)  # 64 GiB
    assert session._default_driver_mem() == "8g"


def test_driver_mem_small_host_clamps_down(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "_cgroup_limit_bytes", lambda: None)
    _patch_meminfo(tmp_path, monkeypatch, 6 * 1024 * 1024)  # 6 GiB
    assert session._default_driver_mem() == "3g"



class _FakeSession:
    """Just the RuntimeConfig surface shuffle_partitions touches."""

    class _Conf(dict):
        def set(self, key, value):
            self[key] = value

    def __init__(self, width: str):
        self.conf = self._Conf({"spark.sql.shuffle.partitions": width})


def test_shuffle_partitions_restores_when_body_raises():
    """The width override holds inside the block and the previous value
    comes back on every exit path, an exception included."""
    import pytest

    spark = _FakeSession("32")
    with pytest.raises(RuntimeError, match="planted"):
        with session.shuffle_partitions(spark, 3):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
            raise RuntimeError("planted")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
