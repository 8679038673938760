"""Session defaults are sized to the host, not to a fixed large machine."""

import os

from wned_spark.session import default_driver_memory

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _size_bytes(size: str) -> int:
    size = size.strip().lower().rstrip("b")
    if size[-1] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size)


def _process_memory() -> int:
    """Physical RAM, capped by the cgroup v2 or v1 memory limit."""
    mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        if os.path.exists(path):
            with open(path) as f:
                raw = f.read().strip()
            if raw.isdigit():
                mem = min(mem, int(raw))
    return mem


def test_default_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = _size_bytes(default_driver_memory())
    assert 0 < heap <= _process_memory()


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


def test_live_session_heap_at_most_physical_ram(spark):
    max_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert 0 < max_heap <= os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
