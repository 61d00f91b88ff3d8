"""Session factory defaults that must hold on any host."""

from __future__ import annotations

import os

from etl_sprint_2_5_spark.session import (
    default_driver_memory,
    default_parallelism,
)


def test_default_parallelism_follows_the_host(monkeypatch):
    """Without SPARK_GRAFT_CPUS the core count is the CPUs this process
    may use, not a fixed 32; the variable still wins when set."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


def test_default_driver_memory_follows_the_host(monkeypatch):
    """Without SPARK_GRAFT_DRIVER_MEM the driver gets a quarter of the
    host's physical memory, at least 1g and at most 16g; the variable
    still wins when set."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    mem = default_driver_memory()
    assert mem.endswith("m")
    assert 1024 <= int(mem[:-1]) <= min(16 * 1024, max(host_mb // 4, 1024))
    monkeypatch.setattr(os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (256 << 30) // 4096,
    }[name])
    assert default_driver_memory() == "16384m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
