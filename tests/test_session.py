"""Session factory defaults that must hold on any host."""

from __future__ import annotations

import os

from etl_sprint_2_5_spark.session import default_parallelism


def test_default_parallelism_follows_the_host(monkeypatch):
    """Without SPARK_GRAFT_CPUS the core count is the CPUs this process
    may use, not a fixed 32; the variable still wins when set."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
