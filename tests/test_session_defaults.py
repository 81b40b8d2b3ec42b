"""Session defaults fit the host: with SPARK_GRAFT_CPUS and
SPARK_DRIVER_MEMORY unset, the local core count and the driver heap
come from the host instead of a fixed local[32] / 16g."""

from __future__ import annotations

import os

from sync_spark import session


def test_defaults_follow_the_host_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    cpus, mem = session.host_defaults()
    assert cpus == len(os.sched_getaffinity(0))
    assert mem.endswith("m")
    mb = int(mem[:-1])
    total = session._mem_total_mb()
    assert 0 < mb <= session.MAX_DRIVER_MEMORY_MB
    if total is not None:
        assert mb <= total // 2


def test_driver_memory_is_capped_on_a_large_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session, "_mem_total_mb", lambda: 512 * 1024)
    assert session.host_defaults()[1] == f"{session.MAX_DRIVER_MEMORY_MB}m"
    monkeypatch.setattr(session, "_mem_total_mb", lambda: None)
    assert session.host_defaults()[1] == f"{session.MAX_DRIVER_MEMORY_MB}m"


def test_environment_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session.host_defaults() == (3, "2g")
