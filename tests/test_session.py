"""Session defaults derive from the host: CPUs from the process's CPU
affinity, the driver heap from physical memory; the env overrides win
and a bad CPU count fails with a message that names the variable."""

from __future__ import annotations

import pytest

from aws_imdb_data_pipeline_spark import session


def test_cpus_default_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 3})
    assert session._session_cpus() == 3


def test_cpus_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert session._session_cpus() == 6


@pytest.mark.parametrize("raw", ["abc", "2.5", "0", "-4", ""])
def test_bad_cpus_raise_naming_the_variable(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session._session_cpus()


@pytest.mark.parametrize(
    "total, want",
    [
        (15 << 30, "11520m"),   # 3/4 of a 15 GiB host
        (64 << 30, "16384m"),   # capped at 16g
        (None, "16384m"),       # no /proc/meminfo
    ],
)
def test_driver_memory_default(monkeypatch, total, want):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_mem_total_bytes", lambda: total)
    assert session._driver_memory() == want


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"


def test_mem_total_parses_meminfo(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemFree:         9000000 kB\n"
        "MemTotal:       15728640 kB\n"
        "MemAvailable:   12000000 kB\n"
    )
    assert session._mem_total_bytes(str(meminfo)) == 15 << 30
    assert session._mem_total_bytes(str(tmp_path / "missing")) is None
