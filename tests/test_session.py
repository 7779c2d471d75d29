"""Session defaults derive from the host: CPUs from the process's CPU
affinity, the driver heap from physical memory; the env overrides win
and a bad CPU count fails with a message that names the variable.
``widen`` fans narrow scans out to the session width, and the package
reads no environment knob beyond the four documented ones."""

from __future__ import annotations

import ast
import os

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


@pytest.mark.parametrize(
    "parts, keys, rows, want",
    [
        # a narrow frame widens to the session width, hashed on the key
        pytest.param(1, ("id",), None, "width", id="narrow-keyed"),
        pytest.param(1, (), None, "width", id="narrow-round-robin"),
        # a frame that already scans at least that wide is returned as is
        pytest.param("width", ("id",), None, None, id="already-wide"),
        # ``rows`` clamps the target to rows // 128
        pytest.param(1, ("id",), 3 * 128 + 5, 3, id="rows-clamp"),
        pytest.param(3, ("id",), 3 * 128 + 5, None, id="wide-for-rows"),
        # under 256 rows the target is 1: no exchange at all
        pytest.param(1, ("id",), 255, None, id="under-256-rows"),
    ],
)
def test_widen(spark, parts, keys, rows, want):
    from pyspark.sql import functions as F

    width = spark.sparkContext.defaultParallelism
    assert width > 3, "the rows cases need a session wider than 3"
    n = width if parts == "width" else parts
    df = spark.range(100, numPartitions=n).withColumn("t", F.lit("x"))
    out = session.widen(df, *keys, rows=rows)
    if want is None:
        assert out is df
        return
    assert out.rdd.getNumPartitions() == (width if want == "width" else want)
    plan = out._jdf.queryExecution().executedPlan().toString()
    if keys:
        assert "hashpartitioning(id#" in plan
    else:
        assert "RoundRobinPartitioning" in plan
    assert sorted(r.id for r in out.collect()) == list(range(100))


def _env_reads(tree: ast.AST) -> set[str]:
    """String names read through ``os.environ[...]``,
    ``os.environ.get/setdefault/pop(...)`` or ``os.getenv(...)``."""

    def is_environ(node: ast.AST) -> bool:
        return isinstance(node, ast.Attribute) and node.attr == "environ"

    names = set()
    for node in ast.walk(tree):
        arg = None
        if isinstance(node, ast.Subscript) and is_environ(node.value):
            arg = node.slice
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                f.attr == "getenv" or is_environ(f.value)
            ):
                arg = node.args[0]
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            names.add(arg.value)
    return names


def test_env_knob_inventory():
    """The package's ``SPARK_GRAFT_*`` knobs are exactly the documented
    four: a knob kept only to sweep a setting does not come back. Any
    string literal naming a ``SPARK_GRAFT_*`` variable counts, so a
    read through a variable is caught too."""
    root = os.path.dirname(session.__file__)
    reads, literals = set(), set()
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            with open(os.path.join(dirpath, name)) as f:
                tree = ast.parse(f.read())
            reads |= _env_reads(tree)
            literals |= {
                n.value
                for n in ast.walk(tree)
                if isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and n.value.startswith("SPARK_GRAFT_")
                and n.value.isidentifier()
            }
    want = {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_MASTER",
        "SPARK_GRAFT_ARTIFACTS",
    }
    assert {n for n in reads if n.startswith("SPARK_GRAFT_")} == want
    assert literals == want
