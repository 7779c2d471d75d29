"""lifecycle/artifacts.py: the one fingerprint/build-if-missing/marker
helper behind every persisted artifact (PQ index, IVF assignments,
MinHash band index, clustered events, bucketed partsupp)."""

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from aws_imdb_data_pipeline_spark.lifecycle.artifacts import (
    artifact_dir,
    ensure_artifact,
    read_artifact_meta,
    source_fingerprint,
)


@pytest.fixture()
def src_file(tmp_path):
    p = tmp_path / "source.parquet"
    p.write_bytes(b"v1-contents")
    return str(p)


def test_fingerprint_changes_with_source_and_params(src_file):
    fp1 = source_fingerprint(src_file, {"k": 3})
    assert fp1 == source_fingerprint(src_file, {"k": 3})
    assert fp1 != source_fingerprint(src_file, {"k": 4})
    os.utime(src_file, ns=(1, 1))
    assert fp1 != source_fingerprint(src_file, {"k": 3})


def test_build_once_then_serve_warm(src_file, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    calls = []

    def build(path, fp):
        calls.append(fp)
        return {"payload": 42}

    path, meta, rebuilt = ensure_artifact(
        "demo", "/data/sf0.01", src_file, {"k": 3}, build
    )
    assert rebuilt and meta["payload"] == 42 and len(calls) == 1
    assert path == artifact_dir("demo", "/data/sf0.01")
    # warm: marker matches, build NOT called again
    _, meta2, rebuilt2 = ensure_artifact(
        "demo", "/data/sf0.01", src_file, {"k": 3}, build
    )
    assert not rebuilt2 and meta2 == meta and len(calls) == 1


def test_concurrent_callers_build_once(src_file, tmp_path, monkeypatch):
    """Two threads asking for one missing artifact (a stream's
    per-trigger serve beside a batch caller): one builds, the other
    waits and serves the same marker."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    calls = []
    barrier = threading.Barrier(2)

    def build(path, fp):
        calls.append(fp)
        time.sleep(0.3)
        return {"builds": len(calls)}

    def call():
        barrier.wait(timeout=10)
        return ensure_artifact("demo", "/data/sf0.01", src_file, {}, build)

    with ThreadPoolExecutor(2) as pool:
        results = [f.result(timeout=30) for f in [pool.submit(call) for _ in range(2)]]
    assert len(calls) == 1
    assert results[0][1] == results[1][1] == {
        "fingerprint": calls[0], "params": {}, "builds": 1,
    }
    assert sorted(r[2] for r in results) == [False, True]


def test_source_change_triggers_rebuild_in_place(src_file, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    calls = []
    build = lambda path, fp: (calls.append(fp), {"v": len(calls)})[1]
    ensure_artifact("demo", "/data/sf0.01", src_file, {}, build)
    with open(src_file, "ab") as f:
        f.write(b"-more")
    path, meta, rebuilt = ensure_artifact(
        "demo", "/data/sf0.01", src_file, {}, build
    )
    assert rebuilt and meta["v"] == 2 and len(calls) == 2
    # rebuilt IN PLACE: same path, single marker, no stale siblings
    parent = os.path.dirname(path)
    assert os.listdir(parent) == [os.path.basename(path)]


def test_partial_build_leaves_no_marker_and_is_retried(
    src_file, tmp_path, monkeypatch
):
    """The completion-marker property (the ADVICE partsupp hole): a
    build that crashes mid-write must NOT be served warm next time."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))

    def crashing(path, fp):
        os.makedirs(path, exist_ok=True)
        (open(os.path.join(path, "part-0000.parquet"), "w")).write("partial")
        raise RuntimeError("executor lost")

    with pytest.raises(RuntimeError):
        ensure_artifact("demo", "/data/sf0.01", src_file, {}, crashing)
    path = artifact_dir("demo", "/data/sf0.01")
    assert read_artifact_meta(path) is None  # no marker → stale
    _, meta, rebuilt = ensure_artifact(
        "demo", "/data/sf0.01", src_file, {}, lambda p, f: {"ok": True}
    )
    assert rebuilt and meta["ok"] is True


def test_self_marking_build_contract(src_file, tmp_path, monkeypatch):
    """build returns None => it must have written its own marker (the
    PQ/band-index form); the helper validates rather than trusts."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))

    def reader(path):
        try:
            with open(os.path.join(path, "meta.json")) as f:
                return json.load(f)
        except OSError:
            return None

    def good(path, fp):
        os.makedirs(path, exist_ok=True)
        json.dump({"fingerprint": fp}, open(os.path.join(path, "meta.json"), "w"))
        return None

    _, meta, rebuilt = ensure_artifact(
        "selfmark", "/data/sf0.01", src_file, {}, good, meta_reader=reader
    )
    assert rebuilt and meta["fingerprint"] == source_fingerprint(src_file, {})

    def forgetful(path, fp):
        return None

    with pytest.raises(RuntimeError, match="no valid marker"):
        ensure_artifact(
            "forgot", "/data/sf0.01", src_file, {}, forgetful, meta_reader=reader
        )


def test_same_basename_different_parents_get_distinct_slots():
    """Two data dirs sharing a basename must not share an artifact slot:
    with one slot, the full-path fingerprint makes every alternating
    caller see a stale marker and rebuild — silent thrash."""
    a = artifact_dir("demo", "/somewhere/a/sf0.1")
    b = artifact_dir("demo", "/somewhere/b/sf0.1")
    assert a != b
    assert os.path.basename(a).startswith("sf0.1")
    assert os.path.basename(b).startswith("sf0.1")


def test_posting_scan_widens_narrow_small_layouts(spark, tmp_path):
    """The posting-frame reader (tokenindex._posting_scan) round-robin
    widens a layout that is BOTH narrower than the session's
    parallelism AND under the byte cap — the consumer-side guard
    against a narrow builder session serializing the BM25 candidate
    explosion — and leaves wide-enough or large layouts untouched.
    Rows are identical either way (downstream consumers are
    partitioning-independent joins/aggregates)."""
    import aws_imdb_data_pipeline_spark.extensions.tokenindex as ti

    path = str(tmp_path / "tf")
    df = spark.range(1000).selectExpr("id", "id % 7 AS tf")
    df.coalesce(2).write.parquet(path)  # 2 files < defaultParallelism

    wide = ti._posting_scan(spark, path)
    width = spark.sparkContext.defaultParallelism
    assert wide.rdd.getNumPartitions() == width
    assert sorted(map(tuple, wide.collect())) == sorted(
        map(tuple, spark.read.parquet(path).collect())
    )

    # above the byte cap the guard must self-disable (no exchange)
    old = ti._POSTING_WIDEN_BYTES_CAP
    try:
        ti._POSTING_WIDEN_BYTES_CAP = 0
        bare = ti._posting_scan(spark, path)
        assert bare.rdd.getNumPartitions() < width
    finally:
        ti._POSTING_WIDEN_BYTES_CAP = old
