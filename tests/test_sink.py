"""The engine's one commit path, driven directly (no stream started):
the atomic JSON marker helpers of lifecycle/artifacts.py and the
versioned-state sink of streaming/sink.py."""

from __future__ import annotations

import os

import pytest

from aws_imdb_data_pipeline_spark.lifecycle.artifacts import (
    dir_bytes,
    read_json,
    write_json,
)
from aws_imdb_data_pipeline_spark.streaming.sink import committed, versioned


def test_json_marker_is_atomic_and_torn_reads_as_missing(tmp_path):
    marker = str(tmp_path / "m" / "_latest.json")
    assert read_json(marker) is None  # missing
    write_json(marker, {"batch_id": 3, "checkpoint": "c"})
    assert read_json(marker) == {"batch_id": 3, "checkpoint": "c"}
    assert os.listdir(tmp_path / "m") == ["_latest.json"]  # no .tmp left
    with open(marker, "w") as f:
        f.write('{"batch_id": ')  # a torn write
    assert read_json(marker) is None


def test_dir_bytes_of_file_tree_and_missing_path(tmp_path):
    (tmp_path / "d" / "e").mkdir(parents=True)
    (tmp_path / "d" / "a").write_bytes(b"x" * 3)
    (tmp_path / "d" / "e" / "b").write_bytes(b"x" * 4)
    assert dir_bytes(str(tmp_path / "d")) == 7
    assert dir_bytes(str(tmp_path / "d" / "a")) == 3
    assert dir_bytes(str(tmp_path / "missing")) == 0


def test_versioned_sink_stages_publishes_skips_replays_and_gcs(
    spark, tmp_path
):
    """Batches 0..2 through the sink: each version folds the previous
    one; only the current and previous versions survive; crash leftovers
    for the committed id (a staging dir, an orphan version dir) are
    cleared; a replay of a committed id is skipped without touching the
    marker; a different checkpoint claiming the state dir raises."""
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    marker = os.path.join(state, "_latest.json")
    prevs = []

    def step(batch_df, prev, out):
        prevs.append(prev)
        rows = batch_df
        if prev is not None:
            rows = spark.read.parquet(os.path.join(prev, "rows")).unionByName(
                batch_df
            )
        rows.write.parquet(os.path.join(out, "rows"))

    def batch(x):
        return spark.createDataFrame([(x,)], "x int")

    os.makedirs(os.path.join(state, "_staging_v2", "rows"))
    os.makedirs(os.path.join(state, "v=2"))
    with open(os.path.join(state, "v=2", "junk"), "w") as f:
        f.write("partial")

    commit = versioned(state, ckpt, step)
    for batch_id in range(3):
        commit(batch(batch_id), batch_id)

    v = [os.path.join(state, f"v={n}") for n in range(3)]
    assert prevs == [None, v[0], v[1]]
    assert sorted(os.listdir(state)) == ["_latest.json", "v=1", "v=2"]
    assert not os.path.exists(os.path.join(v[2], "junk"))
    assert read_json(marker) == {"batch_id": 2, "checkpoint": ckpt}
    rows = committed(spark, state, "rows").collect()
    assert sorted(r.x for r in rows) == [0, 1, 2]

    mtime = os.stat(marker).st_mtime_ns
    commit(batch(99), 2)  # at-least-once replay of a committed batch
    assert len(prevs) == 3
    assert os.stat(marker).st_mtime_ns == mtime

    with pytest.raises(RuntimeError, match="different stream"):
        versioned(state, str(tmp_path / "other"), step)(batch(0), 0)
    assert os.stat(marker).st_mtime_ns == mtime
