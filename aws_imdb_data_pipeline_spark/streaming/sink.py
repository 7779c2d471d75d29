"""One commit path for every ``foreachBatch`` stream in the engine.

``foreachBatch`` is at-least-once: a crash between a batch's writes
and the checkpoint commit makes a restart re-deliver that batch under
the same ``batch_id``. Each stream sink gets exactly-once output from
one of two rules — the streaming forms of the reference's two commit
rules (an idempotent DELETE+INSERT warehouse load; a control file
written only after the upload succeeded):

- :func:`per_batch` — stateless outputs. Each batch OVERWRITES its own
  ``out_path/batch_id=<n>`` directory, so a replay rewrites that
  directory instead of appending duplicate rows. Readers load
  ``out_path``; ``batch_id`` surfaces as an int partition column.
- :func:`versioned` — cross-batch state. The caller's step reads the
  previous version and writes the new one into ``_staging_v<n>``,
  which is renamed to ``v=<n>`` and published by ONE atomic
  ``_latest.json`` ``{batch_id, checkpoint}`` replace. A replay of a
  committed batch sees the marker at-or-past its id and skips, so a
  crash before the marker moves replays cleanly (the orphan staging
  and version dirs are cleared first) and a crash after it cannot
  double-apply. Staging, not an in-place overwrite, because the step
  reads the previous version lazily while it writes. Versions older
  than the previous one are dropped; the previous one covers readers
  mid-scan of the version just superseded.

:func:`committed` reads the latest published version and :func:`start`
is the one ``writeStream.foreachBatch`` start block.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from aws_imdb_data_pipeline_spark.lifecycle.artifacts import (
    read_json,
    write_json,
)

BatchFn = Callable[[DataFrame, int], None]


def start(
    stream: DataFrame, fn: BatchFn, checkpoint_dir: str, available_now: bool
):
    """Run ``fn(batch_df, batch_id)`` per micro-batch of ``stream``,
    checkpointed at ``checkpoint_dir``. Returns the StreamingQuery."""
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def per_batch(
    out_path: str, frame: Callable[[DataFrame], DataFrame]
) -> BatchFn:
    """Batch function overwriting ``out_path/batch_id=<n>`` with
    ``frame(batch_df)`` — replays rewrite, never duplicate."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        frame(batch_df).write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch_id={batch_id}")
        )

    return fn


def _is_replay(
    marker: dict | None, batch_id: int, checkpoint_dir: str
) -> bool:
    """True iff ``batch_id`` is an at-least-once REPLAY of an already
    committed batch and must be skipped. Batch ids are monotone per
    CHECKPOINT, so a marker at-or-past the incoming id is a replay only
    when the checkpoint matches; a fresh checkpoint restarts ids at 0,
    and skipping there would drop every batch against the surviving
    state. That is an operator error (two streams claiming one state
    dir) — raise, don't drop data. Markers without the checkpoint field
    keep the skip-on-regression behaviour."""
    if marker is None or marker["batch_id"] < batch_id:
        return False
    committed_ckpt = marker.get("checkpoint")
    if committed_ckpt is not None and committed_ckpt != checkpoint_dir:
        raise RuntimeError(
            f"state dir was committed by a different stream "
            f"(checkpoint {committed_ckpt!r}, this stream "
            f"{checkpoint_dir!r}, marker batch {marker['batch_id']} >= "
            f"incoming batch {batch_id}): refusing to silently drop "
            f"batches — point the stream at a fresh state_dir or reuse "
            f"the original checkpoint"
        )
    return True


def versioned(
    state_dir: str,
    checkpoint_dir: str,
    step: Callable[[DataFrame, str | None, str], None],
) -> BatchFn:
    """Batch function committing ``step(batch_df, prev, staging)`` as
    version ``v=<batch_id>`` of ``state_dir``. ``prev`` is the latest
    committed version dir (None before the first commit); the step
    writes its frames under ``staging``."""
    marker_path = os.path.join(state_dir, "_latest.json")

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        marker = read_json(marker_path)
        if _is_replay(marker, batch_id, checkpoint_dir):
            return
        prev = None
        if marker is not None:
            prev = os.path.join(state_dir, f"v={marker['batch_id']}")
        staging = os.path.join(state_dir, f"_staging_v{batch_id}")
        vdir = os.path.join(state_dir, f"v={batch_id}")
        shutil.rmtree(staging, ignore_errors=True)
        step(batch_df, prev, staging)
        # an existing v=<batch_id> is an orphan of a crash before the
        # marker moved — never published, so safe to replace
        shutil.rmtree(vdir, ignore_errors=True)
        os.replace(staging, vdir)
        write_json(
            marker_path, {"batch_id": batch_id, "checkpoint": checkpoint_dir}
        )
        if marker is None:
            return
        for name in os.listdir(state_dir):  # keep current + previous
            if name.startswith("v=") and int(name[2:]) < marker["batch_id"]:
                shutil.rmtree(
                    os.path.join(state_dir, name), ignore_errors=True
                )

    return fn


def committed(spark: SparkSession, state_dir: str, name: str) -> DataFrame:
    """Frame ``name`` of the latest published version of ``state_dir``."""
    marker = read_json(os.path.join(state_dir, "_latest.json"))
    if marker is None:
        raise FileNotFoundError(f"no committed state under {state_dir}")
    return spark.read.parquet(
        os.path.join(state_dir, f"v={marker['batch_id']}", name)
    )
