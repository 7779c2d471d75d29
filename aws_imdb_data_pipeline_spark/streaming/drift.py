"""Streaming drift monitor: live PSI/KS against a frozen reference
window, maintained per micro-batch from additive cell counts.

Design (and why not a built-in streaming aggregation): the drift
sufficient statistic is the (group, bin) cell-count frame — pure
ADDITIVE counts, no retractions — so each micro-batch contributes a
map-side-combinable delta of at most |groups| x |bins| rows. A
built-in complete-mode aggregation could maintain the counts, but the
monitor must then JOIN them against the reference cells and run the
PSI/KS reduction per trigger, and complete-mode output can't feed a
second aggregation in the same query; foreachBatch runs the whole
tiny cell→psi pipeline per trigger instead, and lets the committed
state double as a batch-readable table.

Exactly-once comes from the versioned sink of streaming/sink.py:
cells + drift are written together as one ``v=<batch_id>`` version
and published by ONE atomic marker replace; a replayed batch
(foreachBatch is at-least-once) sees the marker at-or-past its
batch_id and skips.

100 TB story: per trigger the stream-side work is one partial
aggregate over the batch (combiner-friendly, 8-byte group keys);
state read+write is two |groups|x|bins| frames — independent of both
event volume and history length. The reference cells are computed
once (a batch aggregate over the reference window) and never rescanned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.extensions.drift import (
    bin_value,
    cell_counts,
    psi_ks_from_cells,
)
from aws_imdb_data_pipeline_spark.streaming.sink import (
    committed,
    start,
    versioned,
)


def reference_cells(
    df: DataFrame, group_col: str, value_col: str, width: float = 10.0,
    max_bin: int = 10,
) -> DataFrame:
    """The frozen reference window's (group, bin, cnt_a) cell frame."""
    return cell_counts(
        df, group_col, bin_value(value_col, width, max_bin), "cnt_a"
    )


def current_drift(spark: SparkSession, state_dir: str) -> DataFrame:
    """The committed drift frame as of the latest published version."""
    return committed(spark, state_dir, "drift")


def stream_drift_monitor(
    events_stream: DataFrame,
    reference: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    width: float = 10.0,
    max_bin: int = 10,
    n_bins: int | None = None,
    trigger_available_now: bool = False,
):
    """Start the monitor. ``reference`` is the frozen reference cell
    frame (from :func:`reference_cells`); the stream's arriving events
    accumulate into live cells and every committed version carries the
    merged cells plus the PSI/KS drift frame vs the reference.

    The reference cells are MATERIALIZED into ``state_dir/reference``
    before the stream starts (once per monitor, skipped if already
    present) — per-trigger work reads that tiny parquet back, so the
    reference window's source is scanned exactly once per monitor
    lifetime, never per batch. ``n_bins`` (the Laplace smoothing
    denominator) defaults to ``max_bin + 1`` — the actual bin count —
    so changing the binning can't silently mis-smooth; pass it only to
    mirror an oracle that fixes a different constant."""
    spark = events_stream.sparkSession
    if n_bins is None:
        n_bins = max_bin + 1

    ref_dir = os.path.join(state_dir, "reference")
    if not os.path.exists(os.path.join(ref_dir, "_SUCCESS")):
        reference.coalesce(1).write.mode("overwrite").parquet(ref_dir)
    ref = spark.read.parquet(ref_dir)

    def step(batch_df: DataFrame, prev: str | None, out: str) -> None:
        delta = cell_counts(
            batch_df, group_col, bin_value(value_col, width, max_bin), "cnt_b"
        )
        if prev is not None:
            live = (
                spark.read.parquet(os.path.join(prev, "cells"))
                .unionByName(delta)
                .groupBy(group_col, "bin")
                .agg(F.sum("cnt_b").alias("cnt_b"))
            )
        else:
            live = delta

        live.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, "cells")
        )
        stored_live = spark.read.parquet(os.path.join(out, "cells"))
        # NULL-SAFE merge on the group key: a NULL group is a
        # legitimate groupBy group in the cell frames (bins are
        # non-null by cell_counts' filter), and a null-unsafe
        # USING-join would split it into two half-rows instead of
        # pairing reference against live.
        r, l = ref.alias("__ref"), stored_live.alias("__live")
        gr, gl = F.col(f"__ref.{group_col}"), F.col(f"__live.{group_col}")
        merged = r.join(
            l,
            gr.eqNullSafe(gl)
            & F.col("__ref.bin").eqNullSafe(F.col("__live.bin")),
            "full_outer",
        ).select(
            F.coalesce(gr, gl).alias(group_col),
            F.coalesce(F.col("__ref.bin"), F.col("__live.bin")).alias("bin"),
            F.coalesce(F.col("__ref.cnt_a"), F.lit(0)).alias("cnt_a"),
            F.coalesce(F.col("__live.cnt_b"), F.lit(0)).alias("cnt_b"),
        )
        drift = psi_ks_from_cells(merged, group_col, n_bins=n_bins)
        drift.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, "drift")
        )

    return start(
        events_stream,
        versioned(state_dir, checkpoint_dir, step),
        checkpoint_dir,
        trigger_available_now,
    )
