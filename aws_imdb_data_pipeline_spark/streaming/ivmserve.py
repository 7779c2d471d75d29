"""Streaming incremental view maintenance: a grouped COUNT/SUM view
kept current from a CDC changelog STREAM.

Completes the lifecycle.ivm story (SCALE.md §28) in the streaming
plane: each micro-batch of changelog rows updates BOTH the key-level
state snapshot and the derived grouped view, via the same
state-transition-delta algebra the batch path uses — per trigger the
snapshot is probed (broadcast semi-join on the batch's touched keys),
±1 deltas aggregate to group cardinality, and the view merges two
group-sized frames. Cost per trigger ∝ batch + touched keys +
|groups|; the full state is scanned, never shuffled.

Why foreachBatch and not a built-in streaming aggregation: Spark's
streaming aggregates maintain append/complete-mode state over event
streams; a CDC feed needs RETRACTIONS (a delete must decrement its
group, an update must move a key between groups), which watermarked
aggregations cannot express. foreachBatch + the delta algebra is the
standard implementation of streaming IVM on Spark.

EXACTLY-ONCE is a transactional-commit property, not an idempotency
hand-wave: snapshot and view are written together as ONE version of
the state and published by ONE atomic marker replace — the versioned
sink of streaming/sink.py. Writing view-then-snapshot or
snapshot-then-view as separate commits fails both crash cases
(double-apply or dropped batch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from aws_imdb_data_pipeline_spark.streaming.sink import (
    committed,
    start,
    versioned,
)


def current_view(spark, state_dir: str) -> DataFrame:
    """The committed view as of the latest published version."""
    return committed(spark, state_dir, "view")


def stream_ivm_grouped_agg(
    changelog_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    seq_cols: list[str],
    group_cols: list[str],
    val_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    trigger_available_now: bool = False,
):
    """Maintain versioned (snapshot, view) state under ``state_dir``
    from a changelog stream; publish each batch with an atomic marker.
    Read the committed view with :func:`current_view`. Returns the
    StreamingQuery."""
    from aws_imdb_data_pipeline_spark.lifecycle.cdc import (
        apply_changelog,
        latest_state,
    )
    from aws_imdb_data_pipeline_spark.lifecycle.ivm import (
        grouped_state_agg,
        maintain_grouped_agg,
        state_transition_deltas,
    )

    def step(batch_df: DataFrame, prev: str | None, out: str) -> None:
        spark = batch_df.sparkSession
        pins: list[DataFrame] = []
        if prev is None:
            new_state = latest_state(
                batch_df, keys, seq_cols, op_col=op_col, delete_op=delete_op
            )
            view = grouped_state_agg(new_state, group_cols, val_col)
        else:
            snapshot = spark.read.parquet(os.path.join(prev, "snapshot"))
            base = spark.read.parquet(os.path.join(prev, "view"))
            deltas = state_transition_deltas(
                snapshot, batch_df, keys, seq_cols,
                op_col=op_col, delete_op=delete_op, pin_registry=pins,
            )
            view = maintain_grouped_agg(base, deltas, group_cols, val_col)
            new_state = apply_changelog(
                snapshot, batch_df, keys, seq_cols,
                op_col=op_col, delete_op=delete_op,
            )
        new_state.write.mode("overwrite").parquet(
            os.path.join(out, "snapshot")
        )
        view.write.mode("overwrite").parquet(os.path.join(out, "view"))
        # the per-batch touched-key pin served its job (both writes are
        # done) — release it, or cached blocks accumulate forever
        for p in pins:
            p.unpersist()

    return start(
        changelog_stream,
        versioned(state_dir, checkpoint_dir, step),
        checkpoint_dir,
        trigger_available_now,
    )
