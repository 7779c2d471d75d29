"""Streaming EXACT distinct counting from OR-merged bitmap partials.

Distinct-user counting on a stream is usually served approximately
(HLL state) because additive counters can't undo a replayed batch.
The bitmap partial (operators/sketches.py:bitmap_partials — one ≤4 KB
page per (key group, 32768-value bucket) of an integer key column)
removes that trade-off: the state merge is a bitwise OR, and OR is
IDEMPOTENT, so an at-least-once replay that re-merges the same batch
leaves the state bit-identical. The committed state therefore answers
"exact distinct users per group so far" at any time, exactly, from a
KB-scale artifact.

State is committed through the versioned sink (streaming/sink.py) —
it gives atomic publication, skips redundant replay work, and rejects
a different stream claiming the state dir — but unlike the additive
IVM/drift state, correctness here does not DEPEND on the skip: a
replay that raced past the marker would OR in the same bits and
change nothing. The sink's stage + rename keeps that argument true
of the implementation too: the merge lazily reads the previous
version while the new one is written, so it never overwrites a path
it reads. ``n_rows`` is deliberately dropped from the streaming state
for the same reason (a sum is not idempotent); row counting belongs
to an additive view, not the distinct artifact.

100 TB story: per trigger the stream-side work is one partial
aggregate over the batch (bitmap pages combine map-side); state
read+write is a |groups| × |buckets| frame of 4 KB pages —
independent of event volume and history length, proportional only to
the live key domain. Reading the current answer never touches the raw
stream history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.lifecycle.artifacts import dir_bytes
from aws_imdb_data_pipeline_spark.operators.sketches import (
    BITMAP_BUCKET_COL,
    BITMAP_COL,
    bitmap_distinct,
    bitmap_partials,
)
from aws_imdb_data_pipeline_spark.streaming.sink import (
    committed,
    start,
    versioned,
)

# Commit-parallelism target: one output file per ~64 MB of on-disk
# state. At the design domain (KB-MB state) this stays 1 — identical
# to the old coalesce(1) — but a very large (group x bucket) domain
# (e.g. 50M-user buckets x days = GB-scale pages) no longer funnels
# the whole state write through a single task.
_STATE_BYTES_PER_PARTITION = 64 * 1024 * 1024


def current_distinct(
    spark: SparkSession,
    state_dir: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT distinct counts per ``group_cols`` (or one global row) as
    of the latest committed version — two tiny aggregations over the
    stored bitmap pages."""
    return bitmap_distinct(
        committed(spark, state_dir, "bitmaps"), group_cols
    )


def stream_distinct_bitmaps(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    *,
    key_cols: list[str],
    value_col: str,
    trigger_available_now: bool = False,
):
    """Start a query folding each arriving micro-batch's bitmap
    partials into the committed state with a per-(key, bucket) OR.
    Semantics per batch are identical to the batch operator on the
    same rows (pinned by tests/test_streaming.py): foreachBatch hands
    a plain DataFrame, so the exact same bitmap_partials plan runs."""
    spark = stream_df.sparkSession

    def step(batch_df: DataFrame, prev: str | None, out: str) -> None:
        delta = bitmap_partials(batch_df, key_cols, value_col).drop(
            "n_rows"
        )
        n_parts = 1
        if prev is not None:
            prev_dir = os.path.join(prev, "bitmaps")
            merged = (
                spark.read.parquet(prev_dir)
                .unionByName(delta)
                .groupBy(*key_cols, BITMAP_BUCKET_COL)
                .agg(F.bitmap_or_agg(BITMAP_COL).alias(BITMAP_COL))
            )
            # domain-proportional commit parallelism: size the write
            # from the PREVIOUS version's on-disk bytes (state grows
            # by at most the batch's new pages, so prev is the right
            # estimator and costs one os.walk, no extra Spark job)
            n_parts = max(
                1, -(-dir_bytes(prev_dir) // _STATE_BYTES_PER_PARTITION)
            )
        else:
            merged = delta  # already one page per (key, bucket)
        merged.repartition(
            n_parts, *key_cols, BITMAP_BUCKET_COL
        ).write.mode("overwrite").parquet(os.path.join(out, "bitmaps"))

    return start(
        stream_df,
        versioned(state_dir, checkpoint_dir, step),
        checkpoint_dir,
        trigger_available_now,
    )
