"""Streaming incremental near-dup dedup against a persisted band index.

The §16 incremental-dedup batch path (extensions/dedup.py:
incremental_near_dup_pairs — new docs probe the corpus MinHash band
index, batch side broadcast, corpus never re-minhashed) wired into
Structured Streaming via ``foreachBatch``: each arriving micro-batch
of documents is one "new batch", and its verified near-dup pairs land
in a parquet feed as they are discovered. This is the production shape
for crawl ingestion — dedup-on-arrival against the indexed corpus,
instead of nightly re-minhashing 100 TB.

Semantics per micro-batch are IDENTICAL to calling the batch function
on the same rows (pinned by tests/test_streaming.py): foreachBatch
hands a plain DataFrame, so the exact same plan runs — broadcast of
the batch's (band, bucket) rows against the __list-partitioned index,
semi-join-narrowed exact-Jaccard verify.

Delivery is exactly-once at the output: each micro-batch overwrites
its own ``out_path/batch_id=<n>`` directory (the per-batch writer of
streaming/sink.py), so a replayed batch rewrites its pairs instead of
appending them again; readers see ``batch_id`` as a partition
column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from aws_imdb_data_pipeline_spark.streaming.sink import per_batch, start


def stream_incremental_near_dup(
    stream_docs: DataFrame,
    corpus_docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    trigger_available_now: bool = False,
):
    """Start a query draining ``stream_docs`` micro-batches through
    :func:`~aws_imdb_data_pipeline_spark.extensions.dedup.
    incremental_near_dup_pairs` against the index at ``index_path``;
    verified pairs (new_id, corpus_id, jaccard) land in
    ``out_path/batch_id=<n>``. Returns the StreamingQuery.

    ``corpus_docs`` must be the frame the index was built from (the
    verify step re-shingles only candidate corpus docs); stream ids
    must be disjoint from corpus ids — same contract as the batch
    function."""
    from aws_imdb_data_pipeline_spark.extensions.dedup import (
        incremental_near_dup_pairs,
    )

    def pairs(batch_df: DataFrame) -> DataFrame:
        return incremental_near_dup_pairs(
            batch_df, corpus_docs, index_path, id_col, text_col, threshold
        )

    return start(
        stream_docs, per_batch(out_path, pairs), checkpoint_dir,
        trigger_available_now,
    )
