"""Streaming ANN serving from the persisted IVF-PQ index.

The third artifact-serving stream (with dedup-on-arrival and quota
admission): a stream of query vectors is answered micro-batch by
micro-batch from the ONE persisted index
(`extensions.pq.build_pq_index`) — no training, no encoding, no
corpus pass in the serve loop. This is the online-retrieval shape: an
embedding service emits query vectors; each trigger probes n_probe
cells (parquet partition pruning on ``__list``), ADC-scores codes,
and exact-cosine re-ranks a bounded shortlist.

Per-batch results are IDENTICAL to the batch serve on the same rows —
queries are scored independently, so foreachBatch changes delivery,
never answers (pinned by tests/test_streaming.py). Each micro-batch
overwrites its own ``out_path/batch_id=<n>`` directory (the per-batch
writer of streaming/sink.py), so an at-least-once replay rewrites it
instead of duplicating rows; readers see ``batch_id`` as a partition
column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from aws_imdb_data_pipeline_spark.streaming.sink import per_batch, start


def stream_ann_topk(
    query_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    refine_factor: int = 8,
    trigger_available_now: bool = False,
):
    """Start a query answering ``query_stream`` micro-batches from the
    IVF-PQ index at ``index_path``; (query_id, neighbor_id, cosine) rows
    land in ``out_path/batch_id=<n>``. Returns the StreamingQuery."""
    from aws_imdb_data_pipeline_spark.extensions.pq import (
        cosine_topk_ivf_pq_from_index,
    )

    def topk(batch_df: DataFrame) -> DataFrame:
        return cosine_topk_ivf_pq_from_index(
            batch_df, batch_df.sparkSession, index_path, id_col, vec_col,
            k=k, n_probe=n_probe, refine_factor=refine_factor,
        )

    return start(
        query_stream, per_batch(out_path, topk), checkpoint_dir,
        trigger_available_now,
    )
