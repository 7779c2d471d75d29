"""Streaming lexical retrieval from the persisted token-stats artifact.

The fourth artifact-serving stream (with dedup-on-arrival, quota
admission, and ANN serving): a stream of TEXT queries is answered
micro-batch by micro-batch from the ONE persisted token-stats
artifact (`extensions.tokenindex.token_stats` — tf/df posting frames
+ exact N/avgdl marker scalars). No corpus tokenize, no statistics
build in the serve loop: each trigger tokenizes only the incoming
query batch, broadcasts its distinct terms into the posting join, and
aggregates (query, doc) scores — the online search-box shape, and the
sparse twin of `streaming.annserve.stream_ann_topk`.

Per-batch results are IDENTICAL to the batch BM25 on the same query
rows — queries are scored independently against a FIXED corpus
version, so foreachBatch changes delivery, never answers (pinned by
tests/test_streaming.py). Each micro-batch overwrites its own
``out_path/batch_id=<n>`` directory (the per-batch writer of
streaming/sink.py), so an at-least-once replay rewrites it instead of
duplicating rows; readers see ``batch_id`` as a partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.streaming.sink import per_batch, start


def stream_bm25_topk(
    query_stream: DataFrame,
    sf_dir: str,
    out_path: str,
    checkpoint_dir: str,
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    trigger_available_now: bool = False,
):
    """Start answering ``query_stream`` micro-batches from the
    token-stats artifact of ``sf_dir``; (query_id, rank, doc_id,
    score) rows land in ``out_path/batch_id=<n>``. Returns the
    StreamingQuery. The artifact is resolved per trigger by its
    stat-fingerprint marker (a filesystem check, no scan; built only
    if missing/stale) — the serve loop reads persisted parquet."""

    def topk(batch_df: DataFrame) -> DataFrame:
        spark = batch_df.sparkSession
        from aws_imdb_data_pipeline_spark.extensions.retrieval import bm25_topk
        from aws_imdb_data_pipeline_spark.extensions.tokenindex import (
            token_stats,
        )

        ts = token_stats(spark, sf_dir)
        tf = ts.tfl().select(
            "doc_id", F.col("lword").alias("__t"),
            F.col("tf").alias("__tf"), F.col("dl").alias("__dl"),
        )
        dfreq = ts.dfl().select(
            F.col("lword").alias("__t"), F.col("df").alias("__df")
        )
        return bm25_topk(
            batch_df, batch_df, id_col="doc_id",
            qid_col=qid_col, qtext_col=qtext_col, k=k, k1=k1, b=b,
            corpus=(tf, dfreq, (ts.n_docs, ts.avgdl)),
        )

    return start(
        query_stream, per_batch(out_path, topk), checkpoint_dir,
        trigger_available_now,
    )
