"""Streaming data-quality serving: score ARRIVING documents with the
pre-fit quality models — the curation-on-ingest plane of the round-9
quality operators, completing the artifact-serving stream family
(dedup-on-arrival, quota admission, ANN, BM25, IVM, drift):

- :func:`stream_quality_scores`: P(high quality) per incoming doc from
  a pre-trained hashed-BoW logistic model (extensions.qualityml). The
  model is fit ONCE outside the loop; per trigger the transform is a
  broadcast coefficient vector + per-row dot product — stateless, so
  foreachBatch changes delivery, never scores.
- :func:`stream_dsir_weights`: DSIR log importance weight per incoming
  doc under FROZEN unigram models (extensions.textstats.
  dsir_model_frames) — batch-side tokenize only, left join onto the
  model-count frame; new docs never join the model (a corpus-version
  bump refits), the correct serving semantics.

Per-batch outputs are IDENTICAL to the batch scorers on the same rows
(pinned in tests/test_streaming.py). Delivery is EXACTLY-ONCE at the
output through the per-batch writer of streaming/sink.py: each
micro-batch overwrites its own ``batch_id=<n>`` partition directory,
so an at-least-once redelivery rewrites that directory instead of
appending duplicate rows. Readers load the root path; ``batch_id``
surfaces as a partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from aws_imdb_data_pipeline_spark.streaming.sink import per_batch, start


def stream_quality_scores(
    docs_stream: DataFrame,
    model,
    out_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    trigger_available_now: bool = False,
):
    """Write (input columns, quality_prob, quality_pred) rows to
    ``out_path/batch_id=<n>`` per micro-batch (idempotent overwrite —
    replays rewrite, never duplicate). Returns the StreamingQuery."""
    from aws_imdb_data_pipeline_spark.extensions.qualityml import (
        score_quality,
    )

    return start(
        docs_stream,
        per_batch(
            out_path, lambda b: score_quality(model, b, text_col=text_col)
        ),
        checkpoint_dir,
        trigger_available_now,
    )


def stream_dsir_weights(
    docs_stream: DataFrame,
    stats: DataFrame,
    nt: int,
    nq: int,
    v: int,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = False,
):
    """Write (id, n_words, log_weight) rows to ``out_path/batch_id=<n>``
    per micro-batch (idempotent overwrite — replays rewrite, never
    duplicate), scored against the frozen (stats, nt, nq, v) model.
    Returns the StreamingQuery.

    Pass a MATERIALIZED ``stats`` frame (parquet-backed or persisted):
    foreachBatch re-executes the frame's lineage every trigger, and a
    raw dsir_model_frames output would re-tokenize the model corpus
    per batch — exactly the cost freezing exists to avoid."""
    from aws_imdb_data_pipeline_spark.extensions.textstats import (
        dsir_score_batch,
    )

    def score(batch_df: DataFrame) -> DataFrame:
        return dsir_score_batch(
            batch_df, stats, nt, nq, v, id_col=id_col, text_col=text_col
        )

    return start(
        docs_stream, per_batch(out_path, score), checkpoint_dir,
        trigger_available_now,
    )
