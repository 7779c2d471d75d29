"""Structured Streaming operators over event streams.

The reference has no streaming surface (kafka-python installed but
never imported, airflow/Dockerfile:17); this module supplies the
stream-processing capabilities a modern pipeline needs, built on
Structured Streaming. Every transformation is expressed so the SAME
function works on a batch DataFrame and a streaming one — Spark's
unified model — which is also how we oracle-test them (batch run vs
DuckDB; streaming run vs batch run).

Watermarks bound state: ``withWatermark`` lets Spark drop window state
once event time passes window_end + delay — mandatory at 100 TB/day
stream volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.streaming.sink import start


def tumbling_counts(
    events: DataFrame,
    window_size: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-event-type counts + value sums in tumbling windows."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window_size).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_value_stats(
    events: DataFrame,
    window_size: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window average value per event type."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window_size, slide).alias("w"), F.col("event_type"))
        .agg(
            # stable cross-engine mean: round the sum before dividing
            # (see plans.relational.stable_avg for the rationale)
            (F.round(F.sum("value"), 4) / F.count("value")).alias("avg_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "avg_value",
            "n_events",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str | None = None,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (dynamic gap-based) per user — built-in
    ``session_window`` (Spark >= 3.2), works in batch AND streaming."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col(key_col),
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def stream_events_from_dir(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over a directory of parquet event files —
    the local stand-in for a Kafka topic; swap ``format('kafka')`` in
    production, transformations unchanged."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_to_lake(
    stream_df: DataFrame,
    lake_path: str,
    checkpoint_dir: str,
    partition_cols: list[str],
    trigger_available_now: bool = True,
):
    """Stream → partitioned parquet lake via foreachBatch.

    Each micro-batch APPENDS through the partitioned writer the batch
    pipeline uses, and the checkpoint gives restart recovery. Delivery
    is AT-LEAST-ONCE: a batch replayed after a crash between its write
    and the checkpoint commit appends its rows again. Deduplicate
    downstream on the event key, or use the per-batch writer of
    streaming/sink.py where duplicates are not acceptable.
    """
    from aws_imdb_data_pipeline_spark.sources.lake import write_partitioned

    return start(
        stream_df,
        lambda batch_df, _id: write_partitioned(
            batch_df, lake_path, partition_cols
        ),
        checkpoint_dir,
        trigger_available_now,
    )


def dedup_events(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Exactly-once event feed from an at-least-once source (Kafka
    redeliveries, producer retries): drop duplicate ``keys`` rows.

    Streaming: ``dropDuplicatesWithinWatermark`` — state holds one
    entry per key only until the watermark passes it, so memory is
    bounded by the duplication window, not the stream's lifetime
    (plain ``dropDuplicates`` on a stream grows state forever).
    Batch: earliest-``ts_col`` row per key (row_number, one shuffle) —
    a DETERMINISTIC representative, unlike ``dropDuplicates`` which
    keeps an arbitrary row. The two paths agree on KEY SETS always;
    they agree on non-key payload columns when duplicates share a
    payload (the redelivery case) or the first-arriving row is also
    the earliest-timestamped; rows tied on (keys, ts) fall back to an
    arbitrary-but-single winner."""
    if events.isStreaming:
        df = events
        if watermark is not None:
            df = df.withWatermark(ts_col, watermark)
        return df.dropDuplicatesWithinWatermark(keys)
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
