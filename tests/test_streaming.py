"""Structured Streaming: the same operators that run in batch must
produce identical results through readStream (unified API), with
watermarks bounding state."""

from __future__ import annotations

import os

from aws_imdb_data_pipeline_spark.sources.tables import load_table
from aws_imdb_data_pipeline_spark.streaming import (
    sessionize,
    stream_events_from_dir,
    tumbling_counts,
)
from tests.driver_paths import distributed_twin


def _run_stream_to_memory(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    batch_events = load_table(spark, sf_dir, "events")
    # stage the events as a file-stream source (multiple files → many triggers)
    src = str(tmp_path / "events_stream")
    batch_events.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = stream_events_from_dir(spark, src, schema, max_files_per_trigger=1)
    streamed = _run_stream_to_memory(
        spark, tumbling_counts(stream, "1 hour", watermark="2 hours"), "t_tumbling"
    )
    expected = tumbling_counts(batch_events, "1 hour")

    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in streamed.collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in expected.collect()
    }
    assert got == want


def test_sessionize_stream_runs(spark, sf_dir, tmp_path):
    batch_events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_sessions")
    batch_events.repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = stream_events_from_dir(spark, src, schema)
    streamed = _run_stream_to_memory(
        spark,
        sessionize(stream, gap="5 minutes", watermark="1 hour"),
        "t_sessions",
    )
    batch = sessionize(batch_events, gap="5 minutes")
    # complete-mode availableNow over all files must agree with batch
    assert streamed.count() == batch.count()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate event_ids arriving in
    different micro-batches are suppressed while within the watermark."""
    from pyspark.sql import functions as F

    base = spark.range(0, 100).select(
        F.col("id").alias("event_id"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id").cast("double"))).alias("ts"),
    )
    src = str(tmp_path / "dup_stream")
    # write the same ids twice into separate files → separate triggers
    base.coalesce(1).write.mode("append").parquet(src)
    base.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    from aws_imdb_data_pipeline_spark.streaming import dedup_events

    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream = dedup_events(raw, ["event_id"], ts_col="ts", watermark="1 hour")
    # and the SAME function on the batch read gives the same result
    assert dedup_events(spark.read.parquet(src), ["event_id"]).count() == 100
    q = (
        stream.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("t_dedup").count() == 100  # 200 rows in, 100 out


def test_stateful_running_totals_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState custom operator: final per-user state
    after consuming the whole stream equals the batch aggregate."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.streaming.stateful import user_running_totals

    batch_events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    src = str(tmp_path / "stateful_stream")
    batch_events.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = stream_events_from_dir(spark, src, schema, max_files_per_trigger=1)
    q = (
        user_running_totals(stream)
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode emits one row per key per batch → last emission wins
    final = (
        spark.table("t_state")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
    )
    expected = batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    got = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in final.collect()}
    want = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in expected.collect()}
    assert got == want


def test_stateful_timeout_wiring(spark, tmp_path):
    """The timeout parameter maps to a real GroupStateTimeout conf: an
    invalid name raises, and ProcessingTimeTimeout runs end-to-end (state
    can't expire within one availableNow pass, so totals still match)."""
    import pytest
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.streaming.stateful import user_running_totals

    with pytest.raises(ValueError, match="timeout"):
        user_running_totals(spark.range(1), timeout="BogusTimeout")

    src = str(tmp_path / "timeout_stream")
    spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], ["user_id", "value"]
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        user_running_totals(stream, timeout="ProcessingTimeTimeout")
        .writeStream.format("memory")
        .queryName("t_state_timeout")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.table("t_state_timeout")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
        .collect()
    }
    assert final == {1: (2, 15.0), 2: (1, 7.0)}


def test_stream_to_lake_foreachbatch(spark, sf_dir, tmp_path):
    """foreachBatch streaming sink lands partitioned parquet equal to
    the batch write of the same data."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.streaming.events import stream_to_lake

    batch_events = (
        load_table(spark, sf_dir, "events")
        .withColumn("event_date", F.to_date("ts"))
    )
    src = str(tmp_path / "lake_stream_src")
    batch_events.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = stream_events_from_dir(spark, src, schema, max_files_per_trigger=1)
    lake = str(tmp_path / "stream_lake")
    q = stream_to_lake(
        stream, lake, str(tmp_path / "ckpt"), partition_cols=["event_date"]
    )
    q.awaitTermination(180)
    landed = spark.read.parquet(lake)
    assert landed.count() == batch_events.count()
    assert "event_date" in landed.columns
    import os

    assert any(d.startswith("event_date=") for d in os.listdir(lake))


def test_append_mode_emits_only_closed_windows(spark, tmp_path):
    """Append mode + watermark: a window is emitted exactly once, only
    after the watermark passes its end — the semantics a parquet sink
    needs (no in-place updates)."""
    from pyspark.sql import functions as F

    # two files processed in order: first events at 00:00-01:00, then
    # a late batch at 03:00 that pushes the watermark past hour 0-1
    early = spark.createDataFrame(
        [(i, f"2024-01-01 00:{i:02d}:00") for i in range(10)],
        ["event_id", "ts_s"],
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    late = spark.createDataFrame(
        [(100 + i, f"2024-01-01 03:{i:02d}:00") for i in range(5)],
        ["event_id", "ts_s"],
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    src = str(tmp_path / "append_src")
    early.coalesce(1).write.parquet(src + "/f=1")
    late.coalesce(1).write.parquet(src + "/f=2")
    schema = early.schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {str(r.ws): r.n for r in spark.table("t_append").collect()}
    # hour-0 window closed by the hour-3 data → emitted with all 10;
    # hour-3 window still open at end-of-stream → NOT emitted
    assert rows.get("2024-01-01 00:00:00") == 10
    assert "2024-01-01 03:00:00" not in rows


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream join with an event-time range condition and
    watermarks — the streaming counterpart of operators.temporal
    .interval_join (state bounded by the watermark + time range)."""
    from pyspark.sql import functions as F

    clicks = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"), (1, 11, "2024-01-01 10:30:00"),
         (2, 12, "2024-01-01 10:00:00")],
        ["user_id", "click_id", "ts_s"],
    ).select("user_id", "click_id", F.col("ts_s").cast("timestamp").alias("c_ts"))
    purchases = spark.createDataFrame(
        [(1, 20, "2024-01-01 10:05:00"),   # 5min after click 10 → match
         (2, 21, "2024-01-01 11:30:00")],  # 90min after click 12 → no match
        ["user_id", "purchase_id", "ts_s"],
    ).select("user_id", "purchase_id", F.col("ts_s").cast("timestamp").alias("p_ts"))

    c_src, p_src = str(tmp_path / "c"), str(tmp_path / "p")
    clicks.coalesce(1).write.parquet(c_src)
    purchases.coalesce(1).write.parquet(p_src)

    c_stream = (
        spark.readStream.schema(clicks.schema).parquet(c_src)
        .withWatermark("c_ts", "2 hours")
    )
    p_stream = (
        spark.readStream.schema(purchases.schema).parquet(p_src)
        .withWatermark("p_ts", "2 hours")
    )
    from aws_imdb_data_pipeline_spark.streaming import interval_join_streams

    joined = interval_join_streams(
        c_stream, p_stream, on=["user_id"], left_ts="c_ts", right_ts="p_ts",
        max_gap_seconds=3600,
    )
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.format("memory")
        .queryName("t_ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.click_id, r.purchase_id) for r in spark.table("t_ss_join").collect()}
    # only click 10 (10:00) precedes purchase 20 (10:05) within 1h;
    # click 11 is after the purchase, user 2's purchase is 90min late
    assert got == {(10, 20)}


def test_tws_event_type_counts_matches_batch(spark, sf_dir, tmp_path):
    """transformWithStateInPandas MapState operator: after draining the
    stream, the max emitted count per (user, event_type) equals the
    batch groupBy count. Skips where pyspark's state-server protocol
    dependency (protobuf) is absent — see user_event_type_counts."""
    import pytest

    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.streaming.stateful import (
        user_event_type_counts,
    )

    batch_events = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .filter(F.col("user_id") < 50)
    )
    src = str(tmp_path / "tws_stream")
    batch_events.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = stream_events_from_dir(spark, src, schema, max_files_per_trigger=1)
    q = (
        user_event_type_counts(stream)
        .writeStream.format("memory")
        .queryName("t_tws")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    final = (
        spark.table("t_tws")
        .groupBy("user_id", "event_type")
        .agg(F.max("n_events").alias("n_events"))
    )
    expected = batch_events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    got = {(r.user_id, r.event_type): r.n_events for r in final.collect()}
    want = {(r.user_id, r.event_type): r.n_events for r in expected.collect()}
    assert got == want


def test_tws_ttl_uses_processing_time_mode(spark, sf_dir, tmp_path):
    """ttl_ms is only legal under timeMode=ProcessingTime
    (STATEFUL_PROCESSOR_CANNOT_ASSIGN_TTL_IN_NO_TIME_MODE), so the
    operator must flip the mode when a TTL is requested. With a TTL far
    longer than the drain, counts still match batch. Skips without
    protobuf like the main tWS test."""
    import pytest

    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.streaming.stateful import (
        user_event_type_counts,
    )

    batch_events = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .filter(F.col("user_id") < 20)
    )
    src = str(tmp_path / "tws_ttl_stream")
    batch_events.repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = stream_events_from_dir(spark, src, schema, max_files_per_trigger=1)
    q = (
        user_event_type_counts(stream, ttl_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("t_tws_ttl")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    final = (
        spark.table("t_tws_ttl")
        .groupBy("user_id", "event_type")
        .agg(F.max("n_events").alias("n_events"))
    )
    expected = batch_events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    got = {(r.user_id, r.event_type): r.n_events for r in final.collect()}
    want = {(r.user_id, r.event_type): r.n_events for r in expected.collect()}
    assert got == want


def test_interval_join_streams_matches_batch_on_events(spark, sf_dir, tmp_path):
    """interval_join_streams drained over the real events table equals
    the batch run of the SAME function, which equals the oracled
    click_purchase_interval_pairs composition (operators.temporal)."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.sources.tables import load_table
    from aws_imdb_data_pipeline_spark.streaming import interval_join_streams

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c_src, p_src = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks.repartition(3).write.parquet(c_src)
    purchases.repartition(3).write.parquet(p_src)

    c_stream = spark.readStream.schema(clicks.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(c_src)
    p_stream = spark.readStream.schema(purchases.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(p_src)
    streamed = interval_join_streams(
        c_stream, p_stream, on=["user_id"], left_ts="c_ts", right_ts="p_ts",
        max_gap_seconds=3600, watermark="365 days",
    ).select("click_id", "purchase_id")
    q = (
        streamed.writeStream.format("memory")
        .queryName("t_ss_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {(r.click_id, r.purchase_id)
           for r in spark.table("t_ss_events").collect()}

    want = {
        (r.click_id, r.purchase_id)
        for r in interval_join_streams(
            spark.read.parquet(c_src), spark.read.parquet(p_src),
            on=["user_id"], left_ts="c_ts", right_ts="p_ts",
            max_gap_seconds=3600,
        ).select("click_id", "purchase_id").collect()
    }
    assert got == want and len(want) > 0


def test_enrich_stream_static_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast enrichment: drained stream equals the
    batch join, and the streaming plan carries no join state (static
    side broadcast per micro-batch)."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.sources.tables import load_table
    from aws_imdb_data_pipeline_spark.streaming import enrich_stream

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    src = str(tmp_path / "enrich_src")
    ev.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        enrich_stream(stream, dim, ["user_id"])
        .writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.c_mktsegment)
        for r in spark.table("t_enrich").collect()
    }
    want = {
        (r.event_id, r.c_mktsegment)
        for r in enrich_stream(spark.read.parquet(src), dim, ["user_id"]).collect()
    }
    assert got == want and len(want) > 0


def test_stream_incremental_near_dup_matches_batch(spark, tmp_path):
    """Streaming dedup-on-arrival (streaming/incremental.py): docgen
    micro-batches probe the PERSISTED corpus band index via
    foreachBatch, and the accumulated pair feed equals the batch-path
    call on the same rows — per-batch semantics are literally the
    batch function, so parity must be exact (ids, jaccard values)."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.dedup import (
        build_minhash_band_index,
        incremental_near_dup_pairs,
    )
    from aws_imdb_data_pipeline_spark.sources.docgen import DocGenDataSource
    from aws_imdb_data_pipeline_spark.streaming.incremental import (
        stream_incremental_near_dup,
    )

    spark.dataSource.register(DocGenDataSource)
    corpus = (
        spark.read.format("docgen")
        .options(n_docs="300", seed="11")
        .load()
        .select("doc_id", "text")
    )
    idx = str(tmp_path / "band_index")
    build_minhash_band_index(corpus, "doc_id", "text", idx)

    # the arriving stream is a RE-CRAWL of the corpus under fresh ids
    # (disjoint namespace — the batch function's contract)
    shift = 1_000_000
    stream = (
        spark.readStream.format("docgen")
        .options(n_docs="300", rows_per_batch="100", seed="11")
        .load()
        .select((F.col("doc_id") + shift).alias("doc_id"), "text")
    )
    out, ckpt = str(tmp_path / "pairs"), str(tmp_path / "ckpt")
    q = stream_incremental_near_dup(
        stream, corpus, idx, out, ckpt, threshold=0.8
    )

    batch_docs = corpus.select(
        (F.col("doc_id") + shift).alias("doc_id"), "text"
    )
    want = {
        (r.new_id, r.corpus_id, round(r.jaccard, 6))
        for r in incremental_near_dup_pairs(
            batch_docs, corpus, idx, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert len(want) >= 300  # every re-crawled doc matches its source

    # drains the source: a docgen stream must outlive its last batch
    q.processAllAvailable()
    q.stop()

    got_df = spark.read.parquet(out)
    got = {
        (r.new_id, r.corpus_id, round(r.jaccard, 6))
        for r in got_df.collect()
    }
    assert got == want
    # the feed is batch-attributed (the at-least-once replay handle)
    assert got_df.select("batch_id").distinct().count() >= 3

    # at-least-once replay: a crash between the pair write and the
    # checkpoint commit re-delivers the last batch under its batch_id;
    # the feed must not gain a single duplicate pair. The restart runs
    # availableNow over the drained source, so it ends on its own.
    n_before = got_df.count()
    last = got_df.agg(F.max("batch_id")).first()[0]
    _delete_commit(ckpt, last)
    q2 = stream_incremental_near_dup(
        stream, corpus, idx, out, ckpt, threshold=0.8,
        trigger_available_now=True,
    )
    assert q2.awaitTermination(180), "availableNow restart did not finish"
    assert os.path.exists(os.path.join(ckpt, "commits", str(last)))
    replayed = spark.read.parquet(out)
    assert replayed.count() == n_before
    assert {
        (r.new_id, r.corpus_id, round(r.jaccard, 6))
        for r in replayed.collect()
    } == want


def test_stream_per_source_quota_matches_batch_rule(spark, tmp_path):
    """Streaming per-source admission (streaming/quota.py): docgen docs
    arrive in id order, every source stops admitting at the cap, and
    the admitted set equals the batch domain-cap rule (lowest-id-first
    survivors) — the in-order-arrival case where stream and batch
    curation must agree exactly. Cap spans micro-batches, so state
    (one long per source) must carry across triggers."""
    import time

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.operators.topk import top_n_per_group
    from aws_imdb_data_pipeline_spark.sources.docgen import DocGenDataSource
    from aws_imdb_data_pipeline_spark.streaming.quota import (
        admit_per_source_quota,
    )

    spark.dataSource.register(DocGenDataSource)
    opts = {"n_docs": "400", "rows_per_batch": "80", "seed": 7}
    # non-default column names: the operator must alias to its
    # canonical (source, doc_id) BEFORE the stateful UDF ever runs
    # (a past bug read the caller's id_col inside the UDF)
    stream = (
        spark.readStream.format("docgen").options(**opts).load()
        .select(
            F.col("source").alias("domain"), F.col("doc_id").alias("page_id")
        )
    )
    admitted = admit_per_source_quota(
        stream, cap=9, source_col="domain", id_col="page_id"
    )
    q = (
        admitted.writeStream.format("memory")
        .queryName("quota_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    batch = (
        spark.read.format("docgen").options(**opts).load()
        .select("source", "doc_id")
    )
    want = {
        (r.source, r.doc_id)
        for r in top_n_per_group(
            batch, partition_by=["source"], order_by=[F.col("doc_id")], n=9
        ).collect()
    }

    deadline = time.time() + 120
    got_df = spark.table("quota_stream")
    while got_df.count() < len(want) and time.time() < deadline:
        time.sleep(1)
    q.stop()
    got = {(r.source, r.doc_id) for r in got_df.collect()}
    assert got == want
    # quota respected per source
    per_src = got_df.groupBy("source").count().collect()
    assert per_src and all(r["count"] <= 9 for r in per_src)


def test_stream_ann_topk_matches_batch_serve(spark, sf_dir, tmp_path):
    """Streaming ANN serving (streaming/annserve.py): query vectors
    arriving in micro-batches are answered from the persisted IVF-PQ
    index, and the accumulated feed equals the batch serve on the same
    queries — per-query independence means foreachBatch changes
    delivery, never answers."""
    import time

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.pq import (
        cosine_topk_ivf_pq_from_index,
    )
    from aws_imdb_data_pipeline_spark.plans.extensions import ensure_pq_index
    from aws_imdb_data_pipeline_spark.sources.tables import load_table
    from aws_imdb_data_pipeline_spark.streaming.annserve import stream_ann_topk

    index_path, _ = ensure_pq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    qdir = str(tmp_path / "queries")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    queries.repartition(2).write.parquet(qdir)

    out, ckpt = str(tmp_path / "topk"), str(tmp_path / "ckpt")
    qstream = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    q = stream_ann_topk(qstream, index_path, out, ckpt, k=5, n_probe=4)

    want = {
        (r.query_id, r.neighbor_id, r.cosine)
        for r in cosine_topk_ivf_pq_from_index(
            queries, spark, index_path, "vec_id", "embedding",
            k=5, n_probe=4, refine_factor=8,
        ).collect()
    }
    deadline = time.time() + 180
    n = 0
    while n < len(want) and time.time() < deadline:
        try:
            n = spark.read.parquet(out).count()
        except Exception:
            n = 0
        time.sleep(1)
    q.stop()
    got_df = spark.read.parquet(out)
    got = {
        (r.query_id, r.neighbor_id, r.cosine) for r in got_df.collect()
    }
    assert got == want
    assert got_df.select("batch_id").distinct().count() >= 2

    # at-least-once replay of the last batch adds no duplicate rows
    n_before = got_df.count()
    _delete_commit(ckpt, got_df.agg(F.max("batch_id")).first()[0])
    q2 = stream_ann_topk(
        qstream, index_path, out, ckpt, k=5, n_probe=4,
        trigger_available_now=True,
    )
    q2.awaitTermination(180)
    q2.stop()
    replayed = spark.read.parquet(out)
    assert replayed.count() == n_before
    assert {
        (r.query_id, r.neighbor_id, r.cosine) for r in replayed.collect()
    } == want


def test_stream_bm25_topk_matches_batch_serve(spark, sf_dir, tmp_path):
    """Streaming lexical retrieval (streaming/bm25serve.py): text
    queries arriving in micro-batches are answered from the persisted
    token-stats artifact, and the accumulated feed equals the batch
    BM25 on the same queries — per-query independence means
    foreachBatch changes delivery, never answers."""
    import time

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.plans.extensions4 import (
        bm25_from_artifact,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table
    from aws_imdb_data_pipeline_spark.streaming.bm25serve import (
        stream_bm25_topk,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != ""),
                1, 6,
            ),
            " ",
        ).alias("qtext"),
    )
    qdir = str(tmp_path / "queries")
    queries.repartition(2).write.parquet(qdir)

    out, ckpt = str(tmp_path / "topk"), str(tmp_path / "ckpt")
    qstream = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    q = stream_bm25_topk(qstream, sf_dir, out, ckpt, k=3)

    want = {
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in bm25_from_artifact(
            spark, sf_dir, k=3, exclude_self=False
        ).collect()
    }
    deadline = time.time() + 180
    n = 0
    while n < len(want) and time.time() < deadline:
        try:
            n = spark.read.parquet(out).count()
        except Exception:
            n = 0
        time.sleep(1)
    q.stop()
    got_df = spark.read.parquet(out)
    got = {
        (r.query_id, r.rank, r.doc_id, r.score) for r in got_df.collect()
    }
    assert got == want
    assert got_df.select("batch_id").distinct().count() >= 2

    # at-least-once replay of the last batch adds no duplicate rows
    n_before = got_df.count()
    _delete_commit(ckpt, got_df.agg(F.max("batch_id")).first()[0])
    q2 = stream_bm25_topk(
        qstream, sf_dir, out, ckpt, k=3, trigger_available_now=True
    )
    q2.awaitTermination(180)
    q2.stop()
    replayed = spark.read.parquet(out)
    assert replayed.count() == n_before
    assert {
        (r.query_id, r.rank, r.doc_id, r.score) for r in replayed.collect()
    } == want


# ... and again on the distributed BM25 plan
test_stream_bm25_topk_matches_batch_serve_distributed = distributed_twin(
    test_stream_bm25_topk_matches_batch_serve
)


def _delete_commit(ckpt: str, batch_id: int) -> None:
    """Simulate a crash between foreachBatch's writes and the
    checkpoint commit: remove the batch's commit record (and its
    ChecksumFs .crc sibling — a stale crc makes the re-commit rename
    fail as a bogus concurrent-query error) so a restart re-delivers
    the batch under the same batch_id."""
    import os

    commits = os.path.join(ckpt, "commits")
    for name in (str(batch_id), f".{batch_id}.crc"):
        p = os.path.join(commits, name)
        if os.path.exists(p):
            os.remove(p)


def test_stream_ivm_view_matches_recompute_and_skips_replay(
    spark, sf_dir, tmp_path
):
    """Streaming IVM (streaming/ivmserve.py): the changelog arriving
    in micro-batches maintains a grouped COUNT/SUM view whose final
    committed version equals the from-scratch aggregate of the full
    collapsed state; a genuine at-least-once REPLAY (same checkpoint,
    crash simulated by deleting the last checkpoint commit) is skipped
    by the version marker, while a DIFFERENT stream (fresh checkpoint,
    batch ids restarting at 0) claiming the state dir fails loudly
    instead of silently dropping its batches."""
    import json
    import os
    import time

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.lifecycle.cdc import latest_state
    from aws_imdb_data_pipeline_spark.lifecycle.ivm import grouped_state_agg
    from aws_imdb_data_pipeline_spark.plans.cdc import _as_changelog
    from aws_imdb_data_pipeline_spark.sources.tables import load_table
    from aws_imdb_data_pipeline_spark.streaming.ivmserve import (
        current_view,
        stream_ivm_grouped_agg,
    )

    ev = _as_changelog(load_table(spark, sf_dir, "events"))
    # 2 files -> 2 micro-batches; ORDER matters for CDC, so split by
    # time (one file per half), not by hash repartition
    split = "2024-01-15"
    feed = str(tmp_path / "feed")
    ev.filter(F.col("ts") < F.lit(split).cast("timestamp")).coalesce(
        1
    ).write.parquet(feed)
    ev.filter(F.col("ts") >= F.lit(split).cast("timestamp")).coalesce(
        1
    ).write.mode("append").parquet(feed)

    state = str(tmp_path / "state")

    def run(ckpt):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = stream_ivm_grouped_agg(
            stream, state, ckpt,
            keys=["user_id"], seq_cols=["ts", "event_id"],
            group_cols=["event_type"], val_col="value",
            trigger_available_now=True,
        )
        q.awaitTermination(180)
        q.stop()

    run(str(tmp_path / "ckpt1"))
    marker1 = json.load(open(os.path.join(state, "_latest.json")))
    got = {
        r.event_type: (r.n_keys, r.sum_value)
        for r in current_view(spark, state).collect()
    }
    full_state = latest_state(ev, ["user_id"], ["ts", "event_id"])
    want = {
        r.event_type: (r.n_keys, r.sum_value)
        for r in grouped_state_agg(full_state, ["event_type"], "value").collect()
    }
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g][0]
        assert abs(got[g][1] - want[g][1]) < 1e-6

    # NOTE per-batch order: file source delivers files in discovery
    # order here; with >= 2 batches the second one exercised the
    # delta-maintenance path (marker advanced past 0)
    assert marker1["batch_id"] >= 1

    # genuine at-least-once replay: delete the last checkpoint COMMIT
    # (the crash-between-write-and-commit case) and restart with the
    # SAME checkpoint — Spark re-delivers the final batch under the
    # same batch_id; the marker skips it and state is byte-untouched
    mtime = os.stat(os.path.join(state, "_latest.json")).st_mtime_ns
    _delete_commit(str(tmp_path / "ckpt1"), marker1["batch_id"])
    run(str(tmp_path / "ckpt1"))
    assert os.stat(os.path.join(state, "_latest.json")).st_mtime_ns == mtime
    got2 = {
        r.event_type: (r.n_keys, r.sum_value)
        for r in current_view(spark, state).collect()
    }
    assert got2 == got

    # a DIFFERENT stream (fresh checkpoint, ids restart at 0) claiming
    # the same state dir is an operator error: refuse, don't drop data
    import pytest

    with pytest.raises(Exception, match="different stream"):
        run(str(tmp_path / "ckpt2"))
    assert os.stat(os.path.join(state, "_latest.json")).st_mtime_ns == mtime


def test_stream_drift_matches_batch_and_skips_replay(spark, sf_dir, tmp_path):
    """Streaming drift monitor (streaming/drift.py): window-B events
    arriving in micro-batches against a frozen window-A reference must
    commit EXACTLY the batch query's PSI/KS frame (shared cell→psi
    algebra, extensions/drift.py), a genuine same-checkpoint replay is
    skipped by the version marker, and a different stream claiming the
    state dir fails loudly."""
    import json
    import os

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.plans.extensions6 import (
        events_drift_psi,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table
    from aws_imdb_data_pipeline_spark.streaming.drift import (
        current_drift,
        reference_cells,
        stream_drift_monitor,
    )

    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp")
    ref = reference_cells(ev.filter(F.col("ts") < split), "event_type", "value")

    feed = str(tmp_path / "feed")
    b = ev.filter(F.col("ts") >= split).select("event_type", "value")
    half = F.lit("2024-01-23").cast("timestamp")
    ev.filter((F.col("ts") >= split) & (F.col("ts") < half)).select(
        "event_type", "value"
    ).coalesce(1).write.parquet(feed)
    ev.filter(F.col("ts") >= half).select("event_type", "value").coalesce(
        1
    ).write.mode("append").parquet(feed)

    state = str(tmp_path / "state")

    def run(ckpt):
        stream = (
            spark.readStream.schema(b.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = stream_drift_monitor(
            stream, ref, state, ckpt, trigger_available_now=True
        )
        q.awaitTermination(180)
        q.stop()

    run(str(tmp_path / "ckpt1"))
    marker1 = json.load(open(os.path.join(state, "_latest.json")))
    assert marker1["batch_id"] >= 1  # two files -> two micro-batches

    got = {
        r.event_type: (r.psi, r.ks_stat, r.n_a, r.n_b)
        for r in current_drift(spark, state).collect()
    }
    want = {
        r.event_type: (r.psi, r.ks_stat, r.n_a, r.n_b)
        for r in events_drift_psi(spark, sf_dir).collect()
    }
    assert got == want

    # genuine replay: same checkpoint, last commit deleted -> the final
    # batch is re-delivered under its old batch_id and marker-skipped
    _delete_commit(str(tmp_path / "ckpt1"), marker1["batch_id"])
    run(str(tmp_path / "ckpt1"))
    marker2 = json.load(open(os.path.join(state, "_latest.json")))
    assert marker2 == marker1
    got2 = {
        r.event_type: (r.psi, r.ks_stat, r.n_a, r.n_b)
        for r in current_drift(spark, state).collect()
    }
    assert got2 == want

    # a different stream (fresh checkpoint) against this state dir: raise
    import pytest

    with pytest.raises(Exception, match="different stream"):
        run(str(tmp_path / "ckpt2"))


def test_stream_quality_scores_match_batch(spark, sf_dir, tmp_path):
    """Streaming classifier serving (streaming/qualityserve.py): docs
    arriving in micro-batches scored with a PRE-TRAINED hashed-BoW
    model accumulate exactly the batch scorer's output — the transform
    is stateless (broadcast coefficients + per-row dot product), so
    foreachBatch changes delivery, never scores."""
    import time

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.qualityml import (
        score_quality,
        train_quality_classifier,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table
    from aws_imdb_data_pipeline_spark.streaming.qualityserve import (
        stream_quality_scores,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corrupt = F.translate(F.col("text"), "aeiou", "01234")
    labeled = docs.select("doc_id", "text", F.lit(1.0).alias("label")).unionByName(
        docs.select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            corrupt.alias("text"),
            F.lit(0.0).alias("label"),
        )
    )
    model = train_quality_classifier(labeled)

    feed = str(tmp_path / "feed")
    arriving = labeled.select("doc_id", "text")
    arriving.repartition(2).write.parquet(feed)
    out, ckpt = str(tmp_path / "scored"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = stream_quality_scores(
        stream, model, out, ckpt, trigger_available_now=True
    )
    q.awaitTermination(180)
    q.stop()

    want = {
        (r.doc_id, round(r.quality_prob, 9), r.quality_pred)
        for r in score_quality(model, arriving).collect()
    }
    got_df = spark.read.parquet(out)
    got = {
        (r.doc_id, round(r.quality_prob, 9), r.quality_pred)
        for r in got_df.collect()
    }
    assert got == want
    assert got_df.select("batch_id").distinct().count() >= 2

    # at-least-once replay: crash between the parquet write and the
    # checkpoint commit redelivers the last batch under the same
    # batch_id — the per-batch overwrite sink rewrites its own
    # batch_id=<n> directory, so the output carries ZERO duplicates
    n_before = spark.read.parquet(out).count()
    last_batch = got_df.agg(F.max("batch_id")).collect()[0][0]
    _delete_commit(ckpt, last_batch)
    q2 = stream_quality_scores(
        stream, model, out, ckpt, trigger_available_now=True
    )
    q2.awaitTermination(180)
    q2.stop()
    replayed = spark.read.parquet(out)
    assert replayed.count() == n_before
    got2 = {
        (r.doc_id, round(r.quality_prob, 9), r.quality_pred)
        for r in replayed.collect()
    }
    assert got2 == want


def test_stream_dsir_weights_match_batch(spark, sf_dir, tmp_path):
    """Streaming DSIR serving: arriving docs scored against FROZEN
    unigram models (materialized stats frame + exact scalars) equal
    the batch dsir_score_batch on the same rows, bit for bit."""
    import time

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.textstats import (
        dsir_model_frames,
        dsir_score_batch,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table
    from aws_imdb_data_pipeline_spark.streaming.qualityserve import (
        stream_dsir_weights,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    stats, nt, nq, v = dsir_model_frames(docs, F.col("source") == "src0")
    sdir = str(tmp_path / "model_stats")
    stats.write.parquet(sdir)
    frozen = spark.read.parquet(sdir)

    # "new" docs: reversed-token variants under shifted ids (OOV-free
    # but distinct rows), plus a pure-OOV doc exercising the smoothing
    arriving = docs.select(
        (F.col("doc_id") + 50_000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(F.split(F.col("text"), r"\s+"))).alias(
            "text"
        ),
    ).unionByName(
        spark.createDataFrame(
            [(99_999, "zzzq zzzq wwwx")], ["doc_id", "text"]
        )
    )
    feed = str(tmp_path / "feed")
    arriving.repartition(2).write.parquet(feed)
    out, ckpt = str(tmp_path / "weights"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = stream_dsir_weights(
        stream, frozen, nt, nq, v, out, ckpt, trigger_available_now=True
    )
    q.awaitTermination(180)
    q.stop()

    want = {
        (r.doc_id, r.n_words, r.log_weight)
        for r in dsir_score_batch(arriving, frozen, nt, nq, v).collect()
    }
    got_df = spark.read.parquet(out)
    got = {
        (r.doc_id, r.n_words, r.log_weight) for r in got_df.collect()
    }
    assert got == want
    assert got_df.select("batch_id").distinct().count() >= 2


def test_stream_distinct_bitmaps_exact_and_replay_idempotent(
    spark, sf_dir, tmp_path
):
    """Streaming exact distinct (streaming/distinctserve.py): events
    arriving in micro-batches maintain per-day bitmap pages whose
    popcount equals the from-scratch COUNT(DISTINCT) at every grain;
    a genuine at-least-once replay leaves the state byte-identical
    (marker skip — and even without it the OR merge is idempotent),
    and a different stream claiming the state dir fails loudly."""
    import json
    import os

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.sources.tables import load_table
    from aws_imdb_data_pipeline_spark.streaming.distinctserve import (
        current_distinct,
        stream_distinct_bitmaps,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    split = "2024-01-15"
    feed = str(tmp_path / "feed")
    ev.filter(F.col("ts") < F.lit(split).cast("timestamp")).coalesce(
        1
    ).write.parquet(feed)
    ev.filter(F.col("ts") >= F.lit(split).cast("timestamp")).coalesce(
        1
    ).write.mode("append").parquet(feed)

    state = str(tmp_path / "state")

    def run(ckpt):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = stream_distinct_bitmaps(
            stream, state, ckpt,
            key_cols=["day"], value_col="user_id",
            trigger_available_now=True,
        )
        q.awaitTermination(180)
        q.stop()

    run(str(tmp_path / "ckpt1"))
    marker1 = json.load(open(os.path.join(state, "_latest.json")))
    assert marker1["batch_id"] >= 1  # delta-merge path exercised

    got = {
        r.day: r.distinct_exact
        for r in current_distinct(spark, state, ["day"]).collect()
    }
    want = {
        r.day: r.d
        for r in ev.groupBy("day")
        .agg(F.count_distinct("user_id").alias("d"))
        .collect()
    }
    assert got == want
    # global rollup from the same pages, no re-grouping of raw data
    total = current_distinct(spark, state).first().distinct_exact
    assert total == ev.select("user_id").distinct().count()

    # at-least-once replay: crash between state write and checkpoint
    # commit, restart with the SAME checkpoint — state byte-untouched
    mtime = os.stat(os.path.join(state, "_latest.json")).st_mtime_ns
    _delete_commit(str(tmp_path / "ckpt1"), marker1["batch_id"])
    run(str(tmp_path / "ckpt1"))
    assert os.stat(os.path.join(state, "_latest.json")).st_mtime_ns == mtime
    got2 = {
        r.day: r.distinct_exact
        for r in current_distinct(spark, state, ["day"]).collect()
    }
    assert got2 == got

    # a DIFFERENT stream (fresh checkpoint, ids restart at 0) must be
    # refused rather than silently dropped
    import pytest

    with pytest.raises(Exception, match="different stream"):
        run(str(tmp_path / "ckpt2"))


def test_stream_distinct_commit_is_staged_and_crash_tolerant(
    spark, sf_dir, tmp_path
):
    """The bitmap-state commit is stage+rename (round-11 advice): a
    leftover staging dir and an orphan never-published version dir —
    the two artifacts a crash between data write and marker move can
    leave — are cleaned up by the next successful commit, no staging
    dirs survive a healthy drain, and the published state matches the
    from-scratch distinct."""
    import os

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.streaming.distinctserve import (
        current_distinct,
        stream_distinct_bitmaps,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    feed = str(tmp_path / "feed")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(feed)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    # pre-plant both crash artifacts the commit path must tolerate:
    # an unreferenced staging dir and an orphan v= dir for a batch id
    # the stream will commit (data written, marker never moved)
    state = str(tmp_path / "state")
    os.makedirs(os.path.join(state, "_staging_v0", "bitmaps"))
    os.makedirs(os.path.join(state, "v=0", "bitmaps"))
    with open(os.path.join(state, "v=0", "bitmaps", "junk"), "w") as f:
        f.write("partial")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = stream_distinct_bitmaps(
        stream, state, str(tmp_path / "ckpt"),
        key_cols=["day"], value_col="user_id",
        trigger_available_now=True,
    )
    q.awaitTermination(180)
    q.stop()

    leftovers = [d for d in os.listdir(state) if d.startswith("_staging")]
    assert leftovers == []
    assert not os.path.exists(os.path.join(state, "v=0", "bitmaps", "junk"))
    got = {
        r.day: r.distinct_exact
        for r in current_distinct(spark, state, ["day"]).collect()
    }
    want = {
        r.day: r.d
        for r in ev.groupBy("day")
        .agg(F.count_distinct("user_id").alias("d"))
        .collect()
    }
    assert got == want
