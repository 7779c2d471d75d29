"""Corpus-cleaning operators (extensions.corpus) unit tests."""

from __future__ import annotations


def test_remove_repeated_lines_boilerplate(spark):
    """Lines in >= min_docs distinct docs are dropped wherever they
    appear; order of survivors is preserved; a doc repeating a line
    INTERNALLY doesn't cross the distinct-doc threshold; an
    all-boilerplate doc survives with empty text."""
    from aws_imdb_data_pipeline_spark.extensions.corpus import (
        remove_repeated_lines,
    )

    header, footer = "COOKIE BANNER", "(c) footer"
    docs = spark.createDataFrame(
        [
            (1, f"{header}\nalpha one\nbeta two\n{footer}"),
            (2, f"{header}\ngamma three\n{footer}"),
            (3, f"{header}\nself\nself\ndelta four\n{footer}"),
            (4, f"{header}\n{footer}"),                 # all boilerplate
            (5, "unique only\nself"),                   # 'self' in 2 docs? no: doc 3 + doc 5 = 2 distinct
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r.text
        for r in remove_repeated_lines(
            docs, "doc_id", "text", min_docs=3
        ).collect()
    }
    assert out[1] == "alpha one\nbeta two"
    assert out[2] == "gamma three"
    # internal repetition of 'self' is 1 distinct doc (+doc 5 = 2 < 3)
    assert out[3] == "self\nself\ndelta four"
    assert out[4] == ""
    assert out[5] == "unique only\nself"


def test_remove_repeated_lines_literal_separator(spark):
    """``sep`` is literal, not a regex: '|' must split on pipes only
    (unescaped it is the regex alternation that splits at every
    position, silently corrupting segmentation)."""
    from aws_imdb_data_pipeline_spark.extensions.corpus import (
        remove_repeated_lines,
    )

    docs = spark.createDataFrame(
        [(1, "ad|keep me|end"), (2, "ad|other text|end")],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r.text
        for r in remove_repeated_lines(
            docs, "doc_id", "text", min_docs=2, sep="|"
        ).collect()
    }
    assert out == {1: "keep me", 2: "other text"}


def test_dup_span_metric_and_trim_null_text_contract(spark):
    """NULL text never leaks negatives out of the public operators:
    the metric reports n_words=0 / 0.0 fraction, trim returns ''."""
    from aws_imdb_data_pipeline_spark.extensions.corpus import (
        dup_span_coverage_metric,
        trim_duplicated_spans,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, "a b c d"), (3, "a b c d")],
        "doc_id int, text string",
    )
    m = {r.doc_id: r for r in dup_span_coverage_metric(
        docs, "doc_id", "text", k=2, min_docs=2
    ).collect()}
    assert (m[1].n_words, m[1].n_dup_shingles, m[1].covered_tokens) == (0, 0, 0)
    assert m[1].dup_token_frac == 0.0
    assert m[2].covered_tokens == 4 and m[2].dup_token_frac == 1.0
    t = {r.doc_id: r.text for r in trim_duplicated_spans(
        docs, "doc_id", "text", k=2, min_docs=2
    ).collect()}
    assert t == {1: "", 2: "", 3: ""}


def test_crawl_diff_fingerprint_equivalence(spark):
    """fingerprint=True (16-byte join rows) classifies identically to
    the raw-text compare, including the NULL≡NULL → unchanged contract
    in both modes."""
    from aws_imdb_data_pipeline_spark.extensions.corpus import crawl_diff

    cur = spark.createDataFrame(
        [(1, "same"), (2, "old body"), (3, "gone"), (4, None)],
        "doc_id bigint, text string",
    )
    nxt = spark.createDataFrame(
        [(1, "same"), (2, "new body"), (4, None), (5, "fresh")],
        "doc_id bigint, text string",
    )
    want = {
        1: "unchanged", 2: "changed", 3: "removed",
        4: "unchanged", 5: "added",
    }
    raw = {r.doc_id: r.status
           for r in crawl_diff(cur, nxt, "doc_id", "text").collect()}
    fp = {r.doc_id: r.status
          for r in crawl_diff(
              cur, nxt, "doc_id", "text", fingerprint=True).collect()}
    assert raw == want and fp == want


def test_crawl_diff_bucketed_versions_zero_exchange(spark, tmp_path):
    """The 100 TB form: both corpus versions bucketed by doc_id → the
    FULL OUTER diff plans with ZERO exchanges (bucket-local sort-merge;
    the fingerprint projection is narrow). Measured at 20M rows in
    SCALE.md §24."""
    from aws_imdb_data_pipeline_spark.extensions.corpus import crawl_diff

    cur = spark.range(0, 2000).selectExpr(
        "id AS doc_id", "concat('body-', id) AS text")
    nxt = spark.range(0, 2000).selectExpr(
        "id AS doc_id",
        "IF(id % 13 = 0, concat('body-', id, ' updated'),"
        " concat('body-', id)) AS text")
    # per-run unique table names: the catalog warehouse is shared, so a
    # fixed name would collide under pytest-xdist or a concurrent bench
    # run (round-7 ADVICE)
    tok = abs(hash(str(tmp_path))) % 10**8
    t_cur, t_nxt = f"cdiff_cur_{tok}", f"cdiff_nxt_{tok}"
    for name, df in ((t_cur, cur), (t_nxt, nxt)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.bucketBy(8, "doc_id").sortBy("doc_id")
           .mode("overwrite").saveAsTable(name))
    try:
        j = crawl_diff(
            spark.table(t_cur), spark.table(t_nxt),
            "doc_id", "text", fingerprint=True,
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hash" not in plan, plan
        counts = {r.status: r["count"] for r in j.groupBy("status").count().collect()}
        assert counts == {"changed": 154, "unchanged": 1846}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_cur}")
        spark.sql(f"DROP TABLE IF EXISTS {t_nxt}")


def test_weighted_sample_without_replacement_bias_and_quota(spark):
    """E-S sampler: exact k, deterministic, and actually weight-biased
    — across 40 disjoint seed draws of k=30 from 300 items where ids
    200-299 carry weight 9 and the rest weight 1, the heavy tier must
    dominate (expected share 9*100/(9*100+200) = 0.82 of draws; a
    uniform sampler would give 1/3)."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.corpus import (
        weighted_sample_without_replacement,
    )

    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") >= 200, 9.0).otherwise(1.0).alias("w"),
    )
    heavy = total = 0
    for seed in range(40):
        got = weighted_sample_without_replacement(
            df, "w", k=30, seed=seed
        ).collect()
        assert len(got) == 30
        heavy += sum(1 for r in got if r.doc_id >= 200)
        total += 30
    share = heavy / total
    # E[share] ≈ 0.74 for k=30 w/o replacement (finite-pop damping off
    # the 0.82 single-draw odds); uniform would be 0.333. Wide margins.
    assert 0.55 < share < 0.95, share

    # per-group quota: k per lang-like stratum, never more
    df2 = df.withColumn("g", (F.col("doc_id") % 3).cast("int"))
    per = weighted_sample_without_replacement(
        df2, "w", k=7, seed=1, group_cols=["g"]
    )
    sizes = {r.g: r.n for r in per.groupBy("g").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {0: 7, 1: 7, 2: 7}
