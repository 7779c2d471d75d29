"""Driver-side corpus kernels (extensions.driverside): the numpy ports
of Spark's long/int hashes match Spark bit for bit, the size rule caps
the join threshold at Spark's default, and the driver-side MinHash and
BM25 paths return exactly the distributed plans' rows on a corpus with
empty, sub-k, NULL-text and duplicate-id documents."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.extensions import driverside, retrieval
from aws_imdb_data_pipeline_spark.extensions.dedup import (
    minhash_dedup_pairs,
    release_pinned_shingles,
)
from aws_imdb_data_pipeline_spark.extensions.retrieval import (
    bm25_candidate_rows,
    bm25_qterms,
    bm25_topk,
)
from aws_imdb_data_pipeline_spark.extensions.tokenindex import token_stats
from tests.driver_paths import THRESHOLD

BASE = " ".join(f"w{i}" for i in range(30))


def _corpus_rows():
    rng = random.Random(5)
    vocab = [f"t{i}" for i in range(40)]
    rows = [
        (1, BASE),
        (2, BASE.replace("w7", "seven")),        # near-dup of 1
        (3, BASE + " tail"),                     # near-dup of 1
        (4, ""),                                 # empty
        (5, "two words"),                        # sub-k
        (6, None),                               # NULL text
        (7, BASE),                               # exact dup of 1
        (7, BASE.replace("w20", "twenty")),      # duplicate id
        (8, "Two  WORDS and more words here"),
    ]
    for i in range(9, 60):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25)))))
    return rows


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("driverside")
    spark.createDataFrame(_corpus_rows(), "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(d / "documents.parquet"))
    return str(d)


def _is_local(df):
    """The frame's optimized plan is one LocalRelation: rows computed
    at call time, nothing left to run."""
    return df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"


def _both_paths(spark, build):
    """Rows of ``build()`` with the default threshold, then with -1."""
    prev = spark.conf.get(THRESHOLD)
    try:
        driver = build().collect()
        spark.conf.set(THRESHOLD, "-1")
        distributed = build().collect()
    finally:
        spark.conf.set(THRESHOLD, prev)
    return sorted(map(tuple, driver)), sorted(map(tuple, distributed))


def test_xxh64_ports_match_spark(spark):
    rng = random.Random(3)
    longs = [rng.randint(-(2**63), 2**63 - 1) for _ in range(500)] + [0, -1]
    df = spark.createDataFrame([(v,) for v in longs], "v long")
    got = df.select(
        "v",
        F.xxhash64("v").alias("h"),
        F.xxhash64(F.xxhash64("v"), F.lit(5)).alias("h5"),
    ).collect()
    v = np.array([r.v for r in got], dtype=np.int64)
    h = driverside.xxh64_long(v, driverside.SPARK_HASH_SEED)
    assert h.tolist() == [r.h for r in got]
    h5 = driverside.xxh64_int(5, driverside.xxh64_long(h, driverside.SPARK_HASH_SEED))
    assert h5.tolist() == [r.h5 for r in got]


@pytest.mark.parametrize(
    "threshold, estimate, fits",
    [
        ("10485760", 10 << 20, True),
        ("1048576", 5 << 20, False),
        ("-1", 1, False),
        # a raised join threshold does not raise the driver-side limit
        ("1073741824", 5 << 20, True),
        ("1073741824", 20 << 20, False),
    ],
)
def test_fits_driver_caps_threshold_at_spark_default(
    spark, monkeypatch, threshold, estimate, fits
):
    monkeypatch.setattr(driverside, "_plan_size_bytes", lambda df: estimate)
    prev = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, threshold)
    try:
        assert driverside.fits_driver(spark.range(1)) is fits
    finally:
        spark.conf.set(THRESHOLD, prev)


def test_minhash_driver_path_same_rows_pins_nothing(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    assert driverside.fits_driver(docs)
    release_pinned_shingles()

    def build():
        return minhash_dedup_pairs(
            docs, "doc_id", "text", k=3, num_hashes=32, bands=16, threshold=0.3
        )

    assert _is_local(build())
    assert release_pinned_shingles() == 0  # the driver path pins nothing
    driver, distributed = _both_paths(spark, build)
    release_pinned_shingles()
    assert driver == distributed  # jaccard doubles included
    ids = {(a, b) for a, b, _ in driver}
    assert {(1, 2), (1, 3), (1, 7)} <= ids
    assert not any(4 in p or 5 in p or 6 in p for p in ids)

    empty = docs.filter("doc_id < 0")
    assert minhash_dedup_pairs(empty, "doc_id", "text").collect() == []


def test_minhash_local_list_corpus_takes_distributed_path(spark):
    docs = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    assert not driverside.fits_driver(docs)
    release_pinned_shingles()
    minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5).count()
    assert release_pinned_shingles() >= 1


def test_bm25_driver_path_same_rows(spark, corpus_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
    ts = token_stats(spark, corpus_dir)
    tf = ts.tfl().select(
        "doc_id", F.col("lword").alias("__t"),
        F.col("tf").alias("__tf"), F.col("dl").alias("__dl"),
    )
    dfreq = ts.dfl().select(F.col("lword").alias("__t"), F.col("df").alias("__df"))
    assert driverside.fits_driver(tf, dfreq)
    queries = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w7"),
            (2, "two words words"),       # repeated query term
            (3, "nothing matches this"),
            (4, ""),
            (5, "t1 t2 t3 t4 t5 t6"),
            (7, "W20 twenty"),
        ],
        "query_id long, qtext string",
    )
    for exclude_self in (False, True):
        def build():
            return bm25_topk(
                None, queries, k=3, exclude_self=exclude_self,
                corpus=(tf, dfreq, (ts.n_docs, ts.avgdl)),
            )

        assert _is_local(build())
        driver, distributed = _both_paths(spark, build)
        assert driver == distributed
        assert {r[0] for r in driver} == {1, 2, 5, 7}

    # more candidate rows than CLUSTER_FLOOR_ROWS: the distributed plan
    corpus = (tf, dfreq, (ts.n_docs, ts.avgdl))
    cand = bm25_candidate_rows(bm25_qterms(queries, "query_id", "qtext"), dfreq)
    monkeypatch.setattr(retrieval, "CLUSTER_FLOOR_ROWS", cand)
    assert _is_local(bm25_topk(None, queries, k=3, corpus=corpus))
    assert not _is_local(bm25_topk(None, queries, k=3, corpus=corpus, cand_rows=cand + 1))
    monkeypatch.setattr(retrieval, "CLUSTER_FLOOR_ROWS", cand - 1)
    big = bm25_topk(None, queries, k=3, exclude_self=True, corpus=corpus)
    assert not _is_local(big)
    assert sorted(map(tuple, big.collect())) == driver
