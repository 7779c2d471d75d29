"""Token-stats artifact (extensions.tokenindex): build-once reuse
contract, frame correctness vs direct computation, and the properties
of the round-8 consumers (hard negatives exclude gold, RRF fuses both
lists, coverage is a monotone CDF)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.extensions.tokenindex import (
    TOKEN_STATS_PARAMS,
    token_stats,
)
from aws_imdb_data_pipeline_spark.plans.registry import REGISTRY
from tests.driver_paths import distributed_twin


def test_artifact_builds_once_and_reuses(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
    ts1 = token_stats(spark, sf_dir)
    marker = os.path.join(ts1.path, "_meta.json")
    mtime1 = os.stat(marker).st_mtime_ns
    meta1 = json.load(open(marker))
    # second call must serve the SAME artifact without rebuilding
    ts2 = token_stats(spark, sf_dir)
    assert ts2.path == ts1.path
    assert os.stat(marker).st_mtime_ns == mtime1
    assert meta1["params"]["v"] == TOKEN_STATS_PARAMS["v"]
    assert ts1.n_docs > 0 and ts1.sum_dl > 0


def test_artifact_frames_match_direct_compute(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
    ts = token_stats(spark, sf_dir)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    direct = (
        docs.select(F.explode(words).alias("w"))
        .groupBy(F.lower("w").alias("lword"))
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    got = {r.lword: r.cf for r in ts.dfl().select("lword", "cf").collect()}
    want = {r.lword: r.cf for r in direct.collect()}
    assert got == want
    # scalars: N counts every document; sum_dl is the occurrence total
    assert ts.n_docs == docs.count()
    assert ts.sum_dl == sum(want.values())
    # dl is consistent: per-doc token count equals the summed tf
    bad = (
        ts.tfl()
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("s"), F.first("dl").alias("dl"))
        .filter(F.col("s") != F.col("dl"))
        .count()
    )
    assert bad == 0


def test_hard_negatives_exclude_gold(spark, sf_dir):
    neg = REGISTRY["bm25_hard_negatives"].fn(spark, sf_dir).cache()
    try:
        # the defining property: the gold (source) document never
        # appears in its own negative list
        assert neg.filter(F.col("query_id") == F.col("doc_id")).count() == 0
        # every query got a full negative list with descending scores
        rows = neg.collect()
        import collections

        per_q = collections.defaultdict(list)
        for r in rows:
            per_q[r.query_id].append(r)
        assert per_q, "no negatives mined"
        for q, lst in per_q.items():
            lst.sort(key=lambda r: r.rank)
            scores = [r.score for r in lst]
            assert scores == sorted(scores, reverse=True)
    finally:
        neg.unpersist()


def test_rrf_fuses_both_lists(spark, sf_dir):
    fused = REGISTRY["rrf_hybrid_retrieval"].fn(spark, sf_dir).cache()
    try:
        rows = fused.collect()
        assert rows, "fusion produced no rows"
        # every fused row carries at least one source rank, and the
        # score is exactly the RRF of the ranks it carries
        for r in rows:
            assert r.lex_rank is not None or r.dense_rank is not None
            want = sum(
                1.0 / (60 + rk)
                for rk in (r.lex_rank, r.dense_rank)
                if rk is not None
            )
            assert abs(r.rrf_score - round(want, 6)) < 1e-9
        # both retrieval modalities contribute somewhere
        assert any(r.lex_rank is not None for r in rows)
        assert any(r.dense_rank is not None for r in rows)
        # per query: ranks are 1..k and rrf is non-increasing in rank
        import collections

        per_q = collections.defaultdict(list)
        for r in rows:
            per_q[r.query_id].append(r)
        for q, lst in per_q.items():
            lst.sort(key=lambda r: r.rank)
            assert [r.rank for r in lst] == list(range(1, len(lst) + 1))
            scores = [r.rrf_score for r in lst]
            assert scores == sorted(scores, reverse=True)
    finally:
        fused.unpersist()


# The BM25 serve-path tests again, on the distributed plan (the runs
# above take the driver-side path).
test_hard_negatives_exclude_gold_distributed = distributed_twin(
    test_hard_negatives_exclude_gold
)
test_rrf_fuses_both_lists_distributed = distributed_twin(
    test_rrf_fuses_both_lists
)


def test_vocab_coverage_is_monotone_cdf(spark, sf_dir):
    cov = {
        r.vocab_size: r
        for r in REGISTRY["vocab_coverage"].fn(spark, sf_dir).collect()
    }
    sizes = sorted(cov)
    assert len(sizes) >= 2
    prev = 0.0
    for v in sizes:
        r = cov[v]
        assert r.n_types <= v
        assert 0.0 < r.coverage <= 1.0
        assert r.coverage >= prev  # more vocab never covers less
        prev = r.coverage
    # the full 31-term pool covers everything: the largest size's
    # coverage must dominate the Zipf head's share
    assert cov[sizes[-1]].coverage > cov[sizes[0]].coverage or (
        cov[sizes[0]].coverage == pytest.approx(cov[sizes[-1]].coverage)
    )


def test_incremental_merge_equals_full_rebuild(spark, sf_dir, tmp_path, monkeypatch):
    """merge_dfl(base, batch) must equal the vocabulary of a full
    rebuild over base ∪ batch — df/cf are mergeable statistics."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
    import os

    from aws_imdb_data_pipeline_spark.extensions.tokenindex import (
        batch_token_stats,
        merge_dfl,
        token_stats,
    )

    ts = token_stats(spark, sf_dir)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    batch = spark.createDataFrame(
        [(10_000_000, "zzz-new-token the fast zzz-new-token"),
         (10_000_001, "order by the the the")],
        ["doc_id", "text"],
    )
    _btfl, bdfl = batch_token_stats(batch)
    merged = {r.lword: (r.df, r.cf) for r in merge_dfl(ts.dfl(), bdfl).collect()}
    full = docs.unionByName(batch)
    _ftfl, fdfl_all = batch_token_stats(full)  # full "rebuild" via same kernel
    want = {r.lword: (r.df, r.cf) for r in fdfl_all.collect()}
    assert merged == want
    # the brand-new term entered with batch-only counts
    assert merged["zzz-new-token"] == (1, 2)


def test_retraction_equals_rebuild_from_remaining(spark):
    """retract_dfl subtracts deleted docs' counts FROM THE ARTIFACT'S
    OWN tfl rows and must equal a from-scratch vocabulary over the
    surviving docs — including dropping a term whose df hits zero
    (doc 3 is the only holder of 'unique')."""
    from aws_imdb_data_pipeline_spark.extensions.tokenindex import (
        batch_token_stats,
        retract_dfl,
        retract_scalars,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta beta gamma"),
            (1, "alpha gamma gamma"),
            (2, "beta delta"),
            (3, "unique alpha"),
            (4, "delta delta Alpha"),
        ],
        ["doc_id", "text"],
    )
    tfl, dfl = batch_token_stats(docs)
    deleted = spark.createDataFrame([(1,), (3,)], ["doc_id"])

    got = retract_dfl(dfl, tfl, deleted)
    _rtfl, want = batch_token_stats(
        docs.join(deleted, "doc_id", "left_anti")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert "unique" not in {r.lword for r in got.collect()}

    scal = retract_scalars(tfl, deleted).first()
    assert scal.n_docs_gone == 2
    assert scal.sum_dl_gone == 3 + 2  # doc 1 has 3 tokens, doc 3 has 2


def test_retraction_inverts_merge(spark):
    """retract(merge(base, delta), delta-ids) == base — df/cf are
    mergeable in both directions."""
    from aws_imdb_data_pipeline_spark.extensions.tokenindex import (
        batch_token_stats,
        merge_dfl,
        retract_dfl,
    )

    base_docs = spark.createDataFrame(
        [(0, "a b c"), (1, "b c d"), (2, "c d e")], ["doc_id", "text"]
    )
    new_docs = spark.createDataFrame(
        [(10, "a a z"), (11, "e z z")], ["doc_id", "text"]
    )
    b_tfl, b_dfl = batch_token_stats(base_docs)
    n_tfl, n_dfl = batch_token_stats(new_docs)
    merged = merge_dfl(b_dfl, n_dfl)
    merged_tfl = b_tfl.unionByName(n_tfl)

    back = retract_dfl(
        merged, merged_tfl, new_docs.select("doc_id")
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, b_dfl.collect())
    )


def test_bm25_pre_shuffle_equivalence(spark, sf_dir):
    """The adaptive pre-aggregate shuffle (round 12, SCALE §49) is
    output-IDENTICAL to the classic broadcast-join + partial-agg form
    — it only moves where the aggregation memory lives. Forcing the
    threshold to 0 engages the repartition on the tiny test corpus;
    rows must match the default path exactly, and the forced plan must
    carry the group-key exchange the default plan omits."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.retrieval import (
        bm25_corpus,
        bm25_scores,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 30).alias("qtext"),
    )
    tf, dfreq, stats = bm25_corpus(docs, "doc_id", "text")
    default = bm25_scores(tf, dfreq, stats, queries)
    forced = bm25_scores(tf, dfreq, stats, queries, pre_shuffle_threshold=0)

    fplan = forced._jdf.queryExecution().executedPlan().toString()
    dplan = default._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in fplan or "hashpartitioning(query_id" in fplan
    assert "REPARTITION_BY_NUM" not in dplan

    key = lambda r: (r.query_id, r.doc_id)  # noqa: E731
    d = {key(r): r.score for r in default.collect()}
    f = {key(r): r.score for r in forced.collect()}
    assert d == f and len(d) > 0

    # explicit cand_rows (r12 ADVICE: lazy construction on hot
    # serving paths): 0 pins the classic plan with NO estimate job,
    # an above-threshold value pins the pre-shuffle plan; both match
    lazy = bm25_scores(tf, dfreq, stats, queries, cand_rows=0)
    lplan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" not in lplan
    assert {key(r): r.score for r in lazy.collect()} == d
    big = bm25_scores(tf, dfreq, stats, queries, cand_rows=10**9)
    bplan = big._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in bplan or "hashpartitioning(query_id" in bplan
    assert {key(r): r.score for r in big.collect()} == d


def test_bm25_posting_cluster_equivalence(spark, sf_dir, monkeypatch):
    """The posting-cluster regime (r15: hash the POSTING frame by the
    doc id so the (query, doc) aggregate consumes that exchange and
    the exploded candidate set never crosses a shuffle) is
    output-IDENTICAL to the classic broadcast-join + partial-agg
    form. Forcing the floor to 0 engages it on the tiny test corpus;
    rows must match the default path exactly, the forced plan must
    carry the doc-keyed REPARTITION_BY_NUM exchange, and the classic
    plan's (query, doc) group-key exchange must be gone."""
    import re

    import aws_imdb_data_pipeline_spark.extensions.retrieval as R
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    # decision function: off without a posting fact, off below the
    # floor/ratio, clamped [parallelism, 2000] when engaged
    assert R.bm25_cluster_parts(10**9, None, 32) == 0
    assert R.bm25_cluster_parts(10**9, 0, 32) == 0
    assert R.bm25_cluster_parts(1000, 10, 32) == 0  # below floor
    assert (
        R.bm25_cluster_parts(3 * 10**6, 10**6, 32) == 0
    )  # below ratio
    assert R.bm25_cluster_parts(10 * 10**6, 10**6, 32) == 32
    assert R.bm25_cluster_parts(10**10, 10**6, 32) == 2000

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 30).alias("qtext"),
    )
    tf, dfreq, stats = R.bm25_corpus(docs, "doc_id", "text")
    default = R.bm25_scores(tf, dfreq, stats, queries)
    monkeypatch.setattr(R, "CLUSTER_FLOOR_ROWS", 0)
    clustered = R.bm25_scores(tf, dfreq, stats, queries, posting_rows=1)

    cplan = clustered._jdf.queryExecution().executedPlan().toString()
    dplan = default._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"hashpartitioning\(doc_id#\d+L?, \d+\), REPARTITION_BY_NUM", cplan
    )
    # the aggregate reuses the posting exchange: no (query, doc)
    # group-key exchange in the clustered plan (the classic plan has
    # exactly one)
    assert not re.search(r"hashpartitioning\(query_id#\d+L?, doc_id", cplan)
    assert re.search(r"hashpartitioning\(query_id#\d+L?, doc_id", dplan)
    assert "REPARTITION_BY_NUM" not in dplan

    key = lambda r: (r.query_id, r.doc_id)  # noqa: E731
    d = {key(r): r.score for r in default.collect()}
    c = {key(r): r.score for r in clustered.collect()}
    assert d == c and len(d) > 0

    # without the posting fact the plan is unchanged-classic
    off = R.bm25_scores(tf, dfreq, stats, queries, posting_rows=None)
    assert "REPARTITION_BY_NUM" not in (
        off._jdf.queryExecution().executedPlan().toString()
    )
