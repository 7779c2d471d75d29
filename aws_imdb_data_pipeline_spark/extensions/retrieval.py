"""Lexical (sparse) retrieval over the document corpus: BM25 top-k.

The dense counterpart lives in extensions/similarity.py (brute /
LSH / IVF / IVF-PQ cosine ANN); a complete training-data and serving
stack also needs the lexical side — hard-negative mining, dedup
candidate generation, and hybrid retrieval all start from a BM25
ranking. The reference repo has no retrieval surface at all (its text
handling stops at LIKE filters, e.g. the Glue job's genre filters);
this is engine-extension territory, built Spark-first: the inverted
index IS a DataFrame aggregate, the query probe IS a broadcast join.

Scale shape (the part that matters at 100 TB):
- corpus statistics (term frequencies, document frequencies, document
  lengths, avgdl) are classic map-side-combinable aggregates — two
  hash shuffles keyed on (doc, term) and (term), rows shrink at every
  step;
- the QUERY side is small by definition (a query batch), so the
  index probe is a broadcast hash join of query terms against the
  posting frame — the corpus never reshuffles per query batch;
- in steady state the posting/statistic frames are the per-corpus-
  version token-stats artifact (extensions.tokenindex — tf/df/dl
  persisted once, N/avgdl exact integers in the marker) and each
  query batch pays only the broadcast probe + one (query, doc)
  aggregate. Pass the artifact via ``corpus=`` to get that path;
  crossover measured in SCALE.md §25.

Small corpora: on the ``corpus=`` path, ``bm25_topk`` takes its
distributed plan when the posting frames' plan-time size estimate
exceeds ``spark.sql.autoBroadcastJoinThreshold`` — the rule Spark
itself uses to collect a join side to the driver — or when the batch
has more than CLUSTER_FLOOR_ROWS candidate rows, the count at which the
distributed plan's own large-candidate regimes begin. Otherwise the
function runs its jobs AT CALL TIME (the distinct query terms and the
vocabulary with its idf, then the posting frame with its tf norm, each
collected once through Arrow), ranks on the driver and returns the
same rows as a local relation. SCALE.md records the crossover.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from aws_imdb_data_pipeline_spark.extensions.driverside import fits_driver


def _tokens(text_col: str) -> "F.Column":
    # lower + split on runs of whitespace + drop empties: the same
    # normalization the oracle reproduces with regexp_split_to_array
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != ""
    )


def bm25_corpus(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One-pass BM25 corpus statistics from raw text: (tf, dfreq,
    stats) where tf = (id, __t, __tf, __dl), dfreq = (__t, __df),
    stats = 1-row (__n, __avgdl).

    N and avgdl derive from the tf frame plus a tokenize-free COUNT(*)
    over docs (column-pruned scan) — NOT a second tokenized corpus
    scan (the round-7 ADVICE finding). Zero-token documents have no tf
    rows but still count toward N and the avgdl denominator, matching
    AVG(token_count) over all documents."""
    words = _tokens(text_col)
    toks = docs.select(
        F.col(id_col), F.size(words).alias("__dl"),
        F.explode(words).alias("__t"),
    )
    tf = toks.groupBy(id_col, "__t").agg(
        F.count(F.lit(1)).alias("__tf"), F.first("__dl").alias("__dl")
    )
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    stats = (
        tf.groupBy(id_col)
        .agg(F.first("__dl").alias("__dl"))
        .agg(F.coalesce(F.sum("__dl"), F.lit(0)).alias("__s"))
        .crossJoin(F.broadcast(n_docs))
        .select("__n", (F.col("__s") / F.col("__n")).alias("__avgdl"))
    )
    return tf, dfreq, stats


def bm25_qterms(
    queries: DataFrame, qid_col: str = "query_id", qtext_col: str = "qtext"
) -> DataFrame:
    """Distinct (query, term) pairs — the qtf=1 convention shared by
    bm25_scores and the candidate estimate."""
    return queries.select(
        F.col(qid_col), F.explode(_tokens(qtext_col)).alias("__t")
    ).distinct()


def bm25_candidate_rows(qterms: DataFrame, dfreq: DataFrame) -> int:
    """The exact candidate-row count of the BM25 posting join
    (Σ over distinct (query, term) of df(term)) — the plan-time fact
    bm25_scores' adaptive pre-aggregate shuffle keys on. Exposed so
    serve paths can compute it once per (corpus, query set) and pass
    ``cand_rows`` instead of re-running the vocabulary-sized job per
    construction. One sub-second aggregate."""
    return (
        qterms.join(dfreq.select("__t", "__df"), "__t")
        .agg(F.sum("__df"))
        .first()[0]
    ) or 0


# Posting-cluster regime gates (bm25_cluster_parts): engage only when
# the candidate explosion dwarfs the posting frame — below the floor an
# extra exchange is pure latency, below the ratio the posting frame is
# not meaningfully smaller than the candidate set it would replace on
# the wire.
CLUSTER_FLOOR_ROWS = 2_000_000
CLUSTER_RATIO = 4.0
# partition sizing: bound every post-exchange aggregation map to about
# this many candidate rows (the same per-task group ceiling the (q, d)
# pre-shuffle used)
_GROUPS_PER_PART = 2_000_000


def bm25_cluster_parts(
    cand_rows: int, posting_rows: int | None, width: int
) -> int:
    """Partition count for the posting-cluster regime, or 0 to stay on
    the classic plan. The regime replaces shuffling the EXPLODED
    candidate set (Σ_t df(t) rows — the partial-aggregate exchange of
    the classic plan) with one hash exchange of the POSTING frame keyed
    on the document id: the (query, doc) aggregate's grouping keys
    contain the doc id, so the aggregate consumes that exchange and the
    explosion never crosses the wire (guide §2.3/§2.4 — shuffle the
    lightweight proxy, share one exchange between operators keyed the
    same way). Engage only when the explosion is real: candidates above
    an absolute floor AND at least CLUSTER_RATIO x the posting rows
    (posting_rows is a parquet-footer fact on artifact serve paths;
    None disables the regime)."""
    if not posting_rows or posting_rows <= 0:
        return 0
    if cand_rows <= max(CLUSTER_FLOOR_ROWS, CLUSTER_RATIO * posting_rows):
        return 0
    return int(min(2000, max(width, cand_rows // _GROUPS_PER_PART)))


def _bm25_idf() -> "F.Column":
    # over (__n, __df)
    return F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
    )


def _bm25_tf_norm(k1: float, b: float) -> "F.Column":
    # over (__tf, __dl, __avgdl)
    return (
        F.col("__tf") * F.lit(k1 + 1.0)
    ) / (
        F.col("__tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl"))
    )


def bm25_scores(
    tf: DataFrame,
    dfreq: DataFrame,
    stats,
    queries: DataFrame,
    id_col: str = "doc_id",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
    pre_shuffle_threshold: int = 64_000_000,
    cand_rows: int | None = None,
    posting_rows: int | None = None,
) -> DataFrame:
    """BM25 (query, doc) scores from prepared corpus frames —
    (qid_col, id_col, score). ``stats`` is either a 1-row DataFrame
    (__n, __avgdl) or an (n_docs, avgdl) scalar tuple (the artifact
    path: exact marker integers, no scan). ``pre_shuffle_threshold``
    is the candidate-row count above which the adaptive pre-aggregate
    shuffle engages (see the inline comment below; tests lower it to
    pin plan + value equivalence of the two forms).

    ``cand_rows`` keeps plan construction LAZY on hot serving paths
    (r12 ADVICE: the plan-time estimate is an eager vocabulary-frame
    job per invocation): pass the candidate count (Σ_t df over the
    batch's query terms) if the caller already knows or bounds it —
    0 pins the classic partial-agg plan, any value above the
    threshold pins the pre-shuffle plan. None (default) estimates it
    with the one sub-second aggregate, the right call for ad-hoc use
    where an unbounded explosion is worse than an eager job.

    ``posting_rows`` (a parquet-footer fact on artifact serve paths)
    arms the posting-cluster regime — see bm25_cluster_parts."""
    qterms = bm25_qterms(queries, qid_col, qtext_col)
    posting = tf.join(dfreq, "__t")
    if isinstance(stats, DataFrame):
        posting = posting.crossJoin(F.broadcast(stats))
    else:
        n_docs, avgdl = stats
        posting = posting.withColumns(
            {"__n": F.lit(int(n_docs)), "__avgdl": F.lit(float(avgdl))}
        )
    idf, tf_norm = _bm25_idf(), _bm25_tf_norm(k1, b)
    # The per-row BM25 weight depends ONLY on posting-side columns
    # (queries carry qtf=1 by the distinct-terms convention), so
    # compute it ONCE per posting row, below the query join — not
    # inside the aggregate, where it would be re-evaluated once per
    # CANDIDATE row (posting x matching queries: Σ_t df(t) ln()/div
    # evaluations instead of |tf|). Same operands, same operations,
    # same doubles — scores are bit-identical; only the evaluation
    # count moves. The pre-shuffle path also narrows: the exchange
    # now carries (qid, doc, __w) instead of the five raw statistics
    # columns.
    posting = posting.select("__t", id_col, (idf * tf_norm).alias("__w"))
    if cand_rows is None:
        cand_rows = bm25_candidate_rows(qterms, dfreq)
    # Posting-cluster regime (bm25_cluster_parts): when the candidate
    # explosion dwarfs the posting frame, hash-repartition the POSTING
    # frame by the doc id before the broadcast query join. The
    # (query, doc) aggregate's grouping keys contain id_col, so the
    # aggregate consumes this exchange directly — the exploded
    # candidate rows are generated and aggregated INSIDE one stage and
    # never shuffled (at the zipf bench corpus: a ~40 MB posting
    # exchange replaces the ~310 MB partially-aggregated candidate
    # exchange, and one aggregation pass replaces partial+final).
    # Same aggregate, same groups, same doubles per row — only which
    # frame crosses the wire moves. Memory ceiling: per-task
    # aggregation maps hold ~cand_rows / n_parts groups, the same
    # bound the (q, d) pre-shuffle enforces.
    cluster_n = bm25_cluster_parts(
        cand_rows, posting_rows,
        tf.sparkSession.sparkContext.defaultParallelism,
    )
    if cluster_n:
        posting = posting.repartition(cluster_n, F.col(id_col))
    joined = posting.join(F.broadcast(qterms), "__t")
    # Adaptive pre-aggregate shuffle (round 12, SCALE §49): on a
    # high-background-similarity corpus (a 31-type vocabulary makes
    # every query term match ~every document) the posting join
    # explodes to Σ_t df(t) candidate rows — 675M at generated sf1 —
    # and the MAP-SIDE partial aggregate of the groupBy below then
    # thrashes: per-task hash maps over millions of (query, doc)
    # groups spill hundreds of small files whose merge needs
    # numSpills x >=1 MB reader buffers of pure heap (a 4 GB executor
    # OOMs; the conf floor forbids smaller buffers). The candidate
    # count is EXACTLY computable at plan time from one
    # vocabulary-sized aggregate (qterms ⋈ df); when it is large,
    # repartitioning the join output by the group key BEFORE the
    # aggregate turns the map stage into a streaming
    # scan→join→exchange (zero aggregation memory) and bounds every
    # post-exchange aggregation map to ~candidates/n_parts rows —
    # trading partial aggregation's ~5x shuffle reduction for a
    # memory ceiling, the right trade exactly when candidates
    # explode. Below the threshold the plan is byte-identical to the
    # classic broadcast-join + partial-agg form (the estimate costs
    # one sub-second vocabulary-frame job). The posting-cluster
    # regime above supersedes this guard when it engages (same group
    # ceiling, far fewer shuffled bytes); this path remains for
    # callers without a posting_rows fact.
    if not cluster_n and cand_rows > pre_shuffle_threshold:
        n_parts = int(min(2000, max(32, cand_rows // 2_000_000)))
        joined = joined.repartition(
            n_parts, F.col(qid_col), F.col(id_col)
        )
    return (
        joined
        .groupBy(qid_col, id_col)
        .agg(F.round(F.sum("__w"), round_to).alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
    corpus: tuple[DataFrame, DataFrame, tuple[int, float]] | None = None,
    exclude_self: bool = False,
    cand_rows: int | None = None,
    posting_rows: int | None = None,
) -> DataFrame:
    """BM25 top-k documents per query —
    (qid_col, rank, id_col, score).

    Okapi BM25 (Robertson et al.), the standard smoothed form:

        idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
        score(q,d)= Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) /
                                 (tf + k1·(1 − b + b·dl/avgdl))

    Query terms are DISTINCT (the qtf=1 convention — web queries
    rarely repeat terms; repeats would just scale a term's
    contribution). Ranking orders by (round(score, round_to) DESC,
    id_col): rounding the transcendental before ranking is the float
    policy move that makes the order engine-portable (ln differs in
    the last ulp across libm implementations; at 4 decimals a flip
    needs the true score within ~1e-12 of a rounding boundary), and
    the id tiebreak makes equal-score ranks deterministic.

    ``corpus`` short-circuits the statistics build with prepared
    (tf, dfreq, (n_docs, avgdl)) — the token-stats-artifact serve
    path (extensions.tokenindex): persisted posting frames + exact
    marker scalars, so a query batch never re-tokenizes the corpus.
    Posting frames at or below ``spark.sql.autoBroadcastJoinThreshold``
    are ranked on the driver at call time when the batch has at most
    CLUSTER_FLOOR_ROWS candidate rows (:func:`_bm25_topk_on_driver`,
    same rows). ``exclude_self`` drops the qid==doc_id posting rows
    before the aggregate — hard-negative mining (the gold document must not
    appear in its own negative list)."""
    if corpus is not None:
        tf, dfreq, stats = corpus
        small = cand_rows is None or cand_rows <= CLUSTER_FLOOR_ROWS
        if small and not isinstance(stats, DataFrame) and fits_driver(tf, dfreq):
            top = _bm25_topk_on_driver(
                tf, dfreq, stats, queries, id_col, qid_col, qtext_col,
                k, k1, b, round_to, exclude_self,
            )
            if top is not None:
                return top
    else:
        tf, dfreq, stats = bm25_corpus(docs, id_col, text_col)
    scored = bm25_scores(
        tf, dfreq, stats, queries,
        id_col=id_col, qid_col=qid_col, qtext_col=qtext_col,
        k1=k1, b=b, round_to=round_to, cand_rows=cand_rows,
        posting_rows=posting_rows,
    )
    if exclude_self:
        scored = scored.filter(F.col(qid_col) != F.col(id_col))
    from aws_imdb_data_pipeline_spark.operators.topk import top_n_per_group

    top = top_n_per_group(
        scored,
        partition_by=[qid_col],
        order_by=[F.desc("score"), F.col(id_col)],
        n=k,
        rank_col="rank",
        keep_rank=True,
    )
    return top.select(qid_col, "rank", id_col, "score")


def _bm25_topk_on_driver(
    tf: DataFrame,
    dfreq: DataFrame,
    stats: tuple[int, float],
    queries: DataFrame,
    id_col: str,
    qid_col: str,
    qtext_col: str,
    k: int,
    k1: float,
    b: float,
    round_to: int,
    exclude_self: bool,
) -> DataFrame | None:
    """:func:`bm25_topk` over posting frames that fit the driver: the
    same rows, ranked in numpy.

    Three collects, each through Arrow: the distinct query terms
    (:func:`bm25_qterms`, so tokenisation stays in Spark and the query
    frame is evaluated once), the vocabulary with its ``idf`` and df,
    and the posting frame with its ``tf_norm`` — both factors computed
    by the same Spark expressions as :func:`bm25_scores`, so each is
    the same double. The driver multiplies them per posting row
    (``idf * tf_norm``) and sums per (query, doc); Spark's ``round``
    runs over those sums as a local relation, and the driver ranks by
    (score desc, doc id). Returns None (the caller then runs the
    distributed plan) when an id or a weight is NULL, or when the batch
    has more than CLUSTER_FLOOR_ROWS candidate rows (Σ df over the
    distinct (query, term) pairs, :func:`bm25_candidate_rows`): the
    driver holds a few int64 arrays of that length."""
    spark = tf.sparkSession
    n_docs, avgdl = stats
    q = bm25_qterms(queries, qid_col, qtext_col).toArrow()
    voc = dfreq.withColumn("__n", F.lit(int(n_docs))).select(
        "__t", _bm25_idf().alias("__x"), "__df"
    ).toArrow()
    # query terms -> vocabulary positions (the inner join on __t)
    vt = pc.index_in(q.column(1), voc.column(0))
    qkeep = np.flatnonzero(pc.is_valid(vt).to_numpy(zero_copy_only=False))
    q_term = vt.to_numpy(zero_copy_only=False)[qkeep].astype(np.int64)
    if voc.column(2).to_numpy(zero_copy_only=False)[q_term].sum() > CLUSTER_FLOOR_ROWS:
        return None
    post = tf.withColumn("__avgdl", F.lit(float(avgdl))).select(
        F.col(id_col), "__t", _bm25_tf_norm(k1, b).alias("__x")
    ).toArrow()
    if any(c.null_count for c in (q.column(0), post.column(0), post.column(2), voc.column(1))):
        return None
    pt = pc.index_in(post.column(1), voc.column(0))
    pkeep = np.flatnonzero(pc.is_valid(pt).to_numpy(zero_copy_only=False))
    p_term = pt.to_numpy(zero_copy_only=False)[pkeep].astype(np.int64)
    qids = q.column(0).to_numpy(zero_copy_only=False)[qkeep]
    docs = post.column(0).to_numpy(zero_copy_only=False)[pkeep]
    w = voc.column(1).to_numpy()[p_term] * post.column(2).to_numpy()[pkeep]
    # candidates: every posting row of each query term
    by_term = np.argsort(p_term, kind="stable")
    lo = np.searchsorted(p_term[by_term], q_term, "left")
    n = np.searchsorted(p_term[by_term], q_term, "right") - lo
    cq = np.repeat(np.arange(q_term.size), n)
    cp = by_term[np.repeat(lo - np.cumsum(n) + n, n) + np.arange(int(n.sum()))]
    if exclude_self:
        keep = qids[cq] != docs[cp]
        cq, cp = cq[keep], cp[keep]
    uq, qc = np.unique(qids, return_inverse=True)
    ud, dc = np.unique(docs, return_inverse=True)
    group, gi = np.unique(qc[cq] * ud.size + dc[cp], return_inverse=True)
    sums = pa.table({"s": np.bincount(gi, weights=w[cp], minlength=group.size)})
    score = (
        spark.createDataFrame(sums).select(F.round("s", round_to)).toArrow().column(0).to_numpy()
    )
    gq, gd = group // ud.size, group % ud.size
    # sorted unique codes order like the ids: rank by (score desc, doc id)
    order = np.lexsort((gd, -score, gq))
    gq, gd, score = gq[order], gd[order], score[order]
    first = np.flatnonzero(np.r_[True, np.diff(gq) != 0])
    rank = np.arange(gq.size) - np.repeat(first, np.diff(np.r_[first, gq.size])) + 1
    top = rank <= k
    table = pa.table({
        qid_col: pa.array(uq[gq[top]], q.schema.field(0).type),
        "rank": pa.array(rank[top], pa.int32()),
        id_col: pa.array(ud[gd[top]], post.schema.field(0).type),
        "score": pa.array(score[top], pa.float64()),
    })
    schema = StructType([
        StructField(qid_col, queries.schema[qid_col].dataType, True),
        StructField("rank", IntegerType(), False),
        StructField(id_col, tf.schema[id_col].dataType, True),
        StructField("score", DoubleType(), True),
    ])
    # an Arrow table plans as a LocalRelation: evaluating it starts no
    # Python worker
    return spark.createDataFrame(table, schema)
