"""Per-corpus-version token-statistics artifact: ONE corpus tokenize
pass serving every lexical-statistics consumer.

Round-7 measured three registered queries each re-paying the same
dominant cost — explode(split(text)) over the whole corpus — per call:
``bm25_self_retrieval`` (tf/df/dl/avgdl), ``doc_lm_scores`` /
``lm_quality_buckets`` (vocabulary + per-doc occurrence sums), and
``doc_top_terms`` (tf/df). This module factors that shared pass into a
persisted per-corpus-version artifact (lifecycle.artifacts — the same
build-if-missing + completion-marker contract as the IVF assignment
table, SCALE.md §19, and the hot-shingle set, §23):

- ``tf/``    (id, word, lword, tf, dl) — case-preserved term counts per
  document, with the lowered form attached and the document token count
  denormalized (per-doc constant; parquet RLE makes that near-free).
- ``tfl/``   (id, lword, tf, dl) — the lowercase-folded aggregate the
  retrieval stack keys on.
- ``dfl/``   (lword, df, cf) — lowered document frequency + corpus
  frequency (cf = total occurrences), i.e. the vocabulary for coverage
  and IDF work.
- ``vocab/`` (word, c) — case-preserved corpus frequencies (the unigram
  LM numerators; doc_lm scoring is case-sensitive by contract).
- ``_meta.json`` — n_docs (ALL documents, including zero-token ones —
  they must count toward N and avgdl), sum_dl (total token
  occurrences).

Scale shape: the build is the one unavoidable corpus pass (explode →
(doc, term) hash aggregate; map-side combine absorbs the Zipfian term
skew) plus three aggregates over the already-shrunk tf frame. Every
serve-path consumer then starts from parquet frames that are
vocabulary- or posting-sized — orders of magnitude below corpus bytes
at 100 TB — and from exact integer scalars in the marker, so N/avgdl
cost a JSON read, not a scan. Crossover measured in SCALE.md §25.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from aws_imdb_data_pipeline_spark.lifecycle.artifacts import ensure_artifact

# bump to invalidate artifacts when the build layout/tokenizer changes
# (v2: tf/tfl written under parallel_write — full shuffle-width file
# count, so consumer scans arrive at session width without the
# consumer-side round-robin widen)
TOKEN_STATS_PARAMS = {"v": 2, "tok": "ws-split"}


def _words(text_col: str) -> "F.Column":
    """Whitespace tokens, empties dropped — the corpus-wide tokenizer
    contract shared with extensions.retrieval and extensions.textstats
    (oracles reproduce it with regexp_split_to_array + list_filter)."""
    return F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")


# Posting frames (tf/tfl) are the scan input of the BM25 candidate
# explosion: each posting row fans out to one candidate row per
# matching query term, so the EXPLOSION stage's width equals the scan's
# split count — and tiny single-row-group parquet files cannot be split
# further by maxPartitionBytes. The builder writes "many ~core-count
# files" (see token_stats.build), but the builder is whichever session
# FIRST touched a stale artifact: a narrower session (the local[8] test
# rig, a small ingest job) leaves a layout that serializes every wider
# consumer — measured on this rig: a 10-file tf (built under local[8])
# ran bm25_zipf_check at 20.8 s where the 32-file layout runs it ~3x
# faster on equal host draws. The guard below is the consumer-side fix:
# when the on-disk layout is BOTH narrower than this session's
# parallelism AND small enough that a round-robin exchange is near-free
# (posting frames at sf0.1: ~2-16 MB), widen it explicitly. At scale
# the artifact is orders of magnitude over the byte cap and the scan is
# already wide — the guard self-disables, adding zero exchanges.
_POSTING_WIDEN_BYTES_CAP = 256 << 20

# (abs path, mtime_ns, size) -> exact footer row count
_POSTING_ROWS_CACHE: dict[tuple, int] = {}


def posting_rows(path: str) -> int:
    """Exact row count of a posting-frame directory from parquet FOOTER
    metadata — num_rows is exact by format contract (what COUNT(*) over
    the scan returns). A driver-side plan fact for the BM25
    posting-cluster decision (retrieval.bm25_cluster_parts): costs a
    footer read per file, memoized on the directory's stat key."""
    import pyarrow.parquet as pq

    st = os.stat(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    hit = _POSTING_ROWS_CACHE.get(key)
    if hit is not None:
        return hit
    total = 0
    for e in os.scandir(path):
        if e.name.endswith(".parquet") and not e.name.startswith((".", "_")):
            total += pq.ParquetFile(e.path).metadata.num_rows
    _POSTING_ROWS_CACHE[key] = total
    return total


# (abs path, mtime_ns, size) of an artifact frame directory -> its
# schema. Reading parquet without a schema runs a Spark job to infer it
# from a footer, each time an analyst step opens the tfl and dfl
# frames; the frames are rewritten only as whole directories, so the
# directory stat keys the schema and a repeated read of an unchanged
# frame runs no job.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema of an unchanged
    directory taken from the memo instead of inferred again."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


def _posting_scan(spark: SparkSession, path: str) -> DataFrame:
    df = _read(spark, path)
    try:
        files = [
            e
            for e in os.scandir(path)
            if e.name.endswith(".parquet") and not e.name.startswith(".")
        ]
        nfiles = len(files)
        nbytes = sum(e.stat().st_size for e in files)
    except OSError:
        return df
    width = spark.sparkContext.defaultParallelism
    if 0 < nfiles < width and nbytes < _POSTING_WIDEN_BYTES_CAP:
        # round-robin: downstream consumers are joins/aggregates whose
        # results are partitioning-independent; AQE honors an explicit
        # user repartition count (no re-coalesce)
        df = df.repartition(width)
    return df


@dataclass(frozen=True)
class TokenStats:
    """Handle on a built token-stats artifact: lazy frame readers plus
    the exact integer scalars from the completion marker."""

    path: str
    spark: SparkSession
    n_docs: int
    sum_dl: int

    @property
    def avgdl(self) -> float:
        # exact-int IEEE division — bit-identical to SUM(dl)/COUNT(*)
        # in either engine (both operands exact below 2^53)
        return self.sum_dl / self.n_docs if self.n_docs else 0.0

    def tf(self) -> DataFrame:
        return _posting_scan(self.spark, os.path.join(self.path, "tf"))

    def tfl(self, widen: bool = True) -> DataFrame:
        # widen=False: raw scan for consumers that immediately key the
        # frame with their own hash repartition (the BM25
        # posting-cluster regime) — a round-robin widen underneath a
        # hash exchange would be a second, wasted shuffle.
        if not widen:
            return _read(self.spark, os.path.join(self.path, "tfl"))
        return _posting_scan(self.spark, os.path.join(self.path, "tfl"))

    def tfl_rows(self) -> int:
        """Exact tfl row count (parquet footer fact, memoized)."""
        return posting_rows(os.path.join(self.path, "tfl"))

    def dfl(self) -> DataFrame:
        return _read(self.spark, os.path.join(self.path, "dfl"))

    def vocab(self) -> DataFrame:
        return _read(self.spark, os.path.join(self.path, "vocab"))


def token_stats(
    spark: SparkSession,
    sf_dir: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> TokenStats:
    """Build-if-missing the token-stats artifact for (sf_dir, table)
    and return a handle. Stale/missing detection is the shared
    stat-fingerprint contract; a crashed build leaves no marker."""
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    params = dict(TOKEN_STATS_PARAMS, table=table, id=id_col, text=text_col)

    def build(path: str, fp: str) -> dict:
        from aws_imdb_data_pipeline_spark.lifecycle.artifacts import (
            parallel_write,
            sized_write,
        )

        docs = load_table(spark, sf_dir, table).select(id_col, text_col)
        words = _words(text_col)
        toks = docs.select(
            F.col(id_col),
            F.size(words).alias("dl"),
            F.explode(words).alias("word"),
        )
        tf = (
            toks.groupBy(id_col, "word")
            .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
            .withColumn("lword", F.lower("word"))
        )
        # tf/tfl keep the parallelism-first write (NO sized_write):
        # these posting frames are the SCAN INPUT of the BM25 candidate
        # explosion, whose stage width equals the scan's split count —
        # a single-file single-row-group artifact serialized the 240 MB
        # explode stage onto 2 tasks (bm25_zipf_retrieval 7 s -> 34 s).
        # Many ~core-count files are the RIGHT layout for a frame
        # consumed by compute-amplifying scans.
        # parallel_write (r15) enforces it: AQE's byte heuristic still
        # coalesced the 16 MB tfl to 8 files, capping every consumer's
        # pre-exchange scan stage at 8 tasks.
        with parallel_write(spark):
            tf.write.mode("overwrite").parquet(os.path.join(path, "tf"))
        tf_p = spark.read.parquet(os.path.join(path, "tf"))
        tfl = tf_p.groupBy(id_col, "lword").agg(
            F.sum("tf").alias("tf"), F.first("dl").alias("dl")
        )
        with parallel_write(spark):
            tfl.write.mode("overwrite").parquet(os.path.join(path, "tfl"))
        tfl_p = spark.read.parquet(os.path.join(path, "tfl"))
        with sized_write(spark):
            tfl_p.groupBy("lword").agg(
                F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
            ).write.mode("overwrite").parquet(os.path.join(path, "dfl"))
            tf_p.groupBy("word").agg(F.sum("tf").alias("c")).write.mode(
                "overwrite"
            ).parquet(os.path.join(path, "vocab"))
        # scalars: N counts ALL docs (zero-token ones have no tf rows
        # but still belong in N and the avgdl denominator); sum_dl from
        # the per-doc dl — both exact integers for the marker
        n_docs = docs.count()
        row = (
            tf_p.groupBy(id_col)
            .agg(F.first("dl").alias("dl"))
            .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("s"))
            .collect()[0]
        )
        return {"n_docs": n_docs, "sum_dl": int(row["s"])}

    path, meta, _rebuilt = ensure_artifact(
        "token_stats",
        sf_dir,
        os.path.join(sf_dir, f"{table}.parquet"),
        params,
        build,
    )
    return TokenStats(
        path=path,
        spark=spark,
        n_docs=int(meta["n_docs"]),
        sum_dl=int(meta["sum_dl"]),
    )


def batch_token_stats(
    batch: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Token statistics of a NEW batch alone: (tfl, dfl) with the same
    schemas the artifact persists — the delta side of an incremental
    merge. Tokenizes only the batch."""
    words = _words(text_col)
    toks = batch.select(
        F.col(id_col),
        F.size(words).alias("dl"),
        F.explode(words).alias("word"),
    )
    tfl = (
        toks.groupBy(id_col, F.lower("word").alias("lword"))
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    dfl = tfl.groupBy("lword").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    return tfl, dfl


def merge_dfl(base_dfl: DataFrame, delta_dfl: DataFrame) -> DataFrame:
    """Additive vocabulary merge: df/cf are mergeable statistics, so a
    corpus-version bump that APPENDS documents updates the vocabulary
    by summing per-term counts — a FULL OUTER merge of two
    VOCABULARY-sized frames (thousands-to-millions of rows), never a
    corpus re-tokenize. The tf side needs no merge at all when batch
    doc ids are disjoint from the base (the append-only lake norm):
    new tf rows are a parquet append. This is the 100 TB maintenance
    path for the token-stats artifact: build once (token_stats),
    then per-ingest merges cost O(batch + vocabulary)."""
    b = base_dfl.select(
        "lword", F.col("df").alias("__bdf"), F.col("cf").alias("__bcf")
    )
    d = delta_dfl.select(
        "lword", F.col("df").alias("__ddf"), F.col("cf").alias("__dcf")
    )
    return b.join(d, "lword", "full_outer").select(
        "lword",
        (
            F.coalesce(F.col("__bdf"), F.lit(0))
            + F.coalesce(F.col("__ddf"), F.lit(0))
        ).alias("df"),
        (
            F.coalesce(F.col("__bcf"), F.lit(0))
            + F.coalesce(F.col("__dcf"), F.lit(0))
        ).alias("cf"),
    )


def retract_dfl(
    base_dfl: DataFrame,
    tfl: DataFrame,
    deleted: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deletion propagation (right-to-be-forgotten) for the vocabulary
    frame: subtract the deleted documents' per-term (df, cf) from the
    base vocabulary and drop terms whose df reaches zero. The deleted
    docs' term counts come FROM THE ARTIFACT'S OWN ``tfl`` ROWS — a
    semi-join against the deletion list — so a retraction never
    re-reads or re-tokenizes the corpus, exactly like the additive
    :func:`merge_dfl` never does. df/cf are mergeable in both
    directions; retract(merge(base, d), d) == base, and
    retract-then-serve equals rebuild-then-serve (pinned exactly by
    tests/test_tokenindex.py).

    Cost: one semi-join on the deletion list + one vocabulary-sized
    outer merge — O(deleted docs' tf rows + vocabulary) at any corpus
    size."""
    gone = tfl.join(
        deleted.select(id_col).distinct(), id_col, "left_semi"
    )
    ddfl = gone.groupBy("lword").agg(
        F.count(F.lit(1)).alias("__ddf"), F.sum("tf").alias("__dcf")
    )
    return (
        base_dfl.join(ddfl, "lword", "left")
        .select(
            "lword",
            (F.col("df") - F.coalesce(F.col("__ddf"), F.lit(0))).alias("df"),
            (F.col("cf") - F.coalesce(F.col("__dcf"), F.lit(0))).alias("cf"),
        )
        .filter(F.col("df") > 0)
    )


def retract_scalars(
    tfl: DataFrame, deleted: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The (n_docs_gone, sum_dl_gone) deltas for the artifact's marker
    scalars, derived from the artifact's own tfl rows. A deleted doc
    with ZERO tokens has no tfl rows and is invisible here — callers
    deleting such docs must adjust n_docs from their doc registry
    (the lake manifest); dl and every term count are 0 for it, so all
    frame retractions are unaffected."""
    per_doc = (
        tfl.join(deleted.select(id_col).distinct(), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.first("dl").alias("dl"))
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs_gone"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl_gone"),
    )
