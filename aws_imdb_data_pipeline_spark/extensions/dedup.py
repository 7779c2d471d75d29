"""Deduplication operators for large-scale text corpora.

Beyond the reference's DISTINCT (U2, glue.py:178), a training-data
pipeline needs near-duplicate detection. The distributed plans here use
built-in functions only:

- exact dedup: hash-groupBy keeping a deterministic representative
- shingling: k-gram shingles via ``transform(sequence(...))`` (no UDF)
- MinHash: per-seed ``min(xxhash64(shingle, seed))`` aggregates
- LSH banding: band the signature, bucket-join, candidate pairs
- verification: exact Jaccard on shingle sets via array_intersect

Scale: the LSH path is the 100 TB story — candidate generation is a
groupBy on (band, band_hash) buckets instead of an O(N^2) cross join;
the exact-Jaccard verify touches only candidate pairs. Skewed buckets
(boilerplate docs) are bounded by ``max_bucket_size``.

Small corpora: ``minhash_dedup_pairs`` takes its distributed plan only
when the corpus frame's plan-time size estimate exceeds
``spark.sql.autoBroadcastJoinThreshold`` — the rule Spark itself uses
to collect a join side to the driver (frames without file statistics,
such as local lists and RDDs, always exceed it). At or below it the
function runs its jobs AT CALL TIME (shingles plus their hashes,
collected through Arrow; then the band keys of the collected
signatures), finishes on the driver with bit-identical numpy ports of
Spark's long/int hashes (extensions.driverside) and returns the same
rows as a local relation, pinning nothing. SCALE.md records the
crossover.
"""

from __future__ import annotations

import functools
from itertools import combinations, product

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegralType,
    StringType,
    StructField,
    StructType,
)

from aws_imdb_data_pipeline_spark.extensions.driverside import (
    SPARK_HASH_SEED,
    fits_driver,
    xxh64_int,
    xxh64_long,
)
from aws_imdb_data_pipeline_spark.operators.topk import top_n_per_group
from aws_imdb_data_pipeline_spark.session import widen

# Shingle frames persisted inside lazily-returned pipelines
# (minhash_dedup_pairs, minhash_pairs_from_index). The returned frame
# is lazy, so the pin cannot be released before the caller consumes it
# — the pin's lifetime is CALLER-OWNED. Long-lived sessions composing
# many corpora (bench loops, streaming drivers) should call
# :func:`release_pinned_shingles` between corpora; one-shot jobs can
# ignore it (the pin dies with the session).
_PINNED_SHINGLES: list[DataFrame] = []


def release_pinned_shingles() -> int:
    """Unpersist every shingle frame pinned by the dedup pipelines in
    this process and return how many were released. Safe to call while
    earlier results are still referenced — Spark recomputes evicted
    subtrees — but intended for AFTER the results are consumed."""
    n = 0
    while _PINNED_SHINGLES:
        df = _PINNED_SHINGLES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def _pin(df: DataFrame) -> DataFrame:
    _PINNED_SHINGLES.append(df.persist())
    return df


def simhash64(
    df: DataFrame,
    text_col: str,
    out_col: str = "simhash",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """64-bit SimHash fingerprints, computed entirely JVM-side.

    Per-token 64-bit hashes vote on each bit position; the sign of the
    vote sum sets the bit. Near-duplicate docs differ in few bits →
    compare with hamming distance (``simhash_near_dup_pairs``).

    Formulation: explode tokens → ``xxhash64(token)`` once per token →
    64 signed-sum aggregates (+1 if bit j set, else -1) in a single
    partial+final hash aggregate — the same explode→agg shape as
    ``minhash_signatures``, which benched ~20x faster than the Python
    path. (An earlier version ran a per-token md5 loop inside a pandas
    UDF; Arrow-batched, but ~100% Python CPU at scale.)

    ``id_cols`` names the document key (defaults to every column except
    ``text_col``); all original columns are preserved. Docs with no
    tokens get fingerprint 0, matching the Python formulation.
    """
    ids = id_cols if id_cols is not None else [c for c in df.columns if c != text_col]
    toks = df.select(
        *ids, F.explode(F.split(F.col(text_col), r"\s+")).alias("__tok")
    ).filter(F.col("__tok") != "")
    hashed = toks.select(*ids, F.xxhash64("__tok").alias("__h"))
    # vote_j = sum over tokens of (bit j set ? +1 : -1). Each 64-wide
    # expression list is built as ONE parsed SQL string per column:
    # composing the same trees from Column operators costs ~10k py4j
    # round-trips per construction (~2 s of driver wall measured at
    # r14) for byte-identical analyzed plans.
    votes = hashed.groupBy(*ids).agg(
        *[
            F.expr(
                f"sum(((shiftrightunsigned(__h, {j}) & 1) * 2) - 1)"
            ).alias(f"__v{j}")
            for j in range(64)
        ]
    )
    # fingerprint = OR of 2^j where vote_j > 0; the terms are distinct
    # bits so integer + is exact (bit 63 is the sign bit — shiftleft of
    # 1L by 63 yields Long.MIN_VALUE, the correct two's-complement bit)
    fp = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"CASE WHEN __v{j} > 0 THEN shiftleft(CAST(1 AS BIGINT), {j}) "
            "ELSE CAST(0 AS BIGINT) END"
            for j in range(64)
        )
    )
    sig = votes.select(*ids, fp.alias(out_col))
    return df.join(sig, ids, "left").fillna({out_col: 0})


def hamming_near_dup_pairs(
    fps: DataFrame,
    id_col: str,
    fp_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs of 64-bit fingerprints by banded hamming join —
    the shared kernel behind SimHash text near-dup and perceptual-hash
    image near-dup: band the fingerprint into ``bands`` slices; two
    fingerprints within ``max_hamming`` bits must agree EXACTLY on at
    least one band (pigeonhole — LOSSLESS whenever
    max_hamming < bands, which makes banded output provably equal to
    the all-pairs scan) → bucket-join per band, exact hamming filter
    via bit_count(xor). Candidate generation is linear, never O(N^2)."""
    fp = fps.select(F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp"))
    width = 64 // bands
    banded = fp.select(
        "__id",
        "__fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("__fp"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_bits"),
    )
    a = banded.select(
        F.col("__id").alias("id_a"), F.col("__fp").alias("fp_a"), "band", "band_bits"
    )
    b = banded.select(
        F.col("__id").alias("id_b"), F.col("__fp").alias("fp_b"), "band", "band_bits"
    )
    pairs = (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return pairs.select(
        "id_a", "id_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: fingerprint, then the shared banded
    hamming kernel (:func:`hamming_near_dup_pairs`)."""
    fp = simhash64(df.select(id_col, text_col), text_col).select(
        id_col, "simhash"
    )
    return hamming_near_dup_pairs(
        fp, id_col, "simhash", max_hamming=max_hamming, bands=bands
    )


def exact_dedup(df: DataFrame, key_cols: list[str], order_by: list[Column]) -> DataFrame:
    """Keep one deterministic representative per key (row_number=1).

    Unlike ``dropDuplicates`` (arbitrary survivor), the survivor is
    defined by ``order_by`` — reproducible across runs/cluster sizes.
    """
    return top_n_per_group(df, partition_by=key_cols, order_by=order_by, n=1)


def shingle(text_col: Column | str, k: int = 3, sep: str = " ") -> Column:
    """Distinct word k-gram shingles as array<string>, built entirely
    with higher-order functions (codegen, no Python boundary).

    PERF: apply this to an already-materialized words array (see
    ``shingle_docs``) — passing raw text means the split() subtree is
    re-evaluated for every shingle index (quadratic in doc length).

    Texts with fewer than ``k`` words yield an EMPTY array (no partial
    grams) — matching :func:`shingle_docs`.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(c, sep)
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(sep, F.slice(words, i + 1, k))
    )
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_docs(
    docs: DataFrame, id_col: str, text_col: str, k: int = 3, sep: str = " ",
    out_col: str = "__shingles",
) -> DataFrame:
    """(id, shingle-array) with the words array materialized in its own
    projection first, so split() runs once per doc, not once per index.

    Docs with fewer than ``k`` words emit NO shingles (standard
    w-shingling: a doc that cannot form a full k-gram has an empty
    shingle set and can never near-dup pair). Without this guard the
    ``sequence(0, greatest(n-k, 0))`` index emitted one PARTIAL gram
    for short docs, so two short duplicates paired in the engine but
    not in the exact full-k-gram oracle (round-10 advice).

    The short-doc rows are dropped by a ``size(__w) >= k`` filter on
    the WORDS projection, not a ``size(shingles) > 0`` filter on the
    output: filter pushdown collapses a trailing output filter through
    the Project and re-inlines the ENTIRE gram expression
    (sequence/transform/concat_ws/array_distinct) into the Filter
    condition, so every consumer that materializes this frame (the
    pinned minhash verify legs) built the grams TWICE per doc
    (r15 A/B: shingle-frame materialization 1.8 -> 0.4 s,
    minhash_dedup_documents 3.0 -> 1.8 s; row sets identical — the
    filters are equivalent because n >= k iff the gram array is
    non-empty). The pushed-down words filter re-inlines only the
    cheap split(). The ``when`` guard stays inside the projection so
    the emitted values are independent of where the filter lands."""
    words = docs.select(F.col(id_col), F.split(F.col(text_col), sep).alias("__w"))
    n = F.size(F.col("__w"))
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(sep, F.slice(F.col("__w"), i + 1, k)))
    out = F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )
    return words.filter(n >= k).select(F.col(id_col), out.alias(out_col))


def minhash_signatures(
    shingled: DataFrame, id_col: str, shingles_col: str, num_hashes: int = 64,
    out_col: str = "__sig",
) -> DataFrame:
    """MinHash signatures as one explode → groupBy pass.

    Per (doc, shingle) row we evaluate ``num_hashes`` xxhash64 seeds
    once, then take per-seed mins in a single partial+final hash
    aggregate — each shingle is hashed exactly once per seed, and the
    shuffle carries one ``num_hashes``-wide row per doc per map task.
    (A per-row higher-order-function formulation re-evaluates the
    whole hash tree wherever the column is referenced; this shape
    benched ~20x faster and is the one that scales.)
    """
    ex = shingled.select(F.col(id_col), F.explode(shingles_col).alias("__sh"))
    # hash each shingle string ONCE, then derive the per-seed
    # permutations by hashing the resulting 8-byte long with the seed —
    # far cheaper than running the string through xxhash 64 times
    # (and overflow-free under ANSI, unlike multiply-mix)
    ex = ex.select(F.col(id_col), F.xxhash64("__sh").alias("__h"))
    aggs = [
        F.min(F.xxhash64(F.col("__h"), F.lit(s))).alias(f"__h{s}")
        for s in range(num_hashes)
    ]
    return (
        ex.groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__h{s}") for s in range(num_hashes)]).alias(out_col),
        )
    )


def band_buckets(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(__id, band, bucket): hash each signature slice to its LSH
    bucket — the shared banding kernel for batch pair generation
    (:func:`lsh_candidate_pairs`) and the persisted incremental index
    (:func:`build_minhash_band_index`). Identical params → identical
    buckets, which is what lets a new batch probe an old index."""
    return df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col(sig_col),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    signature → ``bands`` slices of ``rows_per_band`` hashes → hash each
    slice → groupBy (band, bucket) → pairs within bucket. Output columns
    ``id_a < id_b`` (distinct pairs). ``max_bucket_size`` drops
    degenerate buckets (e.g. empty-text docs) that would quadratically
    explode — the count is observable via the returned plan's metrics.
    """
    banded = band_buckets(df, id_col, sig_col, bands, rows_per_band)
    # cap degenerate buckets (boilerplate/empty docs) BEFORE pairing —
    # a b-row bucket yields b^2/2 pairs, so one hot bucket can dominate.
    # Window count shares the (band, bucket) shuffle with the pair join
    # below instead of a separate aggregate + join.
    from pyspark.sql import Window as _W

    bn = F.count(F.lit(1)).over(_W.partitionBy("band", "bucket"))
    bounded = banded.withColumn("__bn", bn).filter(
        (F.col("__bn") >= 2) & (F.col("__bn") <= max_bucket_size)
    )
    # join-based pair generation: scales as a plain shuffle join on the
    # (band, bucket) key instead of materializing per-bucket id arrays
    a = bounded.select("band", "bucket", F.col("__id").alias("id_a"))
    b = bounded.select("band", "bucket", F.col("__id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return pairs.distinct()


def jaccard_on_shingles(
    pairs: DataFrame, docs: DataFrame, id_col: str, shingles_col: str
) -> DataFrame:
    """Exact Jaccard similarity for candidate pairs (verification pass).

    Joins the (small relative to corpus) candidate set back to shingle
    arrays; similarity via array_intersect/array_union sizes — JVM-side.
    """
    a = docs.select(F.col(id_col).alias("id_a"), F.col(shingles_col).alias("sh_a"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col(shingles_col).alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup pipeline: shingle → signature →
    banded candidates → exact-Jaccard verify → pairs >= threshold.

    The shingle table feeds three consumers (signatures + both sides of
    the verify join), so it is persisted; at cluster scale use
    MEMORY_AND_DISK (the default StorageLevel here) and expect it to
    be ~corpus-sized. The pin's lifetime is caller-owned (the returned
    frame is lazy) — long-lived sessions should call
    :func:`release_pinned_shingles` after consuming the result.

    A corpus that fits the driver (:func:`driverside.fits_driver` — at
    most ``spark.sql.autoBroadcastJoinThreshold`` by plan-time estimate)
    with an integral or string id runs :func:`_minhash_pairs_on_driver`
    instead: its Spark jobs run at call time, the same rows come
    back as a local relation, and nothing is pinned."""
    # ids the driver orders exactly as Spark does (id_a < id_b)
    id_type = docs.schema[id_col].dataType
    if (isinstance(id_type, IntegralType) or id_type == StringType()) and fits_driver(docs):
        return _minhash_pairs_on_driver(
            docs, id_col, text_col, k, num_hashes, bands, threshold
        )
    rows_per_band = num_hashes // bands
    # A single-file source arrives as 1 partition; fan out so shingling
    # and hashing use the whole cluster (cheap: rows are narrow text).
    spark = docs.sparkSession
    docs = docs.repartition(spark.sparkContext.defaultParallelism, id_col)
    sh = _pin(shingle_docs(docs, id_col, text_col, k=k))
    sig = minhash_signatures(sh, id_col, "__shingles", num_hashes)
    pairs = lsh_candidate_pairs(sig, id_col, "__sig", bands, rows_per_band)
    verified = jaccard_on_shingles(pairs, sh, id_col, "__shingles")
    return verified.filter(F.col("jaccard") >= threshold)


def _minhash_pairs_on_driver(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """:func:`minhash_dedup_pairs` for a corpus that fits the driver:
    the same rows, from two Spark jobs.

    The first job is :func:`shingle_docs` plus the per-shingle
    ``xxhash64``, collected through Arrow. The rest follows the
    distributed plan step by step: the per-seed hash
    ``xxhash64(__h, lit(s))`` is ``hashInt(s, hashLong(__h, 42))`` in
    numpy, signatures are signed per-seed minimums per id (rows sharing
    an id share one signature), the second job runs :func:`band_buckets`
    over the collected signatures as a local relation, buckets of 2 to
    ``max_bucket_size`` ids pair as ``id_a < id_b`` (a NULL id counts
    toward its bucket but never pairs), and every candidate pair is
    verified row by row with exact Jaccard ``|a ∩ b| / |a ∪ b|``."""
    rows_per_band = num_hashes // bands
    t = shingle_docs(docs, id_col, text_col, k=k).select(
        F.col(id_col),
        "__shingles",
        F.transform("__shingles", lambda x: F.xxhash64(x)).alias("__hs"),
    ).toArrow()
    code: dict = {}
    row_code = np.fromiter(
        (code.setdefault(i, len(code)) for i in t.column(0).to_pylist()),
        dtype=np.int64, count=t.num_rows,
    )
    id_of = list(code)
    pairs: set[tuple[int, int]] = set()
    if id_of:
        hs = t.column(2).combine_chunks()
        owner = np.repeat(row_code, pc.list_value_length(hs).to_numpy())
        order = np.argsort(owner, kind="stable")
        starts = np.flatnonzero(np.r_[True, np.diff(owner[order]) != 0])
        # a shingle shared by many documents is seed-hashed once
        h1, inv = np.unique(
            xxh64_long(hs.flatten().to_numpy(), SPARK_HASH_SEED), return_inverse=True
        )
        inv = inv[order]
        sig = np.stack(
            [np.minimum.reduceat(xxh64_int(s, h1)[inv], starts) for s in range(num_hashes)],
            axis=1,
        )
        # band keys: Spark's own banding kernel over the collected
        # signatures, so each bucket is the distributed plan's
        sig_rows = pa.ListArray.from_arrays(
            pa.array(np.arange(0, sig.size + 1, num_hashes, dtype=np.int32)),
            pa.array(sig.ravel()),
        )
        keyed = band_buckets(
            docs.sparkSession.createDataFrame(
                pa.table({"__id": np.arange(len(id_of)), "__sig": sig_rows})
            ),
            "__id", "__sig", bands, rows_per_band,
        ).toArrow()
        member, band, bucket = (keyed.column(c).to_numpy() for c in ("__id", "band", "bucket"))
        by_bucket = np.lexsort((bucket, band))
        new_bucket = (np.diff(band[by_bucket]) != 0) | (np.diff(bucket[by_bucket]) != 0)
        edges = np.flatnonzero(np.r_[True, new_bucket, True])
        size = np.diff(edges)
        for e in np.flatnonzero((size >= 2) & (size <= max_bucket_size)).tolist():
            in_bucket = member[by_bucket[edges[e] : edges[e + 1]]].tolist()
            live = [m for m in in_bucket if id_of[m] is not None]
            for a, b in combinations(live, 2):
                pairs.add((a, b) if id_of[a] < id_of[b] else (b, a))
    rows_of: list[list[int]] = [[] for _ in id_of]
    for r, c in enumerate(row_code.tolist()):
        rows_of[c].append(r)
    grams = t.column(1).combine_chunks()

    @functools.cache
    def shingle_set(r: int) -> frozenset:
        return frozenset(grams[r].as_py())

    out_a, out_b, out_j = [], [], []
    for a, b in pairs:
        for sa, sb in product(map(shingle_set, rows_of[a]), map(shingle_set, rows_of[b])):
            inter = len(sa & sb)
            jac = inter / (len(sa) + len(sb) - inter)
            if jac >= threshold:
                out_a.append(id_of[a])
                out_b.append(id_of[b])
                out_j.append(jac)
    id_field = docs.schema[id_col]
    id_arrow = t.schema.field(0).type
    table = pa.table({
        "id_a": pa.array(out_a, id_arrow),
        "id_b": pa.array(out_b, id_arrow),
        "jaccard": pa.array(out_j, pa.float64()),
    })
    schema = StructType([
        StructField("id_a", id_field.dataType, id_field.nullable),
        StructField("id_b", id_field.dataType, id_field.nullable),
        StructField("jaccard", DoubleType(), True),
    ])
    # an Arrow table plans as a LocalRelation: evaluating it starts no
    # Python worker
    return docs.sparkSession.createDataFrame(table, schema)


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs a PERSISTED corpus band index
# ---------------------------------------------------------------------------
def build_minhash_band_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    fingerprint: str | None = None,
) -> dict:
    """Shingle + sign + band the CORPUS once and persist the
    (band, bucket, id) index as parquet partitioned by band, with the
    LSH params in a sidecar meta.json. The production incremental-
    dedup shape: the corpus is minhashed exactly once per version;
    each arriving batch probes the index (broadcast of the batch's
    bands) instead of re-banding 100 TB per batch. Returns meta."""
    import os as _os

    from aws_imdb_data_pipeline_spark.lifecycle.artifacts import write_json

    rows_per_band = num_hashes // bands
    sh = shingle_docs(docs, id_col, text_col, k=k)
    sig = minhash_signatures(sh, id_col, "__shingles", num_hashes)
    banded = band_buckets(sig, id_col, "__sig", bands, rows_per_band)
    # compact band dirs without capping the write at the band count:
    # spread_by_partition keeps ~1 file per band dir on narrow sessions
    # and >= parallelism write tasks on wide ones (r14 verdict #2 —
    # repartition("band") funneled the whole corpus through <= bands
    # tasks at scale)
    from aws_imdb_data_pipeline_spark.sources.lake import spread_by_partition

    spread_by_partition(
        banded.select(F.col("__id").alias("id"), "bucket", "band"),
        "band", "id", bands,
    ).write.mode("overwrite").partitionBy(
        "band"
    ).parquet(_os.path.join(path, "bands"))
    meta = {
        "k": k,
        "num_hashes": num_hashes,
        "bands": bands,
        "rows_per_band": rows_per_band,
        "id_col": id_col,
        "fingerprint": fingerprint,
    }
    write_json(_os.path.join(path, "meta.json"), meta)
    return meta


def read_band_index_meta(path: str) -> dict | None:
    import os as _os

    from aws_imdb_data_pipeline_spark.lifecycle.artifacts import read_json

    return read_json(_os.path.join(path, "meta.json"))


def minhash_pairs_from_index(
    docs: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Corpus-internal near-dup pairs SERVED from the persisted band
    index (:func:`build_minhash_band_index`): candidates are a
    self-join of the (band, bucket, id) index — the corpus is never
    re-shingled, re-signed, or re-banded — and the exact-Jaccard
    verify re-shingles ONLY docs that appear in candidates (semi-join
    first). Output-identical to ``minhash_dedup_pairs(docs, <the
    index's params>)`` by construction: identical params give
    identical buckets (band_buckets is the shared kernel), the same
    ``max_bucket_size`` cap is applied to the index rows, and the
    verify is the same exact Jaccard — so the consumer trades a full
    shingle+sign+band recompute for one parquet read per call.

    ``docs`` must be the corpus the index was built from (the artifact
    wrappers key the index path by corpus fingerprint + params)."""
    import os as _os

    from pyspark.sql import Window as _W

    spark = docs.sparkSession
    meta = read_band_index_meta(index_path)
    if meta is None:
        raise ValueError(f"no band index at {index_path}")
    index = spark.read.parquet(_os.path.join(index_path, "bands"))
    # Candidate generation = bucket-size window + index self-join.
    # A bucket-local alternative (groupBy collect_list + nested-
    # transform pair explosion) measured 2.4x FASTER in isolation
    # (0.58 vs 1.38 s at sf0.1) but 20% SLOWER in the full query
    # (interleaved same-session A/B, best 3.60 vs 3.03 s): the
    # collect_list aggregate re-executes for each of its two consumers
    # (pairs + the shingle bound), while the window form's identical
    # (band, bucket) exchanges are reused across the self-join sides.
    # Subtree cost only matters times its consumer count.
    bn = F.count(F.lit(1)).over(_W.partitionBy("band", "bucket"))
    # Pinned (the shingle-pin pattern, same lifetime contract): this
    # frame feeds THREE consumers — both self-join sides and the
    # shingle bound — and the r15 executed-plan metrics showed the
    # scan+window subtree evaluated once per consumer: the salted
    # band-partitioned layout draws a dynamic-partition-pruning
    # subquery on one join side, which breaks the exchange-reuse the
    # round-9 note relied on (non-identical subtrees). One evaluation
    # + two in-memory scans beats three window passes at any scale;
    # size ∝ eligible index rows (band-bucket members), disk-backed
    # by the default storage level at 100 TB.
    bounded = _pin(
        index.withColumn("__bn", bn)
        .filter((F.col("__bn") >= 2) & (F.col("__bn") <= max_bucket_size))
        .select("band", "bucket", "id")
    )
    a = bounded.select("band", "bucket", F.col("id").alias("id_a"))
    b = bounded.select("band", "bucket", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # shingle bound: every id in an eligible bucket (size >= 2, so each
    # member has a partner) participates in >= 1 candidate pair — the
    # bound comes straight from the bounded index, NOT from `pairs`
    # (deriving it from pairs re-executed the candidate subtree once
    # per consumer — round-9 advice; 17 scans / 24 shuffles, since 7/8).
    touched = bounded.select(F.col("id").alias(id_col)).distinct()
    # persisted for the same reason minhash_dedup_pairs persists its
    # shingle table: the verify join consumes it on BOTH pair sides,
    # and shingle construction dominates when candidates are wide
    # (degenerate-vocabulary regime: touched ≈ corpus — measured 6.4 s
    # unpersisted vs 2.4 s persisted at 51k docs; a single-reference
    # explode/groupBy verify measured no better than 2-ref, the compute
    # is the shingling).
    # Size ∝ candidate docs; MEMORY_AND_DISK default at cluster scale.
    # Caller-owned pin: release via release_pinned_shingles() in
    # long-lived sessions (round-10 advice — the lazy return means the
    # pin cannot be dropped here without re-shingling per consumer).
    # A narrow corpus scan (one task for a single-file lake table) would
    # serialize the verify shingle pass, so widen it; the optimizer
    # pushes the semi join below the repartition, so the exchange still
    # carries only the touched docs.
    shing_src = widen(docs, id_col).join(touched, id_col, "left_semi")
    sh = _pin(shingle_docs(shing_src, id_col, text_col, k=meta["k"]))
    verified = jaccard_on_shingles(pairs, sh, id_col, "__shingles")
    return verified.filter(F.col("jaccard") >= threshold)


def incremental_near_dup_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicates of ``new_docs`` AGAINST the indexed corpus:
    (new_id, corpus_id, jaccard >= threshold).

    The batch side is shingled/signed/banded with the INDEX's params
    (read from meta.json — parameter drift would silently miss every
    bucket), then joined to the persisted (band, bucket, id) index
    with the batch side BROADCAST — a batch is orders of magnitude
    smaller than the corpus, so the corpus index is never shuffled.
    Exact-Jaccard verification re-shingles only the corpus docs that
    appear in candidates (semi-join first), so corpus text is touched
    for candidates only, never wholesale. Intra-batch duplicates are
    the existing :func:`minhash_dedup_pairs` over the batch alone —
    compose both for full coverage.

    ``corpus_docs`` must be the same frame (same ids/text) the index
    was built from; ids must be unique across batch + corpus."""
    import os as _os

    spark = new_docs.sparkSession
    meta = read_band_index_meta(index_path)
    if meta is None:
        raise ValueError(f"no band index at {index_path}")
    # no persist: the batch side is small by contract (that is what
    # makes broadcast-probing the index correct), so recomputing its
    # shingles for the verify join is cheaper than pinning a cache the
    # caller cannot release (the returned frame is lazy)
    sh_new = shingle_docs(new_docs, id_col, text_col, k=meta["k"])
    sig_new = minhash_signatures(
        sh_new, id_col, "__shingles", meta["num_hashes"]
    )
    banded_new = band_buckets(
        sig_new, id_col, "__sig", meta["bands"], meta["rows_per_band"]
    ).select(F.col("__id").alias("new_id"), "band", "bucket")
    index = spark.read.parquet(_os.path.join(index_path, "bands"))
    candidates = (
        index.join(F.broadcast(banded_new), ["band", "bucket"])
        .filter(F.col("id") != F.col("new_id"))
        .select(F.col("new_id"), F.col("id").alias("corpus_id"))
        .distinct()
    )
    # verify on exact shingles: corpus side narrowed to candidate docs
    cand_corpus = corpus_docs.join(
        candidates.select(F.col("corpus_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    sh_corpus = shingle_docs(cand_corpus, id_col, text_col, k=meta["k"])
    a = sh_new.select(
        F.col(id_col).alias("new_id"), F.col("__shingles").alias("sh_a")
    )
    b = sh_corpus.select(
        F.col(id_col).alias("corpus_id"), F.col("__shingles").alias("sh_b")
    )
    verified = (
        candidates.join(a, "new_id")
        .join(b, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified
