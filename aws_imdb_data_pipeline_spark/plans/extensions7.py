"""Seventh extensions batch (round 9): the data-quality operators
above the heuristic rung — DSIR importance reweighting toward a target
domain (fully SQL-oracled, raw + artifact-served forms), a trained
hashed-BoW quality classifier (MLlib; driver-verified via a
pinned-boolean planted-task check) — and perceptual-hash image dedup
(aHash bits oracled exactly from the gradient-PNG closed form; the
banded hamming near-dup query fully oracled because banding is
pigeonhole-lossless at max_hamming < bands).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.plans.registry import register
from aws_imdb_data_pipeline_spark.session import widen
from aws_imdb_data_pipeline_spark.sources.tables import (
    load_table,
    maybe_broadcast,
    table_rows,
)

# (applicationId, documents path, mtime_ns, size) -> fitted quality
# PipelineModel. Same contract as plans.fingerprints._FP_CACHE: an
# in-memory, per-application memo of a construction-time derivation
# that is a pure function of the table content (up to in-session float
# aggregation order), stat-key-invalidated on any rewrite — never
# persisted across runs, never a memo of query RESULTS (scoring stays
# lazy and recomputes from parquet every evaluation).
_QC_MODEL_CACHE: dict[tuple, object] = {}


def _documents_stat_key(spark: SparkSession, sf_dir: str):
    import os

    path = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (
        spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size
    )


@register(
    "corpus_dsir_weights",
    oracle=r"""
    WITH words AS (
        SELECT doc_id, (d.source = 'src0') AS tgt, w AS word
        FROM documents d,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS t(w)
        WHERE w <> ''
    ),
    tf AS (
        SELECT doc_id, word, ANY_VALUE(tgt) AS tgt, COUNT(*) AS tf
        FROM words GROUP BY doc_id, word
    ),
    stats AS (
        SELECT word, SUM(tf) AS cq,
               SUM(CASE WHEN tgt THEN tf ELSE 0 END) AS ct
        FROM tf GROUP BY word
    ),
    tot AS (SELECT SUM(cq) AS nq, SUM(ct) AS nt, COUNT(*) AS v FROM stats)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_words,
           ROUND(SUM(tf * (LN((ct + 1.0) / (nt + v))
                           - LN((cq + 1.0) / (nq + v)))), 4) AS log_weight
    FROM tf JOIN stats USING (word) CROSS JOIN tot
    GROUP BY doc_id
    """,
    operators=("EXT-text", "EXT-corpus", "A1", "J1"),
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights toward the 'src0' target domain
    (extensions.textstats.dsir_log_weights): per document,
    Σ tf·[ln p_src0(t) − ln p_corpus(t)] under Laplace-smoothed unigram
    models fit in ONE tokenize pass. The oracle recomputes the full
    algebra in SQL, so the driver hash-match pins both models and the
    smoothing exactly. Compose with
    weighted_sample_without_replacement (its contract pinned by
    corpus_weighted_sample_check) for the paper's full
    select-toward-target recipe — both halves independently oracled."""
    from aws_imdb_data_pipeline_spark.extensions.textstats import (
        dsir_log_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    return dsir_log_weights(docs, F.col("source") == "src0")


@register(
    "corpus_dsir_weights_artifact",
    oracle=r"""
    WITH words AS (
        SELECT doc_id, (d.source = 'src0') AS tgt, lower(w) AS word
        FROM documents d,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS t(w)
        WHERE w <> ''
    ),
    tf AS (
        SELECT doc_id, word, ANY_VALUE(tgt) AS tgt, COUNT(*) AS tf
        FROM words GROUP BY doc_id, word
    ),
    stats AS (
        SELECT word, SUM(tf) AS cq,
               SUM(CASE WHEN tgt THEN tf ELSE 0 END) AS ct
        FROM tf GROUP BY word
    ),
    tot AS (SELECT SUM(cq) AS nq, SUM(ct) AS nt, COUNT(*) AS v FROM stats)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_words,
           ROUND(SUM(tf * (LN((ct + 1.0) / (nt + v))
                           - LN((cq + 1.0) / (nq + v)))), 4) AS log_weight
    FROM tf JOIN stats USING (word) CROSS JOIN tot
    GROUP BY doc_id
    """,
    operators=("EXT-text", "EXT-corpus", "EXT-tokenstats", "A1", "J1"),
)
def corpus_dsir_weights_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of DSIR reweighting: both unigram models come
    from the PERSISTED token-stats artifact — the raw model is the dfl
    vocabulary frame (word → corpus frequency, total = the exact
    marker integer), the target model one conditional aggregate over
    the persisted per-(doc, word) tf frame (semi-join on the target
    ids) — so reweighting toward a new target domain never tokenizes
    the corpus again; it is a vocabulary-sized join over parquet.
    Model semantics = the lowercased-token twin of corpus_dsir_weights
    (the artifact's tfl/dfl frames are lword-keyed); the oracle
    recomputes that algebra from raw text, so the hash match pins the
    artifact frames against a from-scratch fit."""
    from aws_imdb_data_pipeline_spark.extensions.tokenindex import (
        token_stats,
    )

    ts = token_stats(spark, sf_dir)
    tfl = ts.tfl().select("doc_id", "lword", "tf")
    target_ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select("doc_id")
    )
    ct = (
        tfl.join(maybe_broadcast(target_ids, sf_dir, "documents"), "doc_id", "left_semi")
        .groupBy("lword")
        .agg(F.sum("tf").alias("__ct"))
    )
    stats = (
        ts.dfl()
        .select("lword", F.col("cf").alias("__cq"))
        .join(ct, "lword", "left")
        .fillna({"__ct": 0})
    )
    tot = stats.agg(
        F.sum("__ct").alias("__nt"), F.count(F.lit(1)).alias("__v")
    )
    joined = tfl.join(stats, "lword").crossJoin(F.broadcast(tot))
    nq = F.lit(int(ts.sum_dl))
    term = F.col("tf") * (
        F.log((F.col("__ct") + F.lit(1.0)) / (F.col("__nt") + F.col("__v")))
        - F.log((F.col("__cq") + F.lit(1.0)) / (nq + F.col("__v")))
    )
    return joined.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_words"),
        F.round(F.sum(term), 4).alias("log_weight"),
    )


@register(
    "quality_classifier_check",
    oracle="""
    SELECT CAST(2 * (SELECT COUNT(*) FROM documents WHERE doc_id % 5 <> 0)
               AS BIGINT) AS n_train,
           CAST(2 * (SELECT COUNT(*) FROM documents WHERE doc_id % 5 = 0)
               AS BIGINT) AS n_holdout,
           true AS holdout_accuracy_ge_floor,
           true AS classes_separated
    """,
    operators=("EXT-text", "EXT-qualityml", "A6"),
)
def quality_classifier_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-pinned contract of the trained quality classifier
    (extensions.qualityml — model scores are float-order-dependent, so
    the model itself is never hash-pinned; its CONTRACT is):

    a planted separable task — positives are the corpus documents,
    negatives the same documents with vowels digit-mangled (disjoint
    token identities, the signal a hashed-BoW model must find) — is
    trained on the doc_id % 5 != 0 slice and evaluated on the held-out
    % 5 == 0 slice it never saw:

    - ``n_train`` / ``n_holdout``: exact, engine-independent (2x the
      slice counts — one clean + one corrupted row per doc);
    - ``holdout_accuracy_ge_floor``: >= 95% of held-out rows get the
      right class (measured 1.0 at sf0.001/0.01/0.1 — the task is
      separable by construction; 0.95 is the damage floor for an
      optimizer/feature-pipeline break);
    - ``classes_separated``: mean P(quality) of held-out clean rows
      exceeds mean P(quality) of held-out corrupted rows by >= 0.2
      (prediction could in principle pass on a degenerate calibrated
      boundary; the probability gap cannot).

    The fitted model is memoized per (applicationId, documents path,
    mtime_ns, size) — the fingerprints.py content-stat pattern: the
    training frame is a pure function of the documents table, the
    model is a bounded O(num_features) coefficient vector (a
    construction fact, like the PQ codebook literal), and the stat key
    invalidates on any lake rewrite. Every scoring evaluation still
    computes from parquet; only the eager LBFGS fit (an iterative
    full-table aggregate, ~2 s of driver-round-trip micro-stages per
    construction) stops re-running per construction."""
    from aws_imdb_data_pipeline_spark.extensions.qualityml import (
        score_quality,
        train_quality_classifier,
    )

    OFF = 1_000_000
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corrupt = F.translate(F.col("text"), "aeiou", "01234")
    labeled = docs.select(
        "doc_id", "text", F.lit(1.0).alias("label")
    ).unionByName(
        docs.select(
            (F.col("doc_id") + OFF).alias("doc_id"),
            corrupt.alias("text"),
            F.lit(0.0).alias("label"),
        )
    )
    is_holdout = (F.col("doc_id") % 5 == 0) | ((F.col("doc_id") - OFF) % 5 == 0)
    train, hold = labeled.filter(~is_holdout), labeled.filter(is_holdout)
    key = _documents_stat_key(spark, sf_dir)
    model = _QC_MODEL_CACHE.get(key) if key is not None else None
    if model is None:
        model = train_quality_classifier(train)
        if key is not None:
            _QC_MODEL_CACHE[key] = model
    scored = score_quality(model, hold)
    agg = scored.agg(
        F.count(F.lit(1)).alias("__nh"),
        F.sum(
            F.when(F.col("quality_pred") == F.col("label"), 1).otherwise(0)
        ).alias("__correct"),
        F.avg(F.when(F.col("label") == 1.0, F.col("quality_prob"))).alias(
            "__pclean"
        ),
        F.avg(F.when(F.col("label") == 0.0, F.col("quality_prob"))).alias(
            "__pcorrupt"
        ),
    )
    n_train = train.agg(F.count(F.lit(1)).alias("n_train"))
    return n_train.crossJoin(F.broadcast(agg)).select(
        F.col("n_train").cast("bigint").alias("n_train"),
        F.col("__nh").cast("bigint").alias("n_holdout"),
        (F.col("__correct") >= 0.95 * F.col("__nh")).alias(
            "holdout_accuracy_ge_floor"
        ),
        (F.col("__pclean") - F.col("__pcorrupt") >= 0.2).alias(
            "classes_separated"
        ),
    )


@register(
    "multimodal_image_ahash",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               ascii(substr(text, 1, 1)) AS c,
               greatest(CAST(ceil(octet_length(encode(text)) / 16.0)
                             AS INTEGER), 1) AS h
        FROM documents
    ),
    px AS (
        SELECT g.doc_id, (y.y * 8 + x.x) AS b,
               (g.c + 7 * ((y.y * g.h) // 8) + 6 * x.x) % 256 AS v
        FROM g, range(8) AS y(y), range(8) AS x(x)
    ),
    m AS (SELECT doc_id, SUM(v) / 64.0 AS mn FROM px GROUP BY doc_id)
    SELECT px.doc_id,
           CAST(SUM(CASE WHEN v > mn AND b >= 32
                         THEN (CAST(1 AS BIGINT) << (b - 32))
                         ELSE 0 END) AS BIGINT) AS hash_hi,
           CAST(SUM(CASE WHEN v > mn AND b < 32
                         THEN (CAST(1 AS BIGINT) << b)
                         ELSE 0 END) AS BIGINT) AS hash_lo,
           CAST(SUM(CASE WHEN v > mn THEN 1 ELSE 0 END) AS INTEGER)
               AS n_set
    FROM px JOIN m USING (doc_id)
    GROUP BY px.doc_id
    """,
    operators=("EXT-multimodal", "EXT-dedup"),
)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash of every document's gradient PNG,
    verified bit-for-bit against SQL: decode → 8x8 nearest resize →
    gray → threshold-vs-mean, emitted as two unsigned 32-bit halves.
    The oracle re-derives the 64 resized pixels in closed form (the
    same (y*h)//8 index map multimodal_image_resize pins), computes
    the exact power-of-two mean, and reassembles both hash words —
    so a codec bug, a wrong index map, a channel mix-up, or a bit-
    order slip each flip specific oracle bits. The only Python is the
    Arrow-batched codec kernel."""
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        ahash_images,
    )
    from aws_imdb_data_pipeline_spark.plans.extensions6 import (
        gradient_png_media,
    )

    fps = ahash_images(gradient_png_media(spark, sf_dir))
    return fps.select(
        F.col("media_id").alias("doc_id"), "hash_hi", "hash_lo", "n_set"
    )


@register(
    "multimodal_ahash_neardup",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               ascii(substr(text, 1, 1)) AS c,
               greatest(CAST(ceil(octet_length(encode(text)) / 16.0)
                             AS INTEGER), 1) AS h
        FROM documents WHERE doc_id < 500
    ),
    px AS (
        SELECT g.doc_id, (y.y * 8 + x.x) AS b,
               (g.c + 7 * ((y.y * g.h) // 8) + 6 * x.x) % 256 AS v
        FROM g, range(8) AS y(y), range(8) AS x(x)
    ),
    m AS (SELECT doc_id, SUM(v) / 64.0 AS mn FROM px GROUP BY doc_id),
    fp AS (
        SELECT px.doc_id,
               SUM(CASE WHEN v > mn AND b >= 32
                        THEN (CAST(1 AS BIGINT) << (b - 32))
                        ELSE 0 END) AS hi,
               SUM(CASE WHEN v > mn AND b < 32
                        THEN (CAST(1 AS BIGINT) << b)
                        ELSE 0 END) AS lo
        FROM px JOIN m USING (doc_id)
        GROUP BY px.doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
    """,
    operators=("EXT-multimodal", "EXT-dedup", "J1"),
)
def multimodal_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicates by perceptual hash, FULLY ORACLED — rare
    for an LSH-banded operator, possible here because banding is
    LOSSLESS at max_hamming(3) < bands(4) (pigeonhole: two hashes
    within 3 bits agree exactly on >= 1 of 4 slices), so the banded
    plan's output provably equals the oracle's all-pairs scan. The
    engine runs the linear banded kernel
    (extensions.dedup.hamming_near_dup_pairs — the SimHash machinery
    reused on image fingerprints); the oracle brute-forces the
    closed-form hashes. Bounded to the doc_id < 500 slice: the oracle
    side is quadratic BY DESIGN (that is what makes it an oracle) and
    the contract is slice-size-independent; the banded kernel itself
    is the scale path and is what runs on the full corpus."""
    from aws_imdb_data_pipeline_spark.extensions.dedup import (
        hamming_near_dup_pairs,
    )
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        ahash_images,
    )
    from aws_imdb_data_pipeline_spark.plans.extensions6 import (
        gradient_png_media,
    )

    # the slice bound rides into the synth so the row-aware widen
    # sizes itself to 500 docs, not the corpus (a session-width fan of
    # this tiny frame measured 1.9 -> 3.4 s — fixed Python-task cost)
    media = gradient_png_media(spark, sf_dir, max_id=500)
    fps = ahash_images(media).select(
        "media_id",
        (
            F.shiftleft(F.col("hash_hi"), 32).bitwiseOR(F.col("hash_lo"))
        ).alias("__fp64"),
    )
    return hamming_near_dup_pairs(
        fps, "media_id", "__fp64", max_hamming=3, bands=4
    )


_VIDEO_SIG_SQL = """
    WITH g AS (
        SELECT doc_id,
               ascii(substr(text, 1, 1)) AS c,
               2 + doc_id % 3 AS nf
        FROM documents
    ),
    fr AS (
        SELECT doc_id, c, CAST(unnest(range(0, nf, 2)) AS INTEGER) AS fidx
        FROM g
    ),
    px AS (
        SELECT fr.doc_id, fr.fidx, (y.y * 4 + x.x) AS b,
               (fr.c + 16 * fr.fidx + 7 * y.y + 3 * x.x) % 256 AS v
        FROM fr, range(4) AS y(y), range(4) AS x(x)
    ),
    m AS (
        SELECT doc_id, fidx, SUM(v) / 16.0 AS mn
        FROM px GROUP BY doc_id, fidx
    ),
    fh AS (
        SELECT px.doc_id, px.fidx,
               SUM(CASE WHEN v > mn THEN (1 << b) ELSE 0 END) AS fhash
        FROM px JOIN m USING (doc_id, fidx)
        GROUP BY px.doc_id, px.fidx
    ),
    sig AS (
        SELECT doc_id,
               CAST(COUNT(*) AS INTEGER) AS n_sampled,
               string_agg(CAST(fhash AS VARCHAR), '-' ORDER BY fidx)
                   AS video_sig
        FROM fh GROUP BY doc_id
    )
"""


@register(
    "multimodal_video_signatures",
    oracle=_VIDEO_SIG_SQL + """
    SELECT doc_id, n_sampled, video_sig FROM sig
    """,
    operators=("EXT-multimodal", "EXT-dedup", "J4"),
)
def multimodal_video_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video fingerprint for dedup, verified END TO END against SQL:
    each document's FPK1 video is container-PARSED, every 2nd frame
    PNG-decoded and perceptual-hashed (4x4 aHash — 16 threshold bits
    per frame), and the ordered per-frame hashes joined into the
    video's signature string. The oracle re-derives every sampled
    frame's 16 hash bits from the gradient closed form and re-joins
    them in frame order — so the container offsets, the sampling
    stride, the codec, the hash bit order, AND the frame ordering are
    all pinned by one hash match. The production video-dedup shape:
    frame-sampled fingerprint sequence as the dedup key."""
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        ahash_images,
        sample_frames,
    )
    from aws_imdb_data_pipeline_spark.plans.extensions6 import (
        gradient_fpk_media,
    )

    frames = sample_frames(gradient_fpk_media(spark, sf_dir), every_n=2)
    # composite key: nf <= 4 frames, frame_idx < 16 — decomposed below
    keyed = frames.select(
        (F.col("media_id") * 16 + F.col("frame_idx")).alias("media_id"),
        F.col("frame").alias("payload"),
    )
    fh = ahash_images(keyed, hash_w=4, hash_h=4).select(
        # integer decode: float division (media_id / 16) goes through a
        # double and silently corrupts once doc_id*16 exceeds 2^53;
        # shiftrightunsigned is exact for the full 64-bit key range
        F.shiftrightunsigned(F.col("media_id"), 4).alias("doc_id"),
        F.pmod(F.col("media_id"), F.lit(16)).cast("int").alias("fidx"),
        F.col("hash_lo"),  # 16 bits -> entirely in the low word
    )
    return fh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_sampled"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("fidx", "hash_lo"))),
                lambda s: s["hash_lo"].cast("string"),
            ),
            "-",
        ).alias("video_sig"),
    )


@register(
    "multimodal_video_dup_groups",
    oracle=_VIDEO_SIG_SQL + """
    SELECT video_sig,
           CAST(COUNT(*) AS BIGINT) AS n_videos,
           MIN(doc_id) AS canonical_doc
    FROM sig
    GROUP BY video_sig
    HAVING COUNT(*) > 1
    """,
    operators=("EXT-multimodal", "EXT-dedup", "A1"),
)
def multimodal_video_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-video groups by signature equality: the exact-dedup
    tail of the video fingerprint — one hash-aggregate over the
    signature strings, min-id canonical per group (the same survivor
    rule the text dedup family uses). Linear: no pairwise anything —
    signature equality IS the bucket. Fully oracled via the same
    closed form as multimodal_video_signatures."""
    from aws_imdb_data_pipeline_spark.plans.registry import REGISTRY

    sig = REGISTRY["multimodal_video_signatures"].fn(spark, sf_dir)
    return (
        sig.groupBy("video_sig")
        .agg(
            F.count(F.lit(1)).alias("n_videos"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_videos") > 1)
    )


@register(
    "multimodal_audio_fingerprint",
    oracle="""
    WITH chars AS (
        -- per-char rows via substring indexing, NOT a per-char regexp
        -- split (round 12: the regexp form evaluated 3x per row blew
        -- the 300 s sweep timeout at sf1; this form is 0.7 s for 16.5M
        -- char rows and verified row-identical at sf0.01)
        SELECT doc_id, i, ascii(text[i]) % 32768 AS s, len(text) AS n
        FROM documents,
             LATERAL unnest(generate_series(1, len(text))) AS t(i)
    ),
    fs AS (
        SELECT doc_id, ((i - 1) * 16) // n AS f,
               SUM(s) AS fsum, COUNT(*) AS cnt, ANY_VALUE(n) AS n
        FROM chars GROUP BY doc_id, ((i - 1) * 16) // n
    ),
    tot AS (SELECT doc_id, SUM(fsum) AS total FROM fs GROUP BY doc_id)
    SELECT fs.doc_id,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_samples,
           CAST(SUM(CASE WHEN fsum * n > total * cnt
                         THEN (1 << f) ELSE 0 END) AS INTEGER) AS fp,
           CAST(SUM(CASE WHEN fsum * n > total * cnt
                         THEN 1 ELSE 0 END) AS INTEGER) AS n_set
    FROM fs JOIN tot USING (doc_id)
    GROUP BY fs.doc_id
    """,
    operators=("EXT-multimodal", "EXT-dedup"),
)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint verified bit-for-bit against SQL: each
    document's CODE POINTS become PCM-16 samples in a REAL WAV
    container, the engine decodes it back and computes the 16-frame
    energy-contour fingerprint (extensions.multimodal.
    audio_fingerprint) — and every threshold bit is an INTEGER
    comparison (frame_sum * n > total * frame_len), so the oracle
    reproduces the hash exactly from the characters, with zero float
    tolerance anywhere. Pins the WAV codec round-trip, the frame
    split, and the bit order in one hash match — the audio member of
    the perceptual-dedup family (image aHash, video frame-signature)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from aws_imdb_data_pipeline_spark.extensions.codecs import (
        encode_wav_pcm16,
    )
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        audio_fingerprint,
    )

    @pandas_udf("binary")
    def to_wav(texts: pd.Series) -> pd.Series:
        # & 0x7fff: keep every code point inside PCM-16's positive
        # range — raw ord() over a non-ASCII doc would wrap in int16
        # while the oracle's ascii() keeps the full code point, so both
        # sides mask to the same 15-bit value (oracle: % 32768)
        return texts.map(
            lambda t: encode_wav_pcm16(
                np.array([ord(ch) & 0x7FFF for ch in t], dtype=np.int16),
                8000,
            )
        )

    # row-aware widen (gradient_png_media pattern): parallelize the
    # WAV encode + decode/fingerprint kernels across Python workers
    docs = widen(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        rows=table_rows(sf_dir, "documents"),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"), to_wav("text").alias("payload")
    )
    return audio_fingerprint(media, n_frames=16).select(
        F.col("media_id").alias("doc_id"), "n_samples", "fp", "n_set"
    )
