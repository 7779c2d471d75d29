"""Driver-verifiable contract checks for hash-family operators.

The engine has a family of operators whose OUTPUTS are Spark-hash-
specific (xxhash64 fingerprints, MinHash/LSH candidate sets, sign-LSH
ANN shortlists) and therefore can't be value-matched against a DuckDB
oracle — their registered queries are rows-only. Their CONTRACTS,
however, are engine-independent, and the corpus_hash_split_check
pattern (round 8) makes them driver-verifiable anyway: a check query
computes the contract Spark-side and emits a FIXED row of booleans
(plus any engine-independent exact numbers) that the oracle pins.
A broken hash, a drifted threshold, or a recall collapse flips a
boolean and hash-mismatches in CORRECTNESS_r*.json — the same gate
the value-matched queries face, applied to the property the
rows-only query can't expose.

Floors are chosen with margin below the measured deterministic values
(fixed seeds + fixed corpus => fixed recall; see each docstring) so
they hold at every shipped SF while still failing on real damage.

Sampled-exact strata (round 14, r13 verdict #1): the deliberately-
quadratic TRUTH legs (exact-Jaccard shingle join, brute all-pairs
cosine, exact batch-x-corpus retrieval) verify a DETERMINISTIC
stratum of the corpus above the sf1 caps — see plans/strata.py for
the two laws and why S == 1 (bit-identical historical behavior) on
every shipped lake, the driver gate, and the sf1 sweep. The strata
are mirrored exactly in the DuckDB oracles, so the checks stay
full-value driver-verifiable at ANY lake size, and the r13 pressure
substrate (sf10, 4 GB executors) can complete every heavy contract
instead of exhausting host spill disk on >75 GB truth kernels.

Coverage: every substantive rows-only query now has a companion here
(fingerprint, MinHash pairs, sign-LSH / IVF / IVF-PQ ANN, embedding-
LSH near-dup, HLL profile, hash split, incremental near-dup, semantic
dedup, the k-means cell family). Deliberately absent: the two index-
BUILD summaries (their artifact roundtrip is the contract, tested in
test_similarity.py/test_artifacts.py) and SimHash (measured planted-
variant detection swings 0.59-0.83 across SFs — a pinned floor would
be either flaky or vacuous; its banding guarantee is property-tested
instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.plans.registry import register
from aws_imdb_data_pipeline_spark.plans.strata import (
    TRUTH_DOC_CAP,
    TRUTH_VEC_CAP,
    linear_modulus,
    linear_modulus_sql,
    quadratic_modulus_sql,
)
from aws_imdb_data_pipeline_spark.sources.tables import (
    load_table,
    table_rows,
)


@register(
    "fingerprint_check",
    oracle="""
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           true AS variants_collapse,
           true AS distinct_norms_distinct_fps,
           true AS partition_invariant
    """,
    operators=("EXT-dedup", "F17", "A3"),
)
def fingerprint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the xxhash64 document fingerprint
    (extensions.textstats.fingerprint — rows-only as a value query):

    - ``variants_collapse``: a planted variant of every 7th document
      (UPPERCASED, internal single spaces doubled) fingerprints
      identically to its source — the normalization (lower +
      whitespace-run collapse) is what the fingerprint is FOR;
    - ``distinct_norms_distinct_fps``: across the corpus, the number
      of distinct fingerprints equals the number of distinct
      normalized texts (a 64-bit collision inside one corpus flips
      this at probability ~n²/2^65 — pinning true is the standard
      trade the dedup family already documents);
    - ``partition_invariant``: recomputing after repartition(7) gives
      every document the same fingerprint (hash depends on bytes,
      never on layout).

    n_docs is engine-independent and value-checked exactly."""
    from aws_imdb_data_pipeline_spark.extensions.textstats import fingerprint

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.upper(F.regexp_replace("text", " ", "  ")).alias("text"),
    )
    base_fp = fingerprint(docs).select("doc_id", "fp64")
    var_fp = fingerprint(variants).select(
        "doc_id", F.col("fp64").alias("fp64_v")
    )
    collapse = (
        base_fp.join(var_fp, "doc_id")
        .agg(
            F.sum(
                F.when(F.col("fp64") != F.col("fp64_v"), 1).otherwise(0)
            ).alias("__bad"),
            F.count(F.lit(1)).alias("__n_var"),
        )
    )
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    inj = fingerprint(docs).select(norm.alias("__norm"), "fp64").agg(
        F.count_distinct("__norm").alias("__n_norms"),
        F.count_distinct("fp64").alias("__n_fps"),
    )
    repart_fp = fingerprint(docs.repartition(7)).select(
        "doc_id", F.col("fp64").alias("fp64_r")
    )
    stable = base_fp.join(repart_fp, "doc_id").agg(
        F.sum(
            F.when(F.col("fp64") != F.col("fp64_r"), 1).otherwise(0)
        ).alias("__moved"),
        F.count(F.lit(1)).alias("__pairs"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        n.crossJoin(F.broadcast(collapse))
        .crossJoin(F.broadcast(inj))
        .crossJoin(F.broadcast(stable))
        .select(
            "n_docs",
            ((F.col("__bad") == 0) & (F.col("__n_var") > 0)).alias(
                "variants_collapse"
            ),
            (F.col("__n_norms") == F.col("__n_fps")).alias(
                "distinct_norms_distinct_fps"
            ),
            (
                (F.col("__moved") == 0) & (F.col("__pairs") == F.col("n_docs"))
            ).alias("partition_invariant"),
        )
    )


@register(
    "simhash_check",
    oracle="""
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT COUNT(*) FROM documents WHERE doc_id % 9 = 0)
               AS n_planted,
           true AS reversal_invariant,
           true AS planted_pairs_found,
           true AS reported_within_hamming,
           true AS banding_complete_on_subset
    """,
    operators=("EXT-dedup", "A3", "A6", "J1"),
)
def simhash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the SimHash near-dup path (extensions/dedup.py
    simhash64 + simhash_near_dup_pairs — the last substantive
    rows-only family without a pinned oracle, round-8 verdict #5):

    - ``reversal_invariant``: reversing every document's token order
      leaves its 64-bit fingerprint IDENTICAL (the bit votes are a
      token-multiset aggregate — order-free by construction);
    - ``planted_pairs_found``: a reversed-token twin of every 9th
      document (planted under id + 1e6) is reported as a near-dup of
      its source — hamming 0 agrees on every band, so candidacy is a
      pigeonhole CERTAINTY, not a probabilistic recall claim;
    - ``reported_within_hamming``: every reported pair, re-scored from
      independently recomputed fingerprints, is within max_hamming=3
      (verifies the final filter end-to-end);
    - ``banding_complete_on_subset``: on the doc_id < 300 slice, the
      banded path returns EXACTLY the brute-force all-pairs set at
      hamming <= 3 (max_hamming < bands makes banding lossless by
      pigeonhole — the bounded N^2 kernel exists only here, in the
      check, as ground truth).

    n_docs / n_planted are engine-independent and value-checked."""
    import os as _os

    from aws_imdb_data_pipeline_spark.extensions.dedup import (
        hamming_near_dup_pairs,
        simhash64,
    )
    from aws_imdb_data_pipeline_spark.plans.extensions import (
        ensure_simhash_index,
    )

    OFF = 1_000_000
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rev_text = F.concat_ws(" ", F.reverse(F.split(F.col("text"), r"\s+")))

    # Corpus fingerprints SERVE from the persisted simhash artifact
    # (round-9 verdict #3): the base pass is one tokenize+bit-vote per
    # CORPUS VERSION (ensure_simhash_index), and each of this check's
    # ~6 consumers is a 16-byte-per-doc parquet scan — no recompute, no
    # CacheManager pin. This also means the check verifies the SERVED
    # fingerprints — the same frame simhash_near_dup_documents joins —
    # not a parallel in-check recomputation. Only fp_rev (reversed
    # text, check-specific by construction) is computed here: ONE
    # fingerprint pass, persisted as a bounded-tiny pin (16 bytes/doc)
    # feeding its two consumers.
    fp = spark.read.parquet(
        _os.path.join(ensure_simhash_index(spark, sf_dir), "fps")
    ).select("doc_id", "simhash")
    fp_rev = simhash64(
        docs.select("doc_id", rev_text.alias("text")), "text"
    ).select("doc_id", "simhash").persist()

    # (1) order-freeness: fingerprint(text) == fingerprint(reversed)
    rev_ok = fp.join(
        fp_rev.select("doc_id", F.col("simhash").alias("__sr")), "doc_id"
    ).agg(
        F.sum(
            F.when(F.col("simhash") != F.col("__sr"), 1).otherwise(0)
        ).alias("__revbad"),
        F.count(F.lit(1)).alias("__revn"),
    )

    # (2) planted twins through the full banded pipeline (fingerprints
    # of originals + shifted-id reversed variants, banded kernel)
    all_fp = fp.unionByName(
        fp_rev.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + OFF).alias("doc_id"), "simhash"
        )
    )
    pairs = hamming_near_dup_pairs(
        all_fp, "doc_id", "simhash", max_hamming=3, bands=4
    )
    planted = pairs.filter(F.col("id_b") == F.col("id_a") + OFF).agg(
        F.count(F.lit(1)).alias("__found")
    )
    n_planted = docs.filter(F.col("doc_id") % 9 == 0).agg(
        F.count(F.lit(1)).alias("n_planted")
    )

    # (3) every reported pair within max_hamming on the fp frames
    rescored = (
        pairs.join(
            all_fp.select(
                F.col("doc_id").alias("id_a"), F.col("simhash").alias("__fa")
            ),
            "id_a",
        )
        .join(
            all_fp.select(
                F.col("doc_id").alias("id_b"), F.col("simhash").alias("__fb")
            ),
            "id_b",
        )
        .agg(
            F.sum(
                F.when(
                    F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))) > 3,
                    1,
                ).otherwise(0)
            ).alias("__overh"),
        )
    )

    # (4) banding == brute force on a bounded slice (pigeonhole)
    sub_fp = fp.filter(F.col("doc_id") < 300)
    a = sub_fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("__fa"))
    b = sub_fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("__fb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))) <= 3)
        .select("id_a", "id_b")
    )
    banded_sub = hamming_near_dup_pairs(
        sub_fp, "doc_id", "simhash", max_hamming=3, bands=4
    ).select("id_a", "id_b")
    sym_diff = (
        brute.withColumn("__t", F.lit(1))
        .join(
            banded_sub.withColumn("__b", F.lit(1)),
            ["id_a", "id_b"],
            "full_outer",
        )
        .agg(
            F.sum(
                F.when(F.col("__t").isNull() | F.col("__b").isNull(), 1)
                .otherwise(0)
            ).alias("__miss"),
        )
    )

    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        n.crossJoin(F.broadcast(n_planted))
        .crossJoin(F.broadcast(rev_ok))
        .crossJoin(F.broadcast(planted))
        .crossJoin(F.broadcast(rescored))
        .crossJoin(F.broadcast(sym_diff))
        .select(
            "n_docs",
            "n_planted",
            (
                (F.col("__revbad") == 0) & (F.col("__revn") == F.col("n_docs"))
            ).alias("reversal_invariant"),
            (F.col("__found") == F.col("n_planted")).alias(
                "planted_pairs_found"
            ),
            (F.col("__overh") == 0).alias("reported_within_hamming"),
            (F.col("__miss") == 0).alias("banding_complete_on_subset"),
        )
    )


@register(
    "dedup_minhash_check",
    oracle=rf"""
    WITH params AS (
        SELECT {linear_modulus_sql('documents', TRUTH_DOC_CAP)} AS s
    ),
    strat AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % (SELECT s FROM params) = 0
    ),
    w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM strat
    ),
    sh AS (
        SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS g
        FROM w a
        JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        JOIN w c ON c.doc_id = a.doc_id AND c.i = a.i + 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_both
        FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_both * 1.0 / (sa.n + sb.n - n_both) >= 0.6
    )
    SELECT (SELECT COUNT(*) FROM truth) AS n_true_pairs,
           true AS no_false_positives,
           true AS recall_ge_floor
    """,
    operators=("EXT-dedup", "A6", "J1"),
)
def dedup_minhash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the MinHash+LSH near-dup pipeline
    (minhash_dedup_documents — rows-only as a value query, because the
    banding may MISS true pairs):

    - ``n_true_pairs``: the exact-Jaccard (3-gram, >= 0.6) ground
      truth, computed by common-shingle join on BOTH engines — an
      engine-independent integer, value-checked exactly;
    - ``no_false_positives``: every LSH-reported pair is in the ground
      truth (guaranteed by the verify pass — this catches a broken
      verify, not a broken hash);
    - ``recall_ge_floor``: LSH finds >= 60% of the true pairs. With
      fixed seeds and a fixed corpus the recall is deterministic —
      measured 1.00 at sf0.001, sf0.01 AND sf0.1 (the 64-hash/16-band
      design is generous at the 0.6 threshold) — so the 0.6 floor is
      damage detection, not a tuning bar.

    Scale note (sampled-exact stratum, r13 verdict #1): ground truth
    is the common-shingle join (any pair at Jaccard >= 0.6 shares
    shingles), NOT an all-pairs cross join — but its pair volume
    still grows ~n^2 (shingle document frequencies scale with the
    corpus), and the r13 pressure run measured >75 GB of spill at
    sf10 on one host. Both legs therefore verify the DETERMINISTIC
    doc stratum ``doc_id % S == 0`` with S = linear_modulus(n_docs)
    (plans/strata.py): S == 1 — the historical full-corpus form — on
    every shipped lake, the driver gate, and the sf1 sweep; above
    that the stratum holds ~50k docs so the truth leg's working set
    is the sf1-green one at every scale. The SERVE leg still runs
    the full-corpus band index (it passed sf10 under pressure) and
    is compared on stratum pairs only.

    The POSITIVE leg is served from the persisted band-index artifact
    (minhash_pairs_from_index — round-8 verdict #3): identical params
    give identical buckets, so the check pins the same contract
    without re-shingling/re-signing/re-banding the corpus it already
    indexed; only the ground-truth leg touches raw text (that being
    the point of the check)."""
    from aws_imdb_data_pipeline_spark.extensions.dedup import (
        minhash_pairs_from_index,
        shingle_docs,
    )
    from aws_imdb_data_pipeline_spark.plans.extensions import (
        ensure_band_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Deterministic sampled-exact stratum (see docstring): the corpus
    # size comes from parquet footer metadata (exact == COUNT(*), no
    # Spark job); the modulus must be a literal to mirror the oracle's
    # integer arithmetic exactly.
    stratum = linear_modulus(table_rows(sf_dir, "documents"), TRUTH_DOC_CAP)
    # at S == 1 skip the no-op filters so shipped-lake plans are
    # byte-identical to the historical form
    docs_t = docs if stratum == 1 else docs.filter(
        F.col("doc_id") % stratum == 0
    )
    # Widen the truth leg's shingle pass: a single-file corpus arrives
    # as ONE scan task, serializing ~2.3 s of shingle+hash CPU — twice,
    # because the eager pairs_est job and the lazy truth leg each
    # evaluate it (two 1-task/2.3 s-CPU stages dominated the check's
    # wall). Scale-safe: the stratum bounds this frame at
    # ~TRUTH_DOC_CAP docs at ANY corpus size, so pinning its
    # width to the session's parallelism can never under-split a big
    # scan (the serve leg below is untouched).
    docs_t = docs_t.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # Shingles travel as xxhash64 keys, not strings (round-9 verdict
    # #2): the ground-truth self-join shuffles 8-byte keys (~3x
    # narrower rows), the same hashed-key-through-shuffle trade the
    # corpus family documents (collision odds ~n_shingles^2/2^64;
    # collisions would only INFLATE n_both, never drop a true pair).
    # Measured trade-offs at sf0.1 (solo best-of-3): string keys
    # 4.38 s -> hashed 3.74 s; a lazy localCheckpoint of this frame to
    # dedup its 3 consumers went the other way (5.5 s) — the
    # materialization barrier serializes stages that otherwise overlap,
    # and re-deriving a cheap projection 3x costs less than storing it.
    sh = (
        shingle_docs(docs_t, "doc_id", "text", k=3)
        .select("doc_id", F.explode("__shingles").alias("g"))
        .select("doc_id", F.xxhash64("g").alias("gh"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x = sh.select(F.col("doc_id").alias("id_a"), "gh")
    y = sh.select(F.col("doc_id").alias("id_b"), "gh")
    # Adaptive pre-aggregate shuffle for the quadratic truth leg (the
    # bm25_scores §49 pattern): candidate pairs = Σ_g C(df_g, 2),
    # exactly computable from one vocabulary-sized aggregate. The r13
    # cluster pressure run (sf10, 4 GB executors) OOMed the executor
    # HEAP here — 8 concurrent map-side (id_a, id_b) hash-aggregate
    # maps over the exploded self-join — and the dying executor's
    # hung shutdown poisoned the whole session. Above the threshold,
    # repartitioning the join output by the group key BEFORE the
    # count turns the map side into a streaming join→exchange and
    # bounds every post-exchange aggregation map to ~pairs/n_parts
    # rows; below it the plan is byte-identical to the classic form.
    # Deliberately EAGER (.first() at construction time), unlike
    # bm25_scores' cand_rows parameter (r12 ADVICE): this contract
    # runs once per parity sweep, is never composed lazily into a
    # serve path, and the estimate IS what prevents the §57 heap OOM
    # — threading a laziness knob here would add a parameter nobody
    # passes. Same documented trade as `stratum` above.
    pairs_est = (
        sh.groupBy("gh").agg(F.count(F.lit(1)).alias("__df"))
        .agg(F.sum(F.col("__df") * (F.col("__df") - F.lit(1)) / 2))
        .first()[0]
    ) or 0
    joined_gt = x.join(y, "gh").filter(F.col("id_a") < F.col("id_b"))
    if pairs_est > 64_000_000:
        n_parts = int(min(2000, max(32, pairs_est // 2_000_000)))
        joined_gt = joined_gt.repartition(n_parts, "id_a", "id_b")
    inter = joined_gt.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_both")
    )
    truth = (
        inter.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))),
            "id_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))),
            "id_b",
        )
        .filter(
            F.col("n_both") / (F.col("na") + F.col("nb") - F.col("n_both"))
            >= 0.6
        )
        .select("id_a", "id_b")
    )
    lsh = minhash_pairs_from_index(
        docs, ensure_band_index(spark, sf_dir), "doc_id", "text",
        threshold=0.6,
    )
    if stratum > 1:
        lsh = lsh.filter(
            (F.col("id_a") % stratum == 0) & (F.col("id_b") % stratum == 0)
        )
    lsh = lsh.select("id_a", "id_b")
    joined = truth.withColumn("__t", F.lit(1)).join(
        lsh.withColumn("__l", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    agg = joined.agg(
        F.sum(F.when(F.col("__t").isNotNull(), 1).otherwise(0)).alias("__nt"),
        F.sum(
            F.when(F.col("__l").isNotNull() & F.col("__t").isNull(), 1)
            .otherwise(0)
        ).alias("__fp"),
        F.sum(
            F.when(F.col("__l").isNotNull() & F.col("__t").isNotNull(), 1)
            .otherwise(0)
        ).alias("__hit"),
    )
    return agg.select(
        F.col("__nt").cast("bigint").alias("n_true_pairs"),
        (F.col("__fp") == 0).alias("no_false_positives"),
        (F.col("__hit") >= F.lit(0.6) * F.col("__nt")).alias(
            "recall_ge_floor"
        ),
    )


@register(
    "ann_lsh_recall_check",
    oracle="""
    SELECT CAST(25 AS BIGINT) AS n_truth,
           true AS recall_ge_floor,
           true AS lsh_subset_scored_exactly
    """,
    operators=("EXT-sim", "A6", "J1"),
)
def ann_lsh_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the banded sign-LSH ANN shortlist
    (ann_cosine_topk_lsh — rows-only as a value query):

    - ``n_truth``: the brute-force top-5 per query for the 5 query
      vectors — always exactly 25 rows (engine-independent, pinned);
    - ``recall_ge_floor``: the LSH top-5 recovers >= 60% of the brute
      top-5 pairs. Deterministic for fixed seeded banks + corpus —
      measured 0.76 / 0.72 / 0.84 at sf0.001 / 0.01 / 0.1; 0.6 is
      the damage floor (tests pin tighter per-corpus values);
    - ``lsh_subset_scored_exactly``: every LSH result pair carries the
      SAME rounded cosine the brute path computes for that pair — the
      shortlist approximates WHICH pairs, never the scores."""
    from aws_imdb_data_pipeline_spark.extensions.similarity import (
        cosine_topk,
        cosine_topk_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    brute = cosine_topk(q, emb, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id", F.col("cosine").alias("__bc")
    )
    lsh = cosine_topk_lsh(
        q, emb, "vec_id", "embedding", dim=64, k=5
    ).select("query_id", "neighbor_id", F.col("cosine").alias("__lc"))
    joined = brute.withColumn("__t", F.lit(1)).join(
        lsh.withColumn("__l", F.lit(1)),
        ["query_id", "neighbor_id"],
        "full_outer",
    )
    agg = joined.agg(
        F.sum(F.when(F.col("__t").isNotNull(), 1).otherwise(0)).alias("__nt"),
        F.sum(
            F.when(F.col("__t").isNotNull() & F.col("__l").isNotNull(), 1)
            .otherwise(0)
        ).alias("__hit"),
        F.sum(
            F.when(
                F.col("__t").isNotNull()
                & F.col("__l").isNotNull()
                & (F.col("__bc") != F.col("__lc")),
                1,
            ).otherwise(0)
        ).alias("__scoremm"),
    )
    return agg.select(
        F.col("__nt").cast("bigint").alias("n_truth"),
        (F.col("__hit") >= F.lit(0.6) * F.col("__nt")).alias(
            "recall_ge_floor"
        ),
        (F.col("__scoremm") == 0).alias("lsh_subset_scored_exactly"),
    )


@register(
    "ann_ivf_recall_check",
    oracle="""
    SELECT CAST(25 AS BIGINT) AS n_truth,
           true AS recall_ge_floor,
           true AS ivf_subset_scored_exactly
    """,
    operators=("EXT-sim", "A6", "J1"),
)
def ann_ivf_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the IVF ANN serve path (ann_cosine_topk_ivf —
    rows-only as a value query): the artifact-served, 4-of-16-list
    probe recovers >= 40% of the brute top-5 pairs, and every pair it
    does return carries the exact rounded cosine the brute path
    computes. Deterministic for the fixed seed + corpus — measured
    recall 0.88 / 0.84 / 0.52 at sf0.001 / 0.01 / 0.1 (the sf0.1
    corpus clusters less cleanly at 16 lists; the probed fraction is
    the knob, SCALE.md §19) — 0.4 is the damage floor."""
    from aws_imdb_data_pipeline_spark.extensions.similarity import cosine_topk
    from aws_imdb_data_pipeline_spark.plans.registry import REGISTRY

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    brute = cosine_topk(q, emb, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id", F.col("cosine").alias("__bc")
    )
    ivf = REGISTRY["ann_cosine_topk_ivf"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("cosine").alias("__ic")
    )
    joined = brute.withColumn("__t", F.lit(1)).join(
        ivf.withColumn("__i", F.lit(1)),
        ["query_id", "neighbor_id"],
        "full_outer",
    )
    agg = joined.agg(
        F.sum(F.when(F.col("__t").isNotNull(), 1).otherwise(0)).alias("__nt"),
        F.sum(
            F.when(F.col("__t").isNotNull() & F.col("__i").isNotNull(), 1)
            .otherwise(0)
        ).alias("__hit"),
        F.sum(
            F.when(
                F.col("__t").isNotNull()
                & F.col("__i").isNotNull()
                & (F.col("__bc") != F.col("__ic")),
                1,
            ).otherwise(0)
        ).alias("__scoremm"),
    )
    return agg.select(
        F.col("__nt").cast("bigint").alias("n_truth"),
        (F.col("__hit") >= F.lit(0.4) * F.col("__nt")).alias(
            "recall_ge_floor"
        ),
        (F.col("__scoremm") == 0).alias("ivf_subset_scored_exactly"),
    )


@register(
    "embedding_lsh_neardup_check",
    oracle=f"""
    WITH params AS (
        SELECT {linear_modulus_sql('embeddings', TRUTH_VEC_CAP)} AS s
    ),
    v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE vec_id % (SELECT s FROM params) = 0
    ),
    n AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm, v FROM v),
    truth AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
              >= 0.4
    )
    SELECT (SELECT COUNT(*) FROM truth) AS n_true_pairs,
           true AS no_false_positives,
           true AS recall_ge_floor
    """,
    operators=("EXT-sim", "EXT-dedup", "A6", "J1"),
)
def embedding_lsh_neardup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the LSH embedding near-dup path
    (embedding_near_dup_lsh — rows-only as a value query): against the
    brute-force cosine >= 0.4 ground truth (itself the oracled
    embedding_near_dup query, and recomputed exactly by this oracle
    as n_true_pairs), the banded path reports no pair outside the
    truth (its exact-cosine verify guarantees it) and recovers >= 75%
    of it even in this recall-stress regime (threshold 0.4 sits near
    the sign-LSH noise floor). Deterministic — measured recall
    0.955 / 0.949 / 0.923 at sf0.001 / 0.01 / 0.1.

    Sampled-exact stratum (r13 verdict #1): both legs verify the
    deterministic slice ``vec_id % S == 0``, S = linear_modulus(n)
    (plans/strata.py) — S == 1 (full corpus, the historical form) on
    every shipped lake and at sf1; above that the stratum holds
    ~20k vectors so the brute truth leg's O(n^2) kernel keeps the
    sf1-green working set at any scale. The single-side id
    predicates push through the truth leg's cross join into both
    scan sides, so compute — not just output — is pruned."""
    from aws_imdb_data_pipeline_spark.plans.registry import REGISTRY

    emb = load_table(spark, sf_dir, "embeddings")
    # footer-metadata corpus size — the documented-eager stratum
    # pattern (see dedup_minhash_check), now without the Spark job
    stratum = linear_modulus(table_rows(sf_dir, "embeddings"), TRUTH_VEC_CAP)
    truth = REGISTRY["embedding_near_dup"].fn(spark, sf_dir)
    lsh = REGISTRY["embedding_near_dup_lsh"].fn(spark, sf_dir)
    if stratum > 1:  # no-op filters skipped at S == 1 (plan parity)
        in_stratum = (F.col("id_a") % stratum == 0) & (
            F.col("id_b") % stratum == 0
        )
        truth = truth.filter(in_stratum)
        lsh = lsh.filter(in_stratum)
    truth = truth.select("id_a", "id_b")
    lsh = lsh.select("id_a", "id_b")
    joined = truth.withColumn("__t", F.lit(1)).join(
        lsh.withColumn("__l", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    agg = joined.agg(
        F.sum(F.when(F.col("__t").isNotNull(), 1).otherwise(0)).alias("__nt"),
        F.sum(
            F.when(F.col("__l").isNotNull() & F.col("__t").isNull(), 1)
            .otherwise(0)
        ).alias("__fp"),
        F.sum(
            F.when(F.col("__l").isNotNull() & F.col("__t").isNotNull(), 1)
            .otherwise(0)
        ).alias("__hit"),
    )
    return agg.select(
        F.col("__nt").cast("bigint").alias("n_true_pairs"),
        (F.col("__fp") == 0).alias("no_false_positives"),
        (F.col("__hit") >= F.lit(0.75) * F.col("__nt")).alias(
            "recall_ge_floor"
        ),
    )


@register(
    "ann_ivf_pq_recall_check",
    oracle="""
    SELECT CAST(25 AS BIGINT) AS n_truth,
           true AS recall_ge_floor,
           true AS pq_subset_scored_exactly
    """,
    operators=("EXT-sim", "A6", "J1"),
)
def ann_ivf_pq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the IVF-PQ serve path (ann_cosine_topk_ivf_pq —
    rows-only as a value query): the 32x-compressed, ADC-scored,
    exact-re-ranked shortlist recovers >= 20% of the brute top-5
    pairs, and because the final re-rank computes EXACT cosines,
    every returned pair that is also a true pair carries the brute
    path's rounded score bit-for-bit. Deterministic — measured recall
    0.36 / 0.56 / 0.32 at sf0.001 / 0.01 / 0.1 (8-byte codes trade
    recall for memory by design; refine_factor is the knob,
    SCALE.md §11) — 0.2 is the damage floor, the tests pin tighter
    per-corpus values and planted-twin retrieval."""
    from aws_imdb_data_pipeline_spark.extensions.similarity import cosine_topk
    from aws_imdb_data_pipeline_spark.plans.registry import REGISTRY

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    brute = cosine_topk(q, emb, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id", F.col("cosine").alias("__bc")
    )
    pq = REGISTRY["ann_cosine_topk_ivf_pq"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("cosine").alias("__pc")
    )
    joined = brute.withColumn("__t", F.lit(1)).join(
        pq.withColumn("__p", F.lit(1)),
        ["query_id", "neighbor_id"],
        "full_outer",
    )
    agg = joined.agg(
        F.sum(F.when(F.col("__t").isNotNull(), 1).otherwise(0)).alias("__nt"),
        F.sum(
            F.when(F.col("__t").isNotNull() & F.col("__p").isNotNull(), 1)
            .otherwise(0)
        ).alias("__hit"),
        F.sum(
            F.when(
                F.col("__t").isNotNull()
                & F.col("__p").isNotNull()
                & (F.col("__bc") != F.col("__pc")),
                1,
            ).otherwise(0)
        ).alias("__scoremm"),
    )
    return agg.select(
        F.col("__nt").cast("bigint").alias("n_truth"),
        (F.col("__hit") >= F.lit(0.2) * F.col("__nt")).alias(
            "recall_ge_floor"
        ),
        (F.col("__scoremm") == 0).alias("pq_subset_scored_exactly"),
    )


@register(
    "rrf_hybrid_ivf_check",
    oracle=f"""
    SELECT CAST(5 * (SELECT COUNT(*) FROM documents
                     WHERE doc_id %
                           (20 * {quadratic_modulus_sql('documents',
                                                        TRUTH_DOC_CAP)})
                           = 0) AS BIGINT) AS n_truth,
           true AS overlap_ge_floor,
           true AS lex_legs_identical
    """,
    operators=("EXT-retrieval", "EXT-sim", "A6", "J-full"),
)
def rrf_hybrid_ivf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the IVF-served hybrid retriever
    (rrf_hybrid_retrieval_ivf — rows-only as a value query) against
    the exact, fully-oracled rrf_hybrid_retrieval:

    - ``n_truth``: the exact form emits exactly 5 fused rows per query
      (oracle recomputes 5 x |queries| — the query set is doc_id %
      (20*S) == 0 over DOCUMENTS with S the strata batch modulus
      (plans/strata.py; S == 1, the historical set, at sf <= 1): the
      lexical leg's set, a superset of the dense leg's whenever
      embeddings cover a prefix of the doc ids, and the fused
      full-outer keeps its union — both compared forms use the same
      internal modulus, so the check needs no stratum logic itself);
    - ``overlap_ge_floor``: the IVF-served fused top-5 recovers >= 75%
      of the exact fused top-5 pairs — measured 0.96 / 0.91 / 0.97 at
      sf0.001 / 0.01 / 0.1 with n_probe=6 of 16 lists (the dense legs
      disagree only where IVF recall drops, and RRF's lexical half
      anchors most of the fused list);
    - ``lex_legs_identical``: on every (query, doc) pair BOTH forms
      return, the lexical rank matches bit-for-bit (null-safe — the
      lexical leg is shared code riding the same token-stats artifact,
      so any divergence is a wiring bug, not approximation)."""
    from aws_imdb_data_pipeline_spark.plans.registry import REGISTRY

    exact = REGISTRY["rrf_hybrid_retrieval"].fn(spark, sf_dir).select(
        "query_id", "doc_id", F.col("lex_rank").alias("__el")
    )
    ivf = REGISTRY["rrf_hybrid_retrieval_ivf"].fn(spark, sf_dir).select(
        "query_id", "doc_id", F.col("lex_rank").alias("__il")
    )
    joined = exact.withColumn("__t", F.lit(1)).join(
        ivf.withColumn("__i", F.lit(1)),
        ["query_id", "doc_id"],
        "full_outer",
    )
    both = F.col("__t").isNotNull() & F.col("__i").isNotNull()
    agg = joined.agg(
        F.sum(F.when(F.col("__t").isNotNull(), 1).otherwise(0)).alias("__nt"),
        F.sum(F.when(both, 1).otherwise(0)).alias("__hit"),
        F.sum(
            F.when(both & ~F.col("__el").eqNullSafe(F.col("__il")), 1)
            .otherwise(0)
        ).alias("__lexmm"),
    )
    return agg.select(
        F.col("__nt").cast("bigint").alias("n_truth"),
        (F.col("__hit") >= F.lit(0.75) * F.col("__nt")).alias(
            "overlap_ge_floor"
        ),
        (F.col("__lexmm") == 0).alias("lex_legs_identical"),
    )


@register(
    "dq_approx_distinct_check",
    oracle="""
    SELECT * FROM (VALUES
        ('customer', (SELECT COUNT(*) FROM customer), true),
        ('lineitem', (SELECT COUNT(*) FROM lineitem), true),
        ('orders',   (SELECT COUNT(*) FROM orders),   true))
        AS t(dataset, row_count, distincts_within_rsd)
    """,
    operators=("Q1", "A8", "A3", "U1"),
)
def dq_approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the approx_count_distinct profile
    (dq_profile_union_approx — rows-only as a value query): per
    dataset, every HLL++ distinct estimate sits within 3x the default
    5% relative standard deviation of the EXACT distinct count
    (computed in the same query), and the exact row_count is
    value-checked against the oracle. On these low-cardinality
    profile columns (3-5 distinct values) the HLL sparse path is
    exact, so the boolean has no flake margin; on a genuinely
    high-cardinality column the same 15% envelope is the documented
    guarantee (1 in ~370 per column under the null)."""
    from aws_imdb_data_pipeline_spark.plans.registry import REGISTRY

    specs = {
        "orders": ["o_orderpriority", "o_orderstatus"],
        "lineitem": ["l_returnflag"],
        "customer": ["c_mktsegment"],
    }
    parts = []
    for ds, cols in specs.items():
        t = load_table(spark, sf_dir, ds)
        checks = [
            (
                F.abs(
                    F.approx_count_distinct(c) - F.count_distinct(F.col(c))
                )
                <= F.lit(0.15) * F.count_distinct(F.col(c))
            )
            for c in cols
        ]
        ok = checks[0]
        for c in checks[1:]:
            ok = ok & c
        parts.append(
            t.agg(
                F.count(F.lit(1)).alias("row_count"),
                ok.alias("distincts_within_rsd"),
            ).select(F.lit(ds).alias("dataset"), "row_count", "distincts_within_rsd")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "dedup_incremental_check",
    oracle="""
    SELECT (SELECT COUNT(*) FROM documents WHERE doc_id % 7 = 0)
               AS n_recrawled,
           true AS all_recrawls_found_exact,
           true AS no_below_threshold_pair
    """,
    operators=("EXT-dedup", "A6", "J1"),
)
def dedup_incremental_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of incremental near-dup against the persisted band
    index (dedup_incremental_near — rows-only as a value query):

    - ``n_recrawled``: the planted re-crawl batch size (every 7th doc
      re-shipped verbatim under a shifted id) — engine-independent,
      value-checked exactly;
    - ``all_recrawls_found_exact``: every re-crawled doc is paired
      with its source at Jaccard 1.0. This is LSH's no-miss case —
      identical shingle sets share EVERY band, so banding cannot drop
      the pair; a miss here means the index or the probe broke;
    - ``no_below_threshold_pair``: the exact-Jaccard verify keeps
      nothing under the 0.8 threshold."""
    from aws_imdb_data_pipeline_spark.plans.extensions import _recrawl_batch
    from aws_imdb_data_pipeline_spark.plans.registry import REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    pairs = REGISTRY["dedup_incremental_near"].fn(spark, sf_dir)
    # exact MAX from row-group statistics when available (same footer
    # fact _recrawl_batch uses for the identical shift) — removes the
    # max-scan subtree + nested-loop join from the executed plan; the
    # eager scan aggregate is the fallback when stats are absent
    from aws_imdb_data_pipeline_spark.sources.tables import table_col_max

    mx = table_col_max(sf_dir, "documents", "doc_id")
    shift_val = (
        mx if mx is not None else docs.agg(F.max("doc_id")).first()[0]
    ) + 1
    expected = _recrawl_batch(docs, sf_dir).select(
        F.col("doc_id").alias("new_id"),
        (F.col("doc_id") - F.lit(shift_val)).alias("corpus_id"),
    )
    hit = (
        expected.join(
            pairs.filter(F.col("jaccard") == 1.0), ["new_id", "corpus_id"]
        )
    )
    agg = (
        expected.agg(F.count(F.lit(1)).alias("__ne"))
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).alias("__nh"))))
        .crossJoin(
            F.broadcast(
                pairs.agg(
                    F.sum(
                        F.when(F.col("jaccard") < 0.8, 1).otherwise(0)
                    ).alias("__below")
                )
            )
        )
    )
    return agg.select(
        F.col("__ne").cast("bigint").alias("n_recrawled"),
        (F.col("__nh") == F.col("__ne")).alias("all_recrawls_found_exact"),
        (F.coalesce(F.col("__below"), F.lit(0)) == 0).alias(
            "no_below_threshold_pair"
        ),
    )


@register(
    "semantic_dedup_check",
    oracle="""
    SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < 2000)
               AS n_vectors,
           (SELECT COUNT(*) FROM embeddings
            WHERE vec_id < 2000 AND vec_id % 9 = 0) AS n_twins_planted,
           true AS no_planted_twin_survives,
           true AS survivors_are_subset
    """,
    operators=("EXT-dedup", "EXT-sim", "A6", "J1"),
)
def semantic_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of SemDeDup-style semantic dedup
    (semantic_dedup_survivors — rows-only as a value query): plant an
    EXACT duplicate of every 9th embedding under a shifted id, run the
    dedup over the augmented corpus, and pin:

    - ``no_planted_twin_survives``: a planted copy never survives —
      its source has cosine 1.0 (>= any threshold), lands in the same
      cell (identical vector), joins the same group, and loses the
      min-id survivor rule to the smaller original id;
    - ``survivors_are_subset``: every survivor id is an augmented-
      corpus member. Counts are engine-independent and value-checked.

    No quantizer is FIT here at all: the contract must hold under ANY
    cell assignment that maps identical vectors to identical cells, so
    the check injects a deterministic hash-cell assignment
    (xxhash64(embedding) mod 16) via the ``assignments`` hook — zero
    MLlib fixed cost (a KMeans fit alone is ~10 s of job overhead),
    and a STRONGER statement than checking one fitted layout. The
    check also runs on a fixed 2,000-vector slice: the per-cell scan
    is quadratic by design and the contract is slice-size-independent
    (the full-corpus dedup cost story lives in SCALE.md §18)."""
    from aws_imdb_data_pipeline_spark.extensions.similarity import (
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).filter(F.col("vec_id") < 2000)
    shift = emb.agg((F.max("vec_id") + 1).alias("__s"))
    twins = (
        emb.filter(F.col("vec_id") % 9 == 0)
        .crossJoin(F.broadcast(shift))
        .select(
            (F.col("vec_id") + F.col("__s")).alias("vec_id"), "embedding"
        )
    )
    aug = emb.unionByName(twins)
    assigned = aug.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("__arr"),
        F.pmod(F.xxhash64("embedding"), F.lit(16)).cast("int").alias("__list"),
    )
    survivors = semantic_dedup(
        aug, "vec_id", "embedding", threshold=0.8, assignments=assigned,
        # upper bound on the augmented slice (2000-cap + every-9th
        # twins) sizes the per-cell salt — an estimate, not semantics
        n_rows=2000 + 2000 // 9 + 1,
    ).filter(F.col("is_survivor"))
    twin_ids = twins.select(F.col("vec_id").alias("id"))
    aug_ids = aug.select(F.col("vec_id").alias("id"))
    agg = (
        emb.agg(F.count(F.lit(1)).alias("n_vectors"))
        .crossJoin(
            F.broadcast(
                twin_ids.agg(F.count(F.lit(1)).alias("n_twins_planted"))
            )
        )
        .crossJoin(
            F.broadcast(
                survivors.join(F.broadcast(twin_ids), "id", "left_semi")
                .agg(F.count(F.lit(1)).alias("__twin_surv"))
            )
        )
        .crossJoin(
            F.broadcast(
                survivors.join(aug_ids, "id", "left_anti")
                .agg(F.count(F.lit(1)).alias("__outside"))
            )
        )
    )
    return agg.select(
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        F.col("n_twins_planted").cast("bigint").alias("n_twins_planted"),
        (F.col("__twin_surv") == 0).alias("no_planted_twin_survives"),
        (F.col("__outside") == 0).alias("survivors_are_subset"),
    )


@register(
    "cluster_artifact_check",
    oracle="""
    SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors,
           true AS sizes_sum_to_n,
           true AS caps_respected,
           true AS after_is_min_of_cap
    """,
    operators=("EXT-sim", "EXT-corpus", "A2"),
)
def cluster_artifact_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the k-means cell family served from the shared
    assignment artifact (embedding_cluster_sizes +
    cluster_balanced_sample — rows-only as value queries): the cell
    assignment is a PARTITION of the corpus (sizes sum to N, nothing
    lost or duplicated), and the balanced sampler's per-cell output is
    EXACTLY min(cell size, cap) — the cap binds where cells are big
    and is inert where they are small. n_vectors is engine-independent
    and value-checked."""
    from aws_imdb_data_pipeline_spark.plans.registry import REGISTRY

    sizes = REGISTRY["embedding_cluster_sizes"].fn(spark, sf_dir)
    sample = REGISTRY["cluster_balanced_sample"].fn(spark, sf_dir)
    n = load_table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    agg = (
        n.crossJoin(
            F.broadcast(sizes.agg(F.sum("n_vectors").alias("__sum_sizes")))
        )
        .crossJoin(
            F.broadcast(
                sample.agg(
                    F.sum(
                        F.when(F.col("n_after") > 20, 1).otherwise(0)
                    ).alias("__over_cap"),
                    F.sum(
                        F.when(
                            F.col("n_after")
                            != F.least(F.col("n_before"), F.lit(20)),
                            1,
                        ).otherwise(0)
                    ).alias("__not_min"),
                )
            )
        )
    )
    return agg.select(
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        (F.col("__sum_sizes") == F.col("n_vectors")).alias("sizes_sum_to_n"),
        (F.coalesce(F.col("__over_cap"), F.lit(0)) == 0).alias(
            "caps_respected"
        ),
        (F.coalesce(F.col("__not_min"), F.lit(0)) == 0).alias(
            "after_is_min_of_cap"
        ),
    )


@register(
    "ann_ivf_incremental_check",
    oracle="""
    SELECT COUNT(*) AS n_vectors,
           CAST(SUM(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_appended,
           true AS recall_ge_floor
    FROM embeddings
    """,
    operators=("EXT-sim", "A6", "J1"),
)
def ann_ivf_incremental_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the INCREMENTAL IVF maintenance path
    (extensions/ivf.py:assign_to_centroids / ivf_append): the index is
    built on 90% of the corpus, the held-out 10% batch joins by
    frozen-centroid argmin assignment (zero shuffle, no re-train, no
    touch of the indexed vectors), and serving over the unioned index
    still recovers >= 40% of the brute top-5 pairs. Deterministic for
    the fixed seed + corpus — measured recall 0.68 / 0.64 / 0.56 at
    sf0.001 / 0.01 / 0.1 vs the full-build check's 0.88 / 0.84 / 0.52
    (ann_ivf_recall_check — same 0.4 damage floor); no appended row is
    lost (n_appended pinned by the oracle's exact count)."""
    from aws_imdb_data_pipeline_spark.extensions.ivf import (
        assign_to_centroids,
        build_ivf_assignments,
        cosine_topk_ivf,
    )
    from aws_imdb_data_pipeline_spark.extensions.similarity import (
        cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    assigned, centers = build_ivf_assignments(base, "vec_id", "embedding")
    appended = assign_to_centroids(batch, "vec_id", "embedding", centers)
    union = assigned.unionByName(appended)

    q = emb.filter(F.col("vec_id") < 5)
    brute = cosine_topk(q, emb, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    ivf = cosine_topk_ivf(
        q, emb, "vec_id", "embedding", k=5,
        assignments=union, centers=centers,
    ).select("query_id", "neighbor_id")
    joined = brute.withColumn("__t", F.lit(1)).join(
        ivf.withColumn("__i", F.lit(1)),
        ["query_id", "neighbor_id"],
        "full_outer",
    )
    counts = joined.agg(
        F.sum(F.when(F.col("__t").isNotNull(), 1).otherwise(0)).alias("__nt"),
        F.sum(
            F.when(F.col("__t").isNotNull() & F.col("__i").isNotNull(), 1)
            .otherwise(0)
        ).alias("__hit"),
    )
    scalars = emb.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.col("vec_id") % 10 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("__n_batch"),
    )
    appended_n = appended.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_appended")
    )
    return (
        scalars.crossJoin(appended_n)
        .crossJoin(counts)
        .select(
            "n_vectors",
            "n_appended",
            (
                (F.col("__hit") >= F.lit(0.4) * F.col("__nt"))
                & (F.col("n_appended") == F.col("__n_batch"))
            ).alias("recall_ge_floor"),
        )
    )


# ---------------------------------------------------------------------------
# Serving-twin digest oracles (round 12, r11 next-round #8): the
# bm25_zipf_retrieval_digest pattern applied to the four remaining
# deterministic serving twins. Each twin's output is a pure function
# of (corpus, seed, params) — its digest was verified equal across
# parallelism settings AND across fresh artifact rebuilds (k-means
# included) — so its digest pins as literals. Twins read the sf-dir
# corpus, so the literals are keyed by a CONTENT FINGERPRINT of the
# embeddings table (r12 ADVICE: count-only keying both passed
# vacuously on the 500-vector lakes — the r12 pins were mislabeled
# 20/200/2000 — and would false-fail a regenerated same-count lake).
# The fingerprint is an exact cross-engine bit_xor fold over every
# (vec_id, label, element, position): floor() on bit-identical
# doubles, int64 arithmetic, no rounding ties — both engines compute
# the identical BIGINT, verified on all three shipped lakes. On the
# shipped lakes (fingerprints below = sf0.001 / sf0.01 / sf0.1, the
# r12 digest values re-measured and confirmed against the actual
# lakes) the digests ENGAGE; on any other lake BOTH sides emit NULL
# digests — generated-scale sweeps stay green, and those lakes keep
# their coverage through the recall/contract checks (which are
# corpus-agnostic by construction; they remain registered as the
# twins' companions, not replaced by these digests). The digest is
# exhaustive over top-k MEMBERSHIP (bit_xor of xxhash64(query,
# neighbor) — any added, dropped, or swapped pair flips it) plus the
# EXACT score surface (decimal sum, partition-order-invariant, cast
# to double at the output edge only).
# ---------------------------------------------------------------------------
from aws_imdb_data_pipeline_spark.plans.fingerprints import (  # noqa: E402
    FP_SF0_001 as _FP_SF0_001,
    FP_SF0_01 as _FP_SF0_01,
    FP_SF0_1 as _FP_SF0_1,
    embeddings_fingerprint,
    pinned_case_oracle,
)

_DIGEST_PINS: dict[str, dict[int, tuple[int, int, int, float]]] = {
    # twin -> embeddings fingerprint -> (n_rows, n_queries, pair_xor,
    #                                    score_sum)
    "ann_cosine_topk_lsh": {
        _FP_SF0_001: (25, 5, 4211124120858580500, 7.8892),
        _FP_SF0_01: (25, 5, 3016844098188737293, 7.786),
        _FP_SF0_1: (25, 5, -8973184084076142828, 9.0647),
    },
    "ann_cosine_topk_ivf": {
        _FP_SF0_001: (25, 5, -4463497187515793711, 7.8406),
        _FP_SF0_01: (25, 5, -5072580002908454565, 7.7658),
        _FP_SF0_1: (25, 5, 2430236468847196105, 8.645),
    },
    "ann_cosine_topk_ivf_pq": {
        _FP_SF0_001: (25, 5, -2450038990081904337, 6.9512),
        _FP_SF0_01: (25, 5, 3086811807253834246, 7.2964),
        _FP_SF0_1: (25, 5, -6962929669617181050, 8.144),
    },
    "rrf_hybrid_retrieval_ivf": {
        _FP_SF0_001: (125, 25, 6988270608446680961, 2.066071),
        _FP_SF0_01: (125, 25, 5944713256292727004, 2.110751),
        _FP_SF0_1: (1250, 250, 2686437248871785453, 20.060762),
    },
}


def _digest_oracle_sql(twin: str) -> str:
    return pinned_case_oracle(
        _DIGEST_PINS[twin],
        [("n_rows", "BIGINT"), ("n_queries", "BIGINT"),
         ("pair_xor", "BIGINT"), ("score_sum", "DOUBLE")],
    )


def _twin_digest(
    spark: SparkSession, sf_dir: str, twin: str, neighbor_col: str,
    score_col: str,
) -> DataFrame:
    fp = embeddings_fingerprint(spark, sf_dir)
    if fp not in _DIGEST_PINS[twin]:
        # unpinned lake: emit the same all-NULL digest the oracle's
        # CASE produces, keeping generated-scale sweeps green while
        # the corpus-agnostic contract checks carry the verification
        return spark.range(1).select(
            F.lit(fp).cast("bigint").alias("corpus_fp"),
            F.lit(None).cast("bigint").alias("n_rows"),
            F.lit(None).cast("bigint").alias("n_queries"),
            F.lit(None).cast("bigint").alias("pair_xor"),
            F.lit(None).cast("double").alias("score_sum"),
        )
    from aws_imdb_data_pipeline_spark.plans.registry import REGISTRY

    hits = REGISTRY[twin].fn(spark, sf_dir)
    return hits.agg(
        F.lit(fp).cast("bigint").alias("corpus_fp"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("query_id").alias("n_queries"),
        F.expr(
            f"bit_xor(xxhash64(query_id, {neighbor_col}))"
        ).alias("pair_xor"),
        F.sum(F.col(score_col).cast("decimal(18,6)"))
        .cast("double")
        .alias("score_sum"),
    )


@register(
    "ann_lsh_topk_digest",
    oracle=_digest_oracle_sql("ann_cosine_topk_lsh"),
    operators=("EXT-sim", "A1", "A4"),
)
def ann_lsh_topk_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver ORACLE for ann_cosine_topk_lsh's OUTPUT (see the digest
    block comment above): membership xor + exact decimal score sum,
    pinned per shipped lake, NULL-keyed elsewhere."""
    return _twin_digest(
        spark, sf_dir, "ann_cosine_topk_lsh", "neighbor_id", "cosine"
    )


@register(
    "ann_ivf_topk_digest",
    oracle=_digest_oracle_sql("ann_cosine_topk_ivf"),
    operators=("EXT-sim", "A1", "A4"),
)
def ann_ivf_topk_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver ORACLE for ann_cosine_topk_ivf's OUTPUT — the IVF serve
    path (artifact assignments + centroid ranking + pruned cell scan)
    pinned end to end."""
    return _twin_digest(
        spark, sf_dir, "ann_cosine_topk_ivf", "neighbor_id", "cosine"
    )


@register(
    "ann_ivf_pq_topk_digest",
    oracle=_digest_oracle_sql("ann_cosine_topk_ivf_pq"),
    operators=("EXT-sim", "A1", "A4"),
)
def ann_ivf_pq_topk_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver ORACLE for ann_cosine_topk_ivf_pq's OUTPUT — ADC
    shortlist + exact re-rank, pinned end to end."""
    return _twin_digest(
        spark, sf_dir, "ann_cosine_topk_ivf_pq", "neighbor_id", "cosine"
    )


@register(
    "rrf_hybrid_ivf_digest",
    oracle=_digest_oracle_sql("rrf_hybrid_retrieval_ivf"),
    operators=("EXT-retrieval", "EXT-sim", "A1", "A4"),
)
def rrf_hybrid_ivf_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver ORACLE for rrf_hybrid_retrieval_ivf's OUTPUT — the
    IVF-served hybrid retriever (lexical leg + dense leg + RRF
    fusion) pinned end to end."""
    return _twin_digest(
        spark, sf_dir, "rrf_hybrid_retrieval_ivf", "doc_id", "rrf_score"
    )


# ---------------------------------------------------------------------------
# Artifact-frame digest oracles (round 14, r13 verdict #6): the same
# content-fingerprint pinning applied to the three remaining
# deterministic k-means-cell consumers. Each is a pure function of
# (embeddings corpus, seed) served from the shared assignment
# artifact; their digests were verified invariant to
# parallelism AND to a fresh artifact rebuild before pinning. The xor
# column is exhaustive over the full output rows, so a single moved
# vector, changed cell, flipped survivor, or drifted cap flips it.
# ---------------------------------------------------------------------------
_ARTIFACT_DIGEST_SPECS: dict[str, tuple[tuple[str, str], ...]] = {
    # query -> ((col_name, spark agg sql), ...); oracle types all BIGINT
    "embedding_cluster_sizes": (
        ("n_cells", "count(1)"),
        ("n_vectors_total", "sum(n_vectors)"),
        ("rows_xor", "bit_xor(xxhash64(cluster_id, n_vectors))"),
    ),
    "cluster_balanced_sample": (
        ("n_cells", "count(1)"),
        ("before_total", "sum(n_before)"),
        ("after_total", "sum(n_after)"),
        ("rows_xor", "bit_xor(xxhash64(cell, n_before, n_after))"),
    ),
    "semantic_dedup_survivors": (
        ("n_rows", "count(1)"),
        ("n_survivors", "sum(case when is_survivor then 1 else 0 end)"),
        ("rows_xor", "bit_xor(xxhash64(id, component, is_survivor))"),
    ),
}

_ARTIFACT_DIGEST_PINS: dict[str, dict[int, tuple[int, ...]]] = {
    # measured on the shipped lakes (sf0.001 / sf0.01 / sf0.1),
    # cross-checked at two parallelism settings and a fresh artifact
    # rebuild
    "embedding_cluster_sizes": {
        _FP_SF0_001: (16, 500, -3739096468448527177),
        _FP_SF0_01: (16, 500, -726853067796033207),
        _FP_SF0_1: (16, 2000, 5184145140374585181),
    },
    "cluster_balanced_sample": {
        _FP_SF0_001: (16, 500, 196, 5877835551772185734),
        _FP_SF0_01: (16, 500, 238, 5355122928182903226),
        _FP_SF0_1: (16, 2000, 276, -3827483354402622799),
    },
    # sf0.001/sf0.01 share a digest legitimately: both corpora have
    # 500 vectors with ids 0..499 and ZERO >=0.8 near-dup pairs, so
    # the survivor frame is (id, id, true) x 500 in both — identical
    # rows; the corpus_fp key still separates the lakes.
    "semantic_dedup_survivors": {
        _FP_SF0_001: (500, 500, 3475712498713279124),
        _FP_SF0_01: (500, 500, 3475712498713279124),
        _FP_SF0_1: (2000, 2000, -3599175455748454152),
    },
}


def _artifact_digest(spark: SparkSession, sf_dir: str, qname: str) -> DataFrame:
    fp = embeddings_fingerprint(spark, sf_dir)
    spec = _ARTIFACT_DIGEST_SPECS[qname]
    if fp not in _ARTIFACT_DIGEST_PINS[qname]:
        return spark.range(1).select(
            F.lit(fp).cast("bigint").alias("corpus_fp"),
            *[F.lit(None).cast("bigint").alias(c) for c, _ in spec],
        )
    from aws_imdb_data_pipeline_spark.plans.registry import REGISTRY

    frame = REGISTRY[qname].fn(spark, sf_dir)
    return frame.agg(
        F.lit(fp).cast("bigint").alias("corpus_fp"),
        *[F.expr(sql).cast("bigint").alias(c) for c, sql in spec],
    )


def _artifact_digest_oracle(qname: str) -> str:
    return pinned_case_oracle(
        _ARTIFACT_DIGEST_PINS[qname],
        [(c, "BIGINT") for c, _ in _ARTIFACT_DIGEST_SPECS[qname]],
    )


@register(
    "cluster_sizes_digest",
    oracle=_artifact_digest_oracle("embedding_cluster_sizes"),
    operators=("EXT-sim", "A1"),
)
def cluster_sizes_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver ORACLE for embedding_cluster_sizes' OUTPUT: full cell
    histogram pinned (count, total, row xor) per shipped lake."""
    return _artifact_digest(spark, sf_dir, "embedding_cluster_sizes")


@register(
    "cluster_sample_digest",
    oracle=_artifact_digest_oracle("cluster_balanced_sample"),
    operators=("EXT-corpus", "EXT-sim", "A1"),
)
def cluster_sample_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver ORACLE for cluster_balanced_sample's OUTPUT: per-cell
    before/after caps pinned exhaustively per shipped lake."""
    return _artifact_digest(spark, sf_dir, "cluster_balanced_sample")


@register(
    "semantic_dedup_digest",
    oracle=_artifact_digest_oracle("semantic_dedup_survivors"),
    operators=("EXT-dedup", "EXT-sim", "A1"),
)
def semantic_dedup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver ORACLE for semantic_dedup_survivors' OUTPUT: every
    (id, component, is_survivor) row folded into a pinned xor."""
    return _artifact_digest(spark, sf_dir, "semantic_dedup_survivors")
