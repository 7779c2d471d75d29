"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline, with the math
done entirely in built-in higher-order functions (zip_with/aggregate
— JVM-side, codegen'd; no Python worker in the loop):

    dot(a, b)  = aggregate(zip_with(a, b, *), 0.0, +)
    norm(a)    = sqrt(aggregate(a, 0.0, acc + x*x))

Scale story: the query side is broadcast (k queries x dim floats is
tiny); the candidate scan is embarrassingly parallel, and per-query
top-k is a window over the (queries x candidates) product — fine for
O(10^2) queries. For all-pairs / large query sets, use the LSH variant
(`random_hyperplane_buckets`): sign-of-projection bucketing against
fixed seeded hyperplanes restricts comparisons to matching buckets —
the same banding idea as MinHash-LSH but for cosine space.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.operators.topk import top_n_per_group
from aws_imdb_data_pipeline_spark.session import widen


def _to_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_norm(df: DataFrame, vec_col: str, out_col: str = "norm") -> DataFrame:
    """Add the L2 norm of ``vec_col`` (computed in double precision)."""
    v = _to_double(vec_col)
    return df.withColumn(out_col, F.sqrt(_dot(v, v)))


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    include_self: bool = False,
    round_to: int | None = 4,
    widen_stream: bool = False,
) -> DataFrame:
    """Brute-force cosine top-k: for each query row, the k most similar
    candidate rows. Output: (query_id, neighbor_id, cosine).

    The query set is broadcast; candidates stream through one stage.
    ``widen_stream`` round-robin-repartitions the candidates leg to
    the session width when its scan arrives narrower (a single-file
    lake scans as 1-2 tasks, serializing the N x Q dot products) — the
    embedding_near_dup stream-leg pattern. OPT-IN because it only pays
    when the dot-product stage is the critical path: callers whose
    brute leg overlaps other wide stages (the rrf hybrids) measured
    the extra exchange as a ~10% loss, while knn_label_consistency
    measured -32% (r15 interleaved A/B). Rows are unchanged and the
    top-k tiebreak is deterministic, so results are identical either
    way. ``round_to`` quantizes the score so results are stable across
    engines/summation orders (used by the oracle comparison).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(vec_col).alias("q_vec")
    )
    q = q.withColumn("q_norm", F.sqrt(_dot(F.col("q_vec"), F.col("q_vec"))))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), _to_double(vec_col).alias("c_vec")
    )
    if widen_stream:
        c = widen(c)
    c = c.withColumn("c_norm", F.sqrt(_dot(F.col("c_vec"), F.col("c_vec"))))

    joined = c.crossJoin(F.broadcast(q))
    if not include_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    cos = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = joined.select("query_id", "neighbor_id", cos.alias("cosine"))
    return top_n_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.col("neighbor_id")],
        n=k,
    )


def auto_lsh_params(
    n_rows: int,
    threshold: float,
    target_recall: float = 0.9,
    max_bands: int = 256,
    min_planes: int = 4,
    max_planes: int = 20,
) -> tuple[int, int]:
    """Pick (n_planes, n_bands) for OR-amplified sign-LSH from the corpus
    size and the cosine threshold.

    For each plane count, ``n_bands`` is the smallest band count whose
    analytic recall at exactly ``threshold`` reaches ``target_recall``
    (recall = 1 - (1 - p^planes)^bands with p = 1 - arccos(t)/pi; pairs
    above the threshold do strictly better). Among those, minimize the
    estimated total work on centered data:

        bucket rows (n_rows * bands)  +  candidate pairs
        (N^2/2 * bands / 2^planes, the random-collision rate)

    so the knob trades band-assignment cost against within-bucket
    quadratic cost. Low thresholds are intrinsically hard for cosine
    LSH (p(0.4) ~ 0.63 vs p(0.8) ~ 0.82): at threshold 0.4 the optimum
    saturates near (10, 229) under the band cap, ~0.28x brute-force
    candidates measured; at the 0.8+ thresholds real near-dup corpora
    use, the same formula reaches (20, 225) -> ~1e-4x brute.
    """
    import math

    p = 1.0 - math.acos(threshold) / math.pi
    brute = n_rows * max(n_rows - 1, 0) / 2.0
    best: tuple[float, int, int] | None = None
    for planes in range(min_planes, max_planes + 1):
        pb = p**planes
        bands = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pb))
        if bands > max_bands:
            continue
        cost = n_rows * bands + brute * bands / (2.0**planes)
        if best is None or cost < best[0]:
            best = (cost, planes, bands)
    if best is None:  # threshold so low no plane count fits the band cap
        return max_planes, max_bands
    return best[1], best[2]


def lsh_band_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_bands: int,
    seed: int = 42,
) -> DataFrame:
    """(id, band, bucket) rows: every band's sign-LSH bucket for every
    vector, computed in ONE Arrow-batched numpy pass (mapInPandas).

    The JVM literal-plane route (`random_hyperplane_buckets`) builds an
    expression tree of bands x planes x dim literals — fine for one
    16-plane band, hopeless for the 9x145-band configurations the
    auto-parameterization picks (~84k literals breaks codegen). Here the
    whole bank is a single (bands*planes, dim) matrix multiply per
    batch; band b's planes are drawn from rng(seed + 7919*b), matching
    the per-band seeding of the previous JVM implementation. Output is
    pre-exploded, ready for the (band, bucket) equi-join.
    """
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    id_field = df.schema[id_col]
    schema = StructType(
        [
            StructField(id_field.name, id_field.dataType),
            StructField("band", IntegerType()),
            StructField("bucket", LongType()),
        ]
    )
    src = df.select(id_col, vec_col)

    def assign(batches):
        bank = np.vstack(
            [
                np.random.default_rng(seed + 7919 * b).standard_normal(
                    (n_planes, dim)
                )
                for b in range(n_bands)
            ]
        )  # (n_bands * n_planes, dim)
        pow2 = 1 << np.arange(n_planes, dtype=np.int64)
        band_ids = np.arange(n_bands, dtype=np.int32)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (vecs @ bank.T) > 0
            buckets = bits.reshape(len(vecs), n_bands, n_planes) @ pow2
            yield pd.DataFrame(
                {
                    id_field.name: pdf[id_col].to_numpy().repeat(n_bands),
                    "band": np.tile(band_ids, len(vecs)),
                    "bucket": buckets.reshape(-1),
                }
            )

    return src.mapInPandas(assign, schema)


def _kernel_width(spark, est_units: float, units_per_task: float = 20_000.0) -> int:
    """Explicit task count for a compute-dense candidate-pair stage:
    AQE sizes post-shuffle partitions by BYTES, but these kernels carry
    kilobytes of ids per second of cosine/jaccard compute, so a tiny
    exchange coalesces to 1-5 tasks and the quadratic work serializes
    (measured r15: embedding_near_dup_lsh's verify stage = 5.7 MB,
    4.2 s CPU, 5 tasks at the 1 MB default floor — and the r14 attempt
    to fix this with a session-wide 64 KB floor anti-scaled the whole
    suite, r14 verdict #1). Width derives from the ESTIMATED pair
    count (scale-adaptive in the data dimension) clamped to
    [defaultParallelism, 64x defaultParallelism] (scale-adaptive in
    the cluster dimension, bounded so a huge estimate cannot explode
    the task count past what one job can usefully schedule)."""
    width = spark.sparkContext.defaultParallelism
    n = math.ceil(max(est_units, 1.0) / max(units_per_task, 1.0))
    return int(min(max(n, width), 64 * width))


def lsh_candidate_pairs_embedding(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_bands: int,
    seed: int = 42,
    max_bucket_size: int = 10_000,
    distinct: bool = True,
    kernel_width: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) that share a sign-LSH bucket in
    >= 1 band. The quadratic work happens within buckets only;
    degenerate buckets (> max_bucket_size rows) are dropped before
    pairing since a b-row bucket yields b^2/2 pairs.

    Plan shape: ONE shuffle (groupBy band,bucket → collect_list), then
    the within-bucket pairs are expanded by a codegen'd array expression
    — no self-join, no window. A bucket's member list is bounded by
    ``max_bucket_size``, so collect_list cannot blow an executor.

    ``distinct=False`` skips the cross-band dedup shuffle and returns
    one row per (pair, band) collision — callers whose downstream
    filter is very selective (e.g. near-dup verify) dedup AFTER it,
    where the surviving set is orders of magnitude smaller.
    """
    banded = lsh_band_buckets(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")),
        "__id", "__v", dim, n_planes, n_bands, seed,
    )
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("__id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    if kernel_width:
        # spread the quadratic within-bucket pair expansion over an
        # explicit width: the bucket-list frame is tiny in BYTES, so
        # byte-based AQE coalescing serializes the expansion (see
        # _kernel_width); round-robin of bucket rows keeps the pair
        # set identical
        grouped = grouped.repartition(kernel_width)
    pair = F.explode(
        F.expr(
            """
            flatten(transform(ids, (x, i) ->
                transform(slice(ids, i + 2, size(ids)), y ->
                    struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))
            """
        )
    ).alias("p")
    pairs = grouped.select(pair).select("p.id_a", "p.id_b")
    return pairs.distinct() if distinct else pairs


def cosine_topk_lsh(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_planes: int | None = None,
    n_bands: int | None = None,
    seed: int = 42,
    round_to: int | None = 4,
    design_threshold: float = 0.4,
    target_recall: float = 0.9,
) -> DataFrame:
    """Approximate cosine top-k via OR-amplified banded sign-LSH: a
    candidate is scored iff it shares a bucket with the query in >= 1 of
    ``n_bands`` independent ``n_planes``-plane banks — the scale path
    when the query set is too large to broadcast against every
    candidate. With (planes, bands) unset they are derived by
    :func:`auto_lsh_params` from the candidate count and
    ``design_threshold`` (the cosine level at which ``target_recall``
    must hold; neighbors above it do better).

    Scored candidates get the exact cosine, so reported scores are never
    wrong — banding can only miss, never invent (tests measure recall
    against brute force).
    """
    if n_planes is None or n_bands is None:
        # driver-side control flow: one count() vs an O(N*Q) scan avoided
        auto_p, auto_b = auto_lsh_params(
            candidates.count(), design_threshold, target_recall
        )
        n_planes = n_planes or auto_p
        n_bands = n_bands or auto_b
    # two bucketing passes + broadcast join: measured A/B (sf0.1) beats
    # a tagged-union single Python pass with a groupBy pairing — the
    # query-side pass is proportional to the (small, broadcastable)
    # query set, and the candidate side joins bucket rows against the
    # broadcast without a wide shuffle.
    qb = lsh_band_buckets(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__v")),
        "query_id", "__v", dim, n_planes, n_bands, seed,
    )
    cb = lsh_band_buckets(
        candidates.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
        ),
        "neighbor_id", "__v", dim, n_planes, n_bands, seed,
    )
    pairs = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(vec_col).alias("q_vec")
    ).withColumn("q_norm", F.sqrt(_dot(F.col("q_vec"), F.col("q_vec"))))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), _to_double(vec_col).alias("c_vec")
    ).withColumn("c_norm", F.sqrt(_dot(F.col("c_vec"), F.col("c_vec"))))
    scored = pairs.join(F.broadcast(q), "query_id").join(c, "neighbor_id")
    cos = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = scored.select("query_id", "neighbor_id", cos.alias("cosine"))
    return top_n_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.col("neighbor_id")],
        n=k,
    )


def augment_with_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    every: int = 10,
    eps: float = 0.2,
    id_offset: int = 1_000_000,
) -> DataFrame:
    """Union the corpus with deterministic near-duplicate copies of
    every ``every``-th row: id → id + ``id_offset``, vector perturbed by
    ``eps`` times a pseudo-noise sequence computed with pure integer
    arithmetic — ``((id*73 + i*179) % 97)/97 - 0.5`` per component —
    so ANY engine reproduces the same doubles bit-for-bit (no RNG, no
    transcendentals). On unit-normalized vectors eps=0.2 lands the
    planted pairs at cosine ≈ 0.89–0.93: comfortably above the 0.8
    near-dup threshold while everything non-planted stays far below.

    This is the test-lake stand-in for what a real crawl corpus already
    contains (true near-duplicates); it gives the high-threshold LSH
    scale path (`embedding_near_dup_pairs_lsh` at threshold 0.8+)
    ground-truth positives to find, in a form a SQL oracle can rebuild
    exactly. Output vectors are double arrays on both branches.
    """
    base = df.select(F.col(id_col), _to_double(vec_col).alias(vec_col))
    vid = F.col(id_col)
    # Two stages, not one select: the noise must see the ORIGINAL id,
    # and aliasing the offset id in the same projection lets Spark 4's
    # lateral-alias resolution bind the lambda's outer reference to the
    # already-offset value.
    dup = (
        df.filter(vid % every == 0)
        .withColumn(
            vec_col,
            F.transform(
                F.col(vec_col),
                lambda x, i: x.cast("double")
                + F.lit(eps)
                * (((vid * 73 + i * 179) % 97).cast("double") / 97.0 - 0.5),
            ),
        )
        .withColumn(id_col, vid + id_offset)
        .select(id_col, vec_col)
    )
    return base.unionByName(dup)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    round_to: int | None = 4,
    widen_stream: bool = False,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — brute-force
    O(N^2) baseline for embedding-level dedup.

    ``widen_stream`` widens the STREAM side of the cross join only
    (the ``id_a`` leg the N^2 dot products are distributed over) when
    its scan is narrower than the session: a narrow scan (single-file
    corpus -> 1 task) serializes the whole kernel, but repartitioning
    the *input* widens both legs and the planner's broadcast build then
    pays a round-robin exchange — sort-before-repartition + a full
    shuffle write/read — only to be collected whole into one broadcast
    relation (the stream-only form removes that exchange and measured
    ~25% faster at sf0.1, identical row set). The build leg reads the
    scan directly.

    Scale path: at N where N^2 is prohibitive, bucket by
    ``random_hyperplane_buckets`` first and run this within buckets
    (or within band-matching buckets), trading recall for the
    quadratic term — same contract, fewer comparisons.
    """
    base = df.select(F.col(id_col).alias("__id"), _to_double(vec_col).alias("__v"))
    base = base.withColumn("__n", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    a_src = widen(base) if widen_stream else base
    a = a_src.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na")
    )
    b = base.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb")
    )
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    return pairs.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def _hyperplane_bucket_expr(
    vec: Column, dim: int, n_planes: int, seed: int
) -> Column:
    """Sign-LSH bucket id as a Column: bit i = (vec . plane_i) > 0,
    planes drawn from a seeded RNG and embedded as literals
    (deterministic everywhere — driver, executors, re-runs)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    bits = []
    for i in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        bits.append(
            F.when(_dot(vec, plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.cast("long")


def random_hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    out_col: str = "lsh_bucket",
) -> DataFrame:  # noqa: D401 — see module docstring
    """Sign-LSH bucket id: bit i = (v . plane_i) > 0, planes drawn from
    a seeded RNG and embedded as literals (deterministic everywhere).

    Vectors in the same bucket are likely cosine-similar; restrict
    expensive pairwise work to within-bucket groups. n_planes=16 →
    65536 buckets; tune to corpus size so buckets stay O(100) rows.
    """
    return df.withColumn(
        out_col, _hyperplane_bucket_expr(_to_double(vec_col), dim, n_planes, seed)
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.4,
    n_planes: int | None = None,
    n_bands: int | None = None,
    seed: int = 42,
    round_to: int | None = 4,
    max_bucket_size: int = 10_000,
    target_recall: float = 0.9,
    n_rows: int | None = None,
) -> DataFrame:
    """LSH-bucketed embedding near-dup: the scale path for
    :func:`embedding_near_dup_pairs`. Same output contract
    (id_a < id_b, cosine >= threshold), sub-quadratic candidate
    generation, exact-cosine verification (precision = 1; recall < 1).

    OR-amplified sign-LSH: ``n_bands`` independent banks of ``n_planes``
    hyperplanes; a pair is a candidate iff it shares a bucket in >= 1
    band (`lsh_candidate_pairs_embedding` — the same banding shape as
    MinHash LSH in extensions/dedup.py). With (planes, bands) unset,
    :func:`auto_lsh_params` derives them from the corpus size and
    threshold so candidates stay well below N^2/2 while analytic recall
    at the threshold meets ``target_recall`` — measured at sf0.1
    (N=2000, threshold 0.4): (9, 145), 0.28x brute-force pairs, recall
    0.92. Candidates are verified with the exact cosine, so reported
    pairs are never wrong — LSH can only miss, never invent (tests
    measure both recall and the candidate-count bound).

    Crossover (measured, local[32]): at N=2k the brute twin still wins
    (1.6s vs 2.2s — bucketing/shuffle overhead exceeds the cosines
    saved), at N=16k LSH wins 1.9x (21s vs 41s, candidate ratio 0.23).
    At threshold 0.4 the reduction is a constant factor (~4x): the
    random-pair collision rate bands/2^planes cannot fall further while
    holding recall, because p(cos 0.4) = 0.63 is too close to the
    p(0) = 0.5 noise floor. At the 0.8+ thresholds real near-dup
    corpora use, the same auto-parameterization reaches ~1e-4x brute —
    genuinely sub-quadratic (see :func:`auto_lsh_params`).
    """
    if n_planes is None or n_bands is None:
        # driver-side control flow: one count vs an O(N^2) scan avoided.
        # ``n_rows`` lets plain-table callers pass the EXACT parquet
        # footer count (num_rows == COUNT(*) by format contract) so
        # construction runs zero Spark jobs; it must be exact, not an
        # estimate — auto params feed the LSH bucket layout and thereby
        # the result set. Augmented/filtered frames keep the count().
        if n_rows is None:
            n_rows = df.count()
        auto_p, auto_b = auto_lsh_params(n_rows, threshold, target_recall)
        n_planes = n_planes or auto_p
        n_bands = n_bands or auto_b
    # Explicit kernel width for the two compute-dense stages (the pair
    # expansion and the exact-cosine verify): estimated candidate pairs
    # = random-collision rate x brute pairs (auto_lsh_params' own cost
    # model; at sf0.1 threshold 0.4 it predicts ~680k vs 553k actual).
    # Available only when the corpus size was counted for the auto
    # parameterization; explicit-params callers keep the classic plan.
    kw = None
    if n_rows is not None:
        est_pairs = n_rows * max(n_rows - 1, 0) / 2.0 * n_bands / (2.0**n_planes)
        # gate on >= 8 task-quanta of estimated verify work: below it
        # the two added exchanges cost more than the spreading wins
        # (measured r15: embedding_near_dup_scale, ~40k est pairs,
        # 1.53 -> 1.80 s ungated), above it they pay (the 0.4-threshold
        # stress query, ~570k est pairs: 2.55 -> 2.05 s)
        if est_pairs >= 8 * 20_000:
            kw = _kernel_width(df.sparkSession, est_pairs)
    # dedup BEFORE verify: measured A/B (sf0.1) shows the candidate
    # distinct (553k rows) beats re-scoring per colliding band and
    # deduping after the filter — AQE plans the verify joins off the
    # materialized distinct stage's true size.
    cand = lsh_candidate_pairs_embedding(
        df, id_col, vec_col, dim, n_planes, n_bands, seed, max_bucket_size,
        kernel_width=kw,
    )
    if kw:
        # hash on the first verify-join key with an explicit count: in
        # the broadcast regime this pins the verify stage's width (it
        # would otherwise byte-coalesce to ~5 tasks for 4+ s of CPU,
        # measured on embedding_near_dup_lsh); in the
        # sort-merge regime (corpus too big to broadcast) the join
        # reuses this exchange outright, so the shuffle is never wasted
        cand = cand.repartition(kw, "id_a")

    base = df.select(F.col(id_col).alias("__id"), _to_double(vec_col).alias("__v"))
    base = base.withColumn("__n", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    va = base.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na")
    )
    vb = base.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb")
    )
    scored = cand.join(va, "id_a").join(vb, "id_b")
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    return scored.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_lists: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    fit_fraction: float | None = None,
    assignments: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    k-means cells bound the pairwise cosine scan (per-cell quadratic,
    never corpus-quadratic — the SemDeDup move), pairs at or above
    ``threshold`` form duplicate groups via connected components, and
    the MIN id per group survives.

    Returns (id, component, is_survivor): ``component`` is the
    duplicate-group label (its min id; singletons label themselves),
    survivors are one row per group. Known and accepted recall trade:
    a near-dup pair split across two cells is missed — cell count
    should grow with corpus size (keeping per-cell populations
    bounded), and SemDeDup's published results accept the same
    cell-boundary misses; the LSH paths are the recall-oriented
    alternative when misses matter.

    Plan: one assignment pass (persisted by build_ivf_assignments),
    a per-cell self-join (shuffle on the small int cell id), cosine in
    whole-stage codegen, then min-label CC over the duplicate pairs —
    dedup graphs are near-cliques, so label propagation converges in
    2-3 rounds (SCALE.md §8).

    ``assignments`` (a :func:`~aws_imdb_data_pipeline_spark.extensions
    .ivf.build_ivf_index` artifact as (id_col, __arr, __list)) skips
    the in-call fit entirely — the production shape: assign once per
    corpus version, every curation consumer reads cells."""
    from aws_imdb_data_pipeline_spark.extensions.clusters import (
        connected_components,
    )
    from aws_imdb_data_pipeline_spark.extensions.ivf import (
        build_ivf_assignments,
    )

    owns_cache = assignments is None
    if owns_cache:
        assigned, _ = build_ivf_assignments(
            embeddings, id_col, vec_col, n_lists, seed, max_iter, fit_fraction
        )
    else:
        assigned = assignments
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col("__arr").alias("__va"), "__list"
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col("__arr").alias("__vb"), "__list"
    )
    # The per-cell self-join's parallelism ceiling is the number of
    # distinct cell ids (n_lists) — byte-based AQE coalescing cannot
    # widen a 16-key exchange past 16 tasks however compute-dense the
    # per-cell pairwise cosine is, and at scale per-cell populations
    # grow with the corpus. Salt the probe side with a deterministic
    # id-hash chunk and replicate the build side once per chunk: the
    # pair set is exactly unchanged (each (x, y) meets at x's chunk
    # only), per-task pair work drops by the chunk count, and the only
    # added cost is chunk-count copies of the (tiny) per-cell vectors
    # through the exchange.
    width = assigned.sparkSession.sparkContext.defaultParallelism
    # Chunk count is DATA-adaptive when the caller supplies ``n_rows``
    # (an estimate/upper bound is fine — the footer row count the plan
    # callers already have): chunks = estimated per-cell pairs / 20k,
    # so small corpora keep the classic 16-key plan (measured r15 at
    # sf0.1: forcing chunks=4 cost 3.31 -> 4.87 s on
    # semantic_dedup_check — build-side replication + extra tasks with
    # only ~8k pairs per cell) while large cells split until each task
    # holds ~20k pairs. Without ``n_rows`` it falls back to session
    # parallelism (2*width/n_lists — cluster-adaptive). Cap at 64
    # either way: the build side's shuffle volume is multiplied by the
    # chunk count and F.array gets one literal child per chunk — on a
    # wide cluster with few cells (width 2048, n_lists 4 -> 1024
    # chunks) that bloats the plan for diminishing returns; 64 bounds
    # per-cell task work at 1/64th of a cell.
    if n_rows is not None:
        per_cell_pairs = (n_rows / max(n_lists, 1)) ** 2 / 2.0
        chunks = min(64, max(1, math.ceil(per_cell_pairs / 20_000.0)))
    else:
        chunks = min(64, max(1, math.ceil(2 * width / max(n_lists, 1))))
    join_keys = ["__list"]
    if chunks > 1:
        a = a.withColumn(
            "__chunk",
            F.pmod(F.xxhash64(F.col("id_a")), F.lit(chunks)).cast("int"),
        )
        b = b.withColumn(
            "__chunk",
            F.explode(
                F.array(*[F.lit(i).cast("int") for i in range(chunks)])
            ),
        )
        join_keys = ["__list", "__chunk"]
    # Pin the per-cell pairwise join's width to its KEY count: the join
    # inputs are kilobytes per second of cosine compute, so byte-based
    # AQE coalescing collapses the salted exchange back to 1-2 tasks
    # (the salt widened the key space, not the coalesced partition
    # count). An explicit keyed repartition of the PROBE side is reused
    # by the join (no extra exchange: a sort-merge build side gets its
    # matching exchange from the planner, a broadcast build side needs
    # none) and is scale-safe by construction: n_keys = n_lists x
    # chunks is this join's parallelism ceiling at any scale, and
    # per-task work stays ~one (cell, chunk) slice.
    n_keys = n_lists * chunks
    a = a.repartition(n_keys, *[F.col(k) for k in join_keys])
    na = F.sqrt(_dot(F.col("__va"), F.col("__va")))
    nb = F.sqrt(_dot(F.col("__vb"), F.col("__vb")))
    cos = _dot(F.col("__va"), F.col("__vb")) / (na * nb)
    pairs = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("__cos"))
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b")
    )
    labels = connected_components(pairs)
    out = (
        embeddings.select(F.col(id_col).alias("id"))
        .join(labels.withColumnRenamed("node", "id"), "id", "left")
        .select(
            "id",
            F.coalesce("component", F.col("id")).alias("component"),
        )
        .withColumn("is_survivor", F.col("id") == F.col("component"))
    )
    if owns_cache:
        assigned.unpersist()
    return out


def cell_hash_ranks(
    assignments: DataFrame, id_col: str, seed: int = 42
) -> DataFrame:
    """Deterministic within-cell rank: row_number over
    (xxhash64(id, seed), id) per ``__list`` cell — the one ranking both
    the balanced sampler and its before/after accounting share, so one
    window pass answers both (and a rank filter still plans as
    WindowGroupLimit). Returns (id_col, __list, __rn)."""
    from pyspark.sql import Window

    w = Window.partitionBy("__list").orderBy(
        F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col)
    )
    return assignments.select(
        id_col, "__list", F.row_number().over(w).alias("__rn")
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    cap_per_cell: int,
    n_lists: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    fit_fraction: float | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Topic-balanced subsampling: cap every k-means cell at
    ``cap_per_cell`` rows so over-represented regions of embedding
    space (boilerplate topics, crawl duplicates' neighborhoods) can't
    dominate the training mix — the cluster-proportional curation step
    that pairs with :func:`semantic_dedup`.

    Survivors are deterministic: rank within a cell by
    ``xxhash64(id)`` (a seeded pseudo-random but reproducible order —
    NOT ``rand()``, whose sample would change with partitioning), keep
    the first ``cap_per_cell``. Returns (id, __list) for the kept
    rows. One window shuffle on the cell id; WindowGroupLimit pushes
    the cap below the sort at scale.

    ``assignments`` (a persisted ``build_ivf_index`` artifact as
    (id_col, __arr, __list)) skips the in-call fit — zero k-means in
    the query path, the same artifact every curation consumer shares."""
    from aws_imdb_data_pipeline_spark.extensions.ivf import (
        build_ivf_assignments,
    )

    owns_cache = assignments is None
    if owns_cache:
        assigned, _ = build_ivf_assignments(
            embeddings, id_col, vec_col, n_lists, seed, max_iter, fit_fraction
        )
    else:
        assigned = assignments
    kept = (
        cell_hash_ranks(
            assigned.select(F.col(id_col).alias("id"), "__list"), "id", seed
        )
        .filter(F.col("__rn") <= cap_per_cell)
        .drop("__rn")
    )
    if owns_cache:
        assigned.unpersist()
    return kept
