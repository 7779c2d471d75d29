"""Corpus-preparation operators for LLM training-data pipelines:
deterministic dataset splits, token-budget sequence packing built on a
scalable prefix sum, benchmark-contamination checks, PII-style
redaction, and per-source mixture sampling.

These go beyond the reference repo's analytics surface (it has no
training-data layer); they are the operations a 100 TB pre-training
corpus pipeline runs after dedup (extensions/dedup.py) and quality
scoring (extensions/textstats.py). Everything is JVM-side built-in
expressions — no Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.extensions.textstats import _words
from aws_imdb_data_pipeline_spark.session import widen

# ---------------------------------------------------------------------------
# Deterministic dataset splits
# ---------------------------------------------------------------------------


def split_assignment(
    df: DataFrame,
    key_col: str,
    n_buckets: int = 100,
    cuts: tuple[tuple[str, int], ...] = (("test", 5), ("val", 10)),
    fallthrough: str = "train",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by ``key % n_buckets``.

    Keying the split on a stable id (not ``rand()``) makes the
    assignment reproducible across runs, machines, and engines — the
    property a training pipeline actually needs: re-running the corpus
    build never moves a document between train and test. ``cuts`` are
    (name, exclusive-upper-bucket) pairs in ascending order; buckets at
    or above the last cut land in ``fallthrough``.

    Zero shuffle: a pure projection that pipelines into whatever scan
    or write follows. For adversarially clustered ids, hash the key
    first (``F.xxhash64``) — same shape, engine-specific bucketing
    (register rows-only; see ``hash_split_assignment``).
    """
    bucket = F.pmod(F.col(key_col), F.lit(n_buckets))
    expr = F.lit(fallthrough)
    for name, hi in reversed(cuts):
        expr = F.when(bucket < hi, F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def hash_split_assignment(
    df: DataFrame,
    key_col: str,
    n_buckets: int = 100,
    cuts: tuple[tuple[str, int], ...] = (("test", 5), ("val", 10)),
    fallthrough: str = "train",
    out_col: str = "split",
    seed: int = 42,
) -> DataFrame:
    """`split_assignment` over ``xxhash64(key, seed)`` — robust to ids
    that are themselves clustered (e.g. sequential ids where a crawl
    batch correlates with content). Engine-specific hash → no SQL
    oracle; the distributional properties are property-tested instead."""
    bucket = F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(n_buckets))
    expr = F.lit(fallthrough)
    for name, hi in reversed(cuts):
        expr = F.when(bucket < hi, F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def stratified_sample_exact(
    df: DataFrame,
    stratum_col: str,
    k: int,
    id_col: str,
    salt: str = "v1",
) -> DataFrame:
    """EXACTLY min(k, |stratum|) rows per stratum, chosen by a
    deterministic pseudo-random order: rank rows within each stratum by
    ``md5(salt || id)`` and keep the first k.

    `mixture_sample`'s mod-key sampling hits a RATE per stratum; this
    hits a COUNT — what evaluation-set construction needs ("exactly
    1,000 held-out docs per language"). md5 of the decimal id string is
    engine-portable (identical hex in Spark and ANSI SQL), so the
    selection — unlike rand() or xxhash64 — is reproducible AND
    oracle-checkable. Changing ``salt`` redraws the sample.

    One shuffle (partition by stratum for the rank window). Skew note:
    a giant stratum serializes into one task; for k << |stratum| at
    100 TB, pre-thin each stratum with a bucket filter on the same md5
    (keep ~4k/|stratum| of buckets) before ranking — same result set,
    bounded task size.
    """
    from pyspark.sql import Window

    rank_key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Scalable global prefix sum → token-budget sequence packing
# ---------------------------------------------------------------------------


def prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cumsum",
    n_buckets: int = 256,
) -> DataFrame:
    """Global running sum of ``value_col`` in ``order_col`` order,
    WITHOUT the single-partition window trap.

    ``sum().over(Window.orderBy(k))`` with no partitionBy collapses the
    whole table into ONE task — the classic 100 TB killer. Instead:
    two-phase prefix sum, the distributed-scan formulation:

      1. order-preserving range buckets: ``bucket = floor(key / width)``
         (explicit arithmetic, not ``spark_partition_id()``, so the
         mapping is deterministic and oracle-checkable);
      2. per-bucket running sum — a window PARTITIONED by bucket, so
         all buckets run in parallel;
      3. bucket totals (tiny: ``n_buckets`` rows) get their own running
         sum on a single partition — negligible — and join back as each
         bucket's starting offset, broadcast.

    Requires a non-negative numeric ``order_col``; ties within
    ``order_col`` must not exist (use a unique id)."""
    hi = df.agg(F.max(order_col)).first()[0]
    if hi is None:
        return df.withColumn(out_col, F.lit(None).cast("double"))
    width = max(int(hi) // n_buckets + 1, 1)
    # integer DIV, not float division: double rounding near bucket
    # boundaries misplaces order keys above 2^53
    b = df.withColumn("__bucket", F.expr(f"CAST({order_col} AS BIGINT) DIV {width}"))
    local = b.withColumn(
        "__local",
        F.sum(value_col).over(
            Window.partitionBy("__bucket")
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    totals = b.groupBy("__bucket").agg(F.sum(value_col).alias("__tot"))
    offsets = totals.withColumn(
        "__off",
        F.coalesce(
            F.sum("__tot").over(
                Window.orderBy("__bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("__bucket", "__off")
    return (
        local.join(F.broadcast(offsets), "__bucket")
        .withColumn(out_col, F.col("__local") + F.col("__off"))
        .drop("__bucket", "__local")
    )


def pack_documents(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    budget: int,
    bin_col: str = "bin_id",
) -> DataFrame:
    """Assign documents (in ``key_col`` order) to contiguous
    fixed-token-budget bins: a document belongs to the bin its STARTING
    offset falls in, so a straddling document overflows its bin rather
    than opening a new one (the standard "pack with overflow" policy —
    the strictly-greedy "close the bin early" variant is order-carrying
    sequential state and cannot be expressed associatively; it would
    need applyInPandas per range-slice).

    Built on ``prefix_sum`` — fully parallel, deterministic, and
    SQL-equivalent (the oracle is a plain window cumsum)."""
    out = prefix_sum(df, key_col, tokens_col, out_col="__cum")
    return out.withColumn(
        bin_col,
        ((F.col("__cum") - F.col(tokens_col)) / budget).cast("long"),
    ).drop("__cum")


# ---------------------------------------------------------------------------
# Context-window document chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into overlapping fixed-word-count chunks —
    the context-window preparation step for embedding/retrieval indexes
    and for packing long documents into model windows.

    Chunk ``i`` covers words ``[i*stride, i*stride + chunk_size)`` with
    ``stride = chunk_size - overlap``; the last chunk may be shorter,
    and a document shorter than ``chunk_size`` yields exactly one
    chunk. Output grain is (doc, chunk): ``chunk_id`` (0-based),
    ``chunk_text``, ``n_chunk_words``.

    Tokenization is the shared ``_words`` regex (split on ``\\s+``) so
    chunk word counts agree with token_stats / exploded_ngrams — a
    document with runs of whitespace or newlines chunks on the same
    word boundaries every other corpus operator sees. Word counts come
    from the slice length itself, not a re-split of the joined text.

    Entirely JVM-side higher-order functions (``sequence`` →
    ``transform`` → ``slice`` → ``posexplode``) — no Python UDF, so the
    explode pipelines inside whole-stage codegen. Zero shuffle: chunking
    is a per-row flatMap; downstream consumers decide partitioning.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    words = _words(text_col)
    n_chunks = F.greatest(
        F.lit(1),
        (F.ceil((F.size(words) - F.lit(chunk_size)) / F.lit(stride)) + 1).cast("int"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.array_join(F.slice(words, i * stride + 1, chunk_size), " ").alias(
                "text"
            ),
            F.size(F.slice(words, i * stride + 1, chunk_size)).alias("n"),
        ),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "__chunk")
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.col("__chunk.text").alias("chunk_text"),
        F.col("__chunk.n").alias("n_chunk_words"),
    )


# ---------------------------------------------------------------------------
# Benchmark contamination check
# ---------------------------------------------------------------------------


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    hash_shingles: bool = True,
) -> DataFrame:
    """Per corpus document: how many of its distinct k-gram shingles
    also appear ANYWHERE in the benchmark set, plus the contamination
    ratio — the standard eval-set decontamination signal.

    Shape: explode corpus shingles (distinct per doc), semi-style
    inner-join against the DISTINCT benchmark shingle set, count per
    doc, then join counts back to per-doc shingle totals. The benchmark
    side is usually tiny (eval sets) → broadcast.

    ``hash_shingles`` (default) joins on ``xxhash64(shingle)`` instead
    of the string — the corpus side's one exchange carries 8-byte keys
    instead of arbitrarily long text. A false count needs an xxhash64
    collision between a corpus shingle and a DIFFERENT benchmark
    shingle (p ≈ |bench| · 2^-64 per shingle — negligible at any
    corpus size; the SQL oracle joins raw strings and still matches)."""
    from aws_imdb_data_pipeline_spark.extensions.dedup import shingle_docs

    # Widen the corpus leg when its scan is narrower than the session
    # (a single 1-task stage of shingling was the whole query) — the
    # widened plan still has exactly one corpus exchange, now carrying
    # doc rows instead of exploded shingle rows. Keyed on the doc id so
    # downstream per-doc aggregates reuse the exchange.
    corpus = widen(corpus, id_col)
    key = (lambda c: F.xxhash64(c)) if hash_shingles else (lambda c: c)
    c_sh = (
        shingle_docs(corpus, id_col, text_col, k=k)
        .select(F.col(id_col), F.explode("__shingles").alias("__s"))
        .select(F.col(id_col), key(F.col("__s")).alias("__g"))
    )
    b_sh = (
        shingle_docs(benchmark, id_col, text_col, k=k)
        .select(F.explode("__shingles").alias("__s"))
        .select(key(F.col("__s")).alias("__g"))
        .distinct()
    )
    # ONE corpus shingle pass: a totals branch + a hits branch would
    # replan the explode twice (measured 2x at sf0.1 — the round-7
    # bm25 double-scan pattern); instead flag each corpus shingle via
    # a LEFT broadcast join against the distinct benchmark set and take
    # both counts from a single per-doc aggregate.
    flagged = c_sh.join(
        F.broadcast(b_sh.withColumn("__hit", F.lit(1))), "__g", "left"
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_contaminated"),
    ).withColumn(
        "contamination_ratio", F.col("n_contaminated") / F.col("n_shingles")
    )


# ---------------------------------------------------------------------------
# PII-style redaction
# ---------------------------------------------------------------------------

# Deliberately simple patterns that mean the same thing in Java regex
# (Spark) and RE2 (DuckDB) — a production pipeline would plug real
# recognizers into the same projection.
_PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    (r"[0-9]{7,}", "<NUMBER>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """Chained ``regexp_replace`` projection (email → SSN-shaped →
    long digit runs, in that order so narrower patterns win), plus a
    per-doc count of redactions. Pure whole-stage-codegen JVM
    expressions; linear scan, no shuffle."""
    clean = F.col(text_col)
    n = F.lit(0)
    for pat, token in _PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(clean, F.lit(pat), F.lit(0)))
        clean = F.regexp_replace(clean, pat, token)
    return df.withColumn(out_col, clean).withColumn("n_redactions", n)


# ---------------------------------------------------------------------------
# Per-source mixture sampling
# ---------------------------------------------------------------------------


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    n_buckets: int = 1000,
) -> DataFrame:
    """Downsample each source to its mixture rate, deterministically:
    keep a row iff ``key % n_buckets < rate * n_buckets``. The
    data-mixing step of corpus assembly (e.g. 100% wiki, 30% web) as a
    reproducible filter instead of ``sample()`` — identical output
    every run, no RNG state, survives retries and speculative tasks
    (a ``rand()`` filter does not: a re-executed task would emit a
    DIFFERENT sample, breaking exactly-once sinks).

    Sources absent from ``rates`` are dropped. Pure filter → pipelines
    into the scan with predicate pushdown on ``source`` when the lake
    is partitioned by it."""
    bucket = F.pmod(F.col(key_col), F.lit(n_buckets))
    keep = F.lit(False)
    for src, rate in rates.items():
        keep = keep | (
            (F.col(source_col) == src) & (bucket < int(round(rate * n_buckets)))
        )
    return df.filter(keep)


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle
# ---------------------------------------------------------------------------

# MINSTD multiplier; any a coprime to _SHUFFLE_P works. P prime ⇒ the
# affine map id ↦ (a·id + c) mod P is a bijection on [0, P) — but a
# LOCALLY MONOTONE one (consecutive ids stay consecutive until a·id
# wraps P, runs of ~P/a ≈ 20k ids), which is the opposite of a shuffle.
# Composing with the cube map x ↦ x³ mod P — also a bijection, since
# P is prime and gcd(3, P−1) = 1 — breaks the monotone runs: the
# affine step spreads ids across [0, P), the cube step scrambles them.
# All intermediates fit int64 ((P−1)² < 2^63), so BOTH engines compute
# it exactly — no float, no engine-specific hash.
_SHUFFLE_A = 48271
_SHUFFLE_P = 1_000_000_007


def seeded_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: int = 12345,
    n_shards: int = 8,
) -> DataFrame:
    """Assign every row a deterministic pseudo-random training order:
    ``shard`` (which output file/worker gets it) and ``pos`` (its rank
    within the shard).

    Pre-training wants documents visited in random order, but at 100 TB
    the shuffle must be (a) reproducible across reruns and (b) stable
    under re-partitioning. ``F.rand(seed)`` is NEITHER — its stream is
    keyed to (partition index, row offset), so a repartition, a lost
    executor, or AQE re-planning silently permutes the "random" order.
    An affine permutation of the id space, ``(a·key + seed) mod P``, is
    a pure column expression: same input row ⇒ same position, any plan.

    Scale shape: no global sort. Ranks are computed PER SHARD
    (``row_number`` partitioned by shard), so the only shuffle is a
    hash exchange on ``n_shards`` keys and each shard sorts
    independently — the same layout a writer produces with
    ``repartition(shard).sortWithinPartitions(key)``. Keys ≥ P still
    get a deterministic slot (the map stays total), they just alias
    into the same residue class; tie-break on the key keeps the order
    a total one.
    """
    p = F.lit(_SHUFFLE_P)
    y = (F.lit(_SHUFFLE_A) * F.col(key_col) + F.lit(seed)) % p
    key = (((y * y) % p) * y) % p  # y³ mod P, overflow-free
    out = df.withColumn("__k", key).withColumn(
        "shard", F.pmod(F.col("__k"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("__k", key_col)
    return out.withColumn("pos", F.row_number().over(w)).drop("__k")


def sqrt_temperature_mixture(
    df: DataFrame,
    source_col: str = "source",
    key_col: str = "doc_id",
    n_buckets: int = 1000,
) -> DataFrame:
    """Temperature-balanced source mixing at T=2 (α=0.5): downsample
    each source at rate √(min_count/count_s), so the kept mix follows
    share^0.5 — the standard dampening that stops one giant crawl
    source from drowning every small high-quality one, with the
    smallest source kept in full.

    Mechanics mirror :func:`mixture_sample` (deterministic key-mod
    keep — reproducible under retries), but the rates are computed IN
    the frame from observed counts (one tiny aggregate broadcast back)
    instead of passed in. α is fixed at 0.5 on purpose: IEEE sqrt is
    correctly rounded, so the cutoff ``floor(n_buckets·rate)`` is
    bit-identical in any engine, where a general ``pow(x, α)`` need
    not be (oracle-portability — the same reason seeded_shuffle avoids
    engine hashes).

    Contract (shared with mixture_sample/split_assignment): keys must
    be ~uniform mod ``n_buckets`` — true for sequential ids when
    n_buckets ≪ rows per source. Ids clustered mod n_buckets (offset
    blocks, sharded id spaces) need a hash first; keep n_buckets small
    relative to the smallest source."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__c"))
    min_c = counts.agg(F.min("__c").alias("__mc"))
    cuts = counts.crossJoin(F.broadcast(min_c)).select(
        source_col,
        F.floor(
            F.lit(n_buckets) * F.sqrt(F.col("__mc") / F.col("__c"))
        ).alias("__cut"),
    )
    return df.join(F.broadcast(cuts), source_col).filter(
        F.pmod(F.col(key_col), F.lit(n_buckets)) < F.col("__cut")
    ).drop("__cut")


def remove_repeated_lines(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    sep: str = "\n",
    key_on_hash: bool = False,
) -> DataFrame:
    """C4/RefinedWeb-style inter-document boilerplate removal: drop
    every LINE whose exact text occurs in at least ``min_docs``
    DISTINCT documents (navigation bars, cookie banners, license
    footers — the lines that repeat across a crawl), preserving the
    original order of the surviving lines. Documents whose every line
    is boilerplate survive with empty text (they are a signal, not a
    loss — downstream length filters catch them).

    ``sep`` is a LITERAL separator (regex-escaped before F.split —
    passing '.' or '|' splits on the character, not on every
    position).

    Plan shape: posexplode lines → one countDistinct shuffle keyed on
    the line → anti-join → re-assemble per doc (sort_array over
    (pos, line) structs inside the aggregate — per-doc sort, never a
    global one). ``key_on_hash=True`` is the 100 TB form: the
    count/anti-join shuffle carries ``xxhash64(line)`` 8-byte keys
    instead of raw line text (a 2^-64 collision removes an innocent
    line — the standard trade; equivalence on real corpora is
    property-tested). The exact-text default is what the SQL oracle
    reproduces."""
    import re as _re

    lines = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("__pos", "__line"),
    )
    key = F.xxhash64("__line") if key_on_hash else F.col("__line")
    hot = (
        lines.groupBy(key.alias("__key"))
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__key")
    )
    kept = lines.withColumn("__key", key).join(
        hot, "__key", "left_anti"
    ).drop("__key")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__pos", "__line"))),
                lambda x: x["__line"],
            ),
            sep,
        ).alias(text_col)
    )
    return docs.select(id_col).join(rebuilt, id_col, "left").fillna(
        {text_col: ""}
    )



def shingle_positions(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Position-indexed k-word shingles keyed on ``xxhash64`` of the
    word slice (8-byte shuffle keys, no shingle strings) —
    (id_col, __p, __sh). NULL text contributes no shingles (it cannot
    reach k words). This posexplode + per-window hash transform is the
    dominant cost of the span operators; callers that consume it more
    than once should compute the hot set ONCE (``hot_shingles``, or
    better a persisted artifact) and inject it."""
    words_arr = F.split(F.col(text_col), " ")
    return (
        docs.filter(F.size(words_arr) >= k)
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size(words_arr) - k),
                    lambda i: F.xxhash64(F.slice(words_arr, i + 1, k)),
                )
            ).alias("__p", "__sh"),
        )
    )


def hot_shingles(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """The HOT-shingle set — (__sh,) keys occurring in >= ``min_docs``
    DISTINCT documents. One shingle pass + one countDistinct shuffle.

    This set is per-corpus-version (it only changes when the corpus
    does), so at scale it is an INDEX ARTIFACT: build it once via
    ``lifecycle.artifacts.ensure_artifact``, persist the one column of
    longs as parquet, and pass it as ``hot=`` to the metric/trim
    operators — each then makes exactly ONE shingle pass and joins
    against a table that is tiny relative to the corpus (duplicated
    shingles only). The registered queries do exactly this
    (plans/extensions3.py); SCALE.md §23 measures the crossover."""
    sh = shingle_positions(docs, id_col, text_col, k)
    return (
        sh.groupBy("__sh")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__sh")
    )


def _hot_shingle_positions(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_docs: int,
    hot: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared kernel of the duplicated-span METRIC and TRIM operators:
    the shingle table plus the hot set. With ``hot`` injected (the
    artifact path) the expensive shingle transform is planned exactly
    once per call; without it, Spark recomputes the shingle subtree
    for both the hot aggregate and the consumer join — correct, but
    2× the dominant cost, so the one-shot form is for ad-hoc use."""
    sh = shingle_positions(docs, id_col, text_col, k)
    if hot is None:
        hot = hot_shingles(docs, id_col, text_col, k, min_docs)
    return sh, hot


def dup_span_coverage_metric(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_docs: int = 2,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-span coverage (Lee et al. 2021's
    exact-substring dup signal): for each document, the number of
    word positions covered by k-word shingles that occur in at least
    ``min_docs`` DISTINCT documents, plus the raw duplicated-shingle
    count and the coverage fraction. Documents shorter than k words
    report zero coverage.

    Returns (id_col, n_words, n_dup_shingles, covered_tokens,
    dup_token_frac). The shingle key is ``xxhash64`` of the k-word
    slice — no shingle string is materialized, shuffle rows carry
    8-byte keys (a 2^-64 collision merges two shingles' doc counts —
    the standard trade). The per-doc interval union happens INSIDE
    the aggregate (array_distinct over flattened sequences), bounded
    by doc length, never global. ``dup_token_frac`` is an int/int
    quotient — bitwise-stable across engines.

    NULL-text documents report n_words = 0 and zero coverage (they
    cannot contain a shingle); the fraction is 0.0, never NULL or
    negative.

    ``hot`` optionally injects a precomputed hot-shingle set (see
    :func:`hot_shingles` — at scale, a persisted per-corpus-version
    artifact): with it the dominant shingle transform runs ONCE per
    call instead of twice."""
    # widen ONLY the shingle leg (on a narrow scan the 2-task shingle
    # stage was the query); the base leg is a cheap per-doc projection
    # and keeps the narrow scan
    sh, hot = _hot_shingle_positions(
        widen(docs, id_col), id_col, text_col, k, min_docs, hot
    )
    dup = (
        sh.join(hot, "__sh", "left_semi")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_shingles"),
            F.collect_list(
                F.sequence(F.col("__p"), F.col("__p") + k - 1)
            ).alias("__seqs"),
        )
        .select(
            id_col,
            "n_dup_shingles",
            F.size(F.array_distinct(F.flatten("__seqs"))).cast("long").alias(
                "covered_tokens"
            ),
        )
    )
    # NULL-safe word count: size(split(NULL)) is -1, which would leak
    # a negative n_words and fraction out of a public operator
    n_words = F.when(
        F.col(text_col).isNull(), F.lit(0)
    ).otherwise(F.size(F.split(F.col(text_col), " "))).cast("long")
    base = docs.select(F.col(id_col), n_words.alias("n_words"))
    return base.join(dup, id_col, "left").select(
        id_col,
        "n_words",
        F.coalesce("n_dup_shingles", F.lit(0)).alias("n_dup_shingles"),
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        F.when(F.col("n_words") == 0, F.lit(0.0)).otherwise(
            F.coalesce("covered_tokens", F.lit(0)).cast("double")
            / F.col("n_words")
        ).alias("dup_token_frac"),
    )


def trim_duplicated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_docs: int = 2,
    hot: DataFrame | None = None,
) -> DataFrame:
    """The ACT half of :func:`dup_span_coverage_metric` (RefinedWeb /
    Lee et al. span removal): delete every word position covered by a
    k-word shingle that occurs in >= ``min_docs`` DISTINCT documents,
    and reassemble the survivors in order. Docs shorter than k words
    pass through untouched; a fully-duplicated doc survives with empty
    text (a signal, same policy as remove_repeated_lines). NULL text
    comes back as '' — the same left-join + fill policy.

    Plan: the hot-shingle detection is the SHARED metric kernel
    (_hot_shingle_positions — hashed 8-byte shingle keys, one
    countDistinct shuffle); covered positions explode from hot windows
    and anti-join the word table; per-doc reassembly sorts (pos, word)
    structs INSIDE the aggregate — doc-bounded, never global. Returns
    (id_col, text_col) rebuilt. ``hot`` injects a precomputed
    hot-shingle set (one shingle pass instead of two — see
    :func:`hot_shingles`)."""
    # widen the two expensive legs (the shingle pass and the word_rows
    # posexplode run as 2-task stages on a narrow scan); the trailing
    # id-only select keeps the narrow scan
    docs_w = widen(docs, id_col)
    sh, hot = _hot_shingle_positions(
        docs_w, id_col, text_col, k, min_docs, hot
    )
    covered = (
        sh.join(hot, "__sh", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__p"), F.col("__p") + k - 1)
            ).alias("__pos"),
        )
        .distinct()
    )
    word_rows = docs_w.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("__pos", "__w"),
    )
    kept = word_rows.join(covered, [id_col, "__pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__pos", "__w"))),
                lambda x: x["__w"],
            ),
            " ",
        ).alias(text_col)
    )
    return docs.select(id_col).join(rebuilt, id_col, "left").fillna(
        {text_col: ""}
    )


def crawl_diff(
    cur: DataFrame,
    nxt: DataFrame,
    id_col: str,
    text_col: str,
    fingerprint: bool = False,
) -> DataFrame:
    """Crawl-version diff: classify every document across two corpus
    versions as added / removed / changed / unchanged — (id_col,
    status). FULL OUTER join on the id (neither side may be dropped:
    unmatched current rows are 'removed', unmatched next rows 'added').

    ``fingerprint=True`` is the 100 TB form: both sides project to
    (id, xxhash64(text)) BEFORE the join, so shuffle rows carry 16
    bytes instead of document bodies — the dedup_incremental_exact
    pattern. A 2^-64 hash collision misreports one changed doc as
    unchanged (the standard fingerprint trade, same as every hashed
    operator here); equivalence vs the raw-text compare is tested.
    NULL-text contract: NULL ≡ NULL counts as 'unchanged' in BOTH
    modes (raw compare is null-safe; xxhash64 maps NULL to the seed,
    which is likewise self-equal) — an absent body in both versions is
    not a change.
    When both versions are bucketed by the id (SCALE.md §24), the
    join plans with ZERO exchanges — the diff never shuffles at all."""
    cmp_cur = (
        F.xxhash64(F.col(text_col)) if fingerprint else F.col(text_col)
    )
    c = cur.select(
        F.col(id_col).alias("__cid"), cmp_cur.alias("__ct")
    )
    cmp_nxt = (
        F.xxhash64(F.col(text_col)) if fingerprint else F.col(text_col)
    )
    n = nxt.select(
        F.col(id_col).alias("__nid"), cmp_nxt.alias("__nt")
    )
    return c.join(n, c["__cid"] == n["__nid"], "full_outer").select(
        F.coalesce("__cid", "__nid").alias(id_col),
        F.when(F.col("__cid").isNull(), "added")
        .when(F.col("__nid").isNull(), "removed")
        .when(F.col("__ct").eqNullSafe(F.col("__nt")), "unchanged")
        .otherwise("changed")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement (Efraimidis–Spirakis, 2006)
# ---------------------------------------------------------------------------


def weighted_sample_without_replacement(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    seed: int = 0,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exactly ``k`` rows, inclusion probability proportional to
    weight, WITHOUT replacement — the Efraimidis–Spirakis exponential-
    rank trick: give each row the key ``-ln(u) / w`` (u uniform in
    (0,1)) and keep the k SMALLEST keys. One distributed top-k, no
    sequential draws, no rejection loop.

    The complement of ``mixture_sample``'s rate filter: that keeps a
    deterministic FRACTION per source; this keeps an exact COUNT with
    weight bias (e.g. "exactly 100k docs, biased by quality score").

    u is hash-derived (53 bits of ``xxhash64(key, seed)``), not
    ``rand()``, for the same reason mixture_sample's filter is: a
    re-executed task re-emits the IDENTICAL sample, so retries and
    speculative execution can't break exactly-once sinks, and the
    sample is reproducible from (data, seed) alone. Zero/negative
    weights are excluded (their E-S key is undefined/infinite).

    ``group_cols`` switches to k-per-group (WindowGroupLimit instead
    of the global TakeOrderedAndProject) — stratified quota sampling.

    100 TB story: the E-S key is a row-local codegen expression; the
    global form reduces per partition then merges k-sized heaps on the
    driver (TakeOrderedAndProject), so the shuffle is k rows per
    partition, never the corpus. Ref: Efraimidis & Spirakis, "Weighted
    random sampling with a reservoir", IPL 97(5), 2006.
    """
    from aws_imdb_data_pipeline_spark.operators.topk import (
        top_k_global,
        top_n_per_group,
    )

    u = (
        F.shiftrightunsigned(
            F.xxhash64(F.col(key_col), F.lit(seed)), 11
        ).cast("double")
        + 0.5
    ) / F.lit(float(1 << 53))
    keyed = df.filter(F.col(weight_col) > 0).withColumn(
        "__es_key", -F.log(u) / F.col(weight_col)
    )
    order = [F.col("__es_key").asc(), F.col(key_col).asc()]
    if group_cols:
        out = top_n_per_group(keyed, group_cols, order, k)
    else:
        out = top_k_global(keyed, order, k)
    return out.drop("__es_key")
