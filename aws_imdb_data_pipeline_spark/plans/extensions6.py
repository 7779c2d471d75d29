"""Sixth extensions batch (round 8): entity resolution by lossless
fuzzy join (q-gram prefix blocking, operators/fuzzyjoin.py) and
distribution-drift monitoring (PSI + discretized KS) — the two
remaining curation primitives a training-data pipeline leans on that
the engine didn't yet expose as registered queries. All SQL-oracled.

Reference parity note: the reference pipeline (reference
glue/transform job) has no fuzzy matching or drift monitoring; these
are beyond-reference additions in the same family as extensions/dedup
(entity resolution = dedup over KEYS instead of documents; drift =
the DQ profile family extended across time windows).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.operators.localframe import local_literal_frame
from aws_imdb_data_pipeline_spark.plans.registry import register
from aws_imdb_data_pipeline_spark.plans.relational import stable_avg
from aws_imdb_data_pipeline_spark.session import widen
from aws_imdb_data_pipeline_spark.sources.tables import (
    load_table,
    maybe_broadcast,
    table_rows,
)


def _distinct_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The entity-resolution vocabulary: DISTINCT part names. At 100 TB
    the distinct-key set is orders of magnitude smaller than the fact
    table (here 64 vs 2k rows at sf0.01) — fuzzy matching always runs
    on the deduplicated vocabulary, never the raw rows."""
    return load_table(spark, sf_dir, "part").select("p_name").distinct()


@register(
    "fuzzy_name_pairs_blocked",
    oracle="""
    WITH d AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM d a JOIN d b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
    operators=("EXT-fuzzy", "U2", "J3", "F-lev"),
)
def fuzzy_name_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All DISTINCT part-name pairs within edit distance 2 — the
    candidate link set for entity resolution / catalog dedup
    ("red widget" vs "red widgets"). The SCALE path for what
    plans/extensions.py::fuzzy_part_name_pairs verifies as a bounded
    cross-join kernel: EXACT semantics, because the q-gram prefix
    blocking (operators/fuzzyjoin.py) is lossless — the output equals
    the oracle's nested-loop answer while the plan joins on
    (gram, occurrence) equi-keys. At a 10^8-name vocabulary the cross
    join is 10^16 pairs, the blocked join is candidates only
    (SCALE.md §30)."""
    from aws_imdb_data_pipeline_spark.operators.fuzzyjoin import (
        qgram_edit_join,
    )

    d = _distinct_part_names(spark, sf_dir)
    pairs = qgram_edit_join(
        d,
        d,
        left_id="p_name",
        left_str="p_name",
        right_id="p_name",
        right_str="p_name",
        max_dist=2,
        q=2,
    )
    return (
        pairs.filter(F.col("p_name_l") < F.col("p_name_r"))
        .select(
            F.col("p_name_l").alias("name_a"),
            F.col("p_name_r").alias("name_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


@register(
    "fuzzy_name_groups",
    oracle="""
    WITH RECURSIVE
    d AS (SELECT DISTINCT p_name FROM part),
    e AS (
        SELECT a.p_name AS s, b.p_name AS t
        FROM d a JOIN d b
          ON a.p_name <> b.p_name
         AND levenshtein(a.p_name, b.p_name) <= 1
    ),
    reach AS (
        SELECT p_name AS node, p_name AS lbl FROM d
        UNION
        SELECT e.s AS node, r.lbl
        FROM reach r JOIN e ON e.t = r.node
    ),
    canon AS (
        SELECT node AS p_name, MIN(lbl) AS canonical
        FROM reach GROUP BY node
    )
    SELECT c.canonical,
           CAST(COUNT(DISTINCT p.p_name) AS BIGINT) AS n_names,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(p.p_retailprice), 4) / COUNT(p.p_retailprice)
               AS avg_price
    FROM part p JOIN canon c ON c.p_name = p.p_name
    GROUP BY c.canonical
    HAVING COUNT(DISTINCT p.p_name) > 1
    """,
    operators=("EXT-fuzzy", "EXT-cc", "A3", "J1"),
)
def fuzzy_name_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end: fuzzy-link distinct part names at
    edit distance 1, collapse links into canonical groups (connected
    components, min-name label), then roll the FACT rows up to the
    resolved entity — only groups that actually merged names (>1
    distinct spelling). The full catalog-dedup composite: blocking →
    verify → cluster → canonicalize → aggregate.

    Scale: CC runs on the name-pair graph (vocabulary-sized, tiny
    relative to facts); the fact rollup is one hash aggregate after a
    broadcast-able join of facts to the name→canonical map. The
    oracle reproduces the clustering as a recursive CTE — feasible
    because the ORACLE-side graph is the sf-sized vocabulary; the
    Spark side is the iteration-bounded label propagation of
    extensions/clusters.py (probed to 10^7 edges, SCALE.md §8)."""
    from aws_imdb_data_pipeline_spark.extensions.clusters import (
        connected_components,
    )
    from aws_imdb_data_pipeline_spark.operators.fuzzyjoin import (
        qgram_edit_join,
    )

    d = _distinct_part_names(spark, sf_dir)
    pairs = (
        qgram_edit_join(
            d,
            d,
            left_id="p_name",
            left_str="p_name",
            right_id="p_name",
            right_str="p_name",
            max_dist=1,
            q=2,
        )
        .filter(F.col("p_name_l") < F.col("p_name_r"))
        .select(
            F.col("p_name_l").alias("id_a"), F.col("p_name_r").alias("id_b")
        )
    )
    comp = connected_components(pairs).select(
        F.col("node").alias("p_name"), F.col("component").alias("canonical")
    )
    part = load_table(spark, sf_dir, "part")
    # Names with no fuzzy link are their own (singleton) entity; the
    # HAVING keeps only merged groups, so singletons drop out anyway —
    # left join + coalesce keeps the rollup total-preserving first.
    labeled = part.join(maybe_broadcast(comp, sf_dir, "part"), "p_name", "left").withColumn(
        "canonical", F.coalesce("canonical", "p_name")
    )
    out = (
        labeled.groupBy("canonical")
        .agg(
            F.countDistinct("p_name").alias("n_names"),
            F.count(F.lit(1)).alias("n_parts"),
            # stable_avg form (never round a quotient): the old
            # ROUND(AVG(2dp money), 2) was the exact tie-prone class
            # the float-policy audit (r13 verdict #4) exists to catch
            # — found by its first run, fixed before any divergence.
            stable_avg("p_retailprice").alias("avg_price"),
        )
        .filter(F.col("n_names") > 1)
    )
    return out


from aws_imdb_data_pipeline_spark.extensions.drift import (  # noqa: E402
    PSI_BINS as _PSI_BINS,  # single source of truth for the smoothing constant
)


@register(
    "events_drift_psi",
    oracle=f"""
    WITH binned AS (
        SELECT event_type,
               CAST(least(floor(value / 10), 10) AS INTEGER) AS bin,
               (ts < TIMESTAMP '2024-01-16') AS in_a
        FROM events
        WHERE value IS NOT NULL
    ),
    cells AS (
        SELECT event_type, bin,
               COUNT(*) FILTER (WHERE in_a)     AS cnt_a,
               COUNT(*) FILTER (WHERE NOT in_a) AS cnt_b
        FROM binned GROUP BY event_type, bin
    ),
    tot AS (
        SELECT event_type,
               SUM(cnt_a) AS n_a, SUM(cnt_b) AS n_b
        FROM cells GROUP BY event_type
    ),
    terms AS (
        SELECT c.event_type, c.bin,
               (c.cnt_a + 1.0) / (t.n_a + {_PSI_BINS}) AS p,
               (c.cnt_b + 1.0) / (t.n_b + {_PSI_BINS}) AS q,
               SUM(c.cnt_a) OVER w / t.n_a AS cdf_a,
               SUM(c.cnt_b) OVER w / t.n_b AS cdf_b,
               t.n_a, t.n_b
        FROM cells c JOIN tot t USING (event_type)
        WINDOW w AS (PARTITION BY c.event_type ORDER BY c.bin)
    )
    SELECT event_type,
           ROUND(SUM((p - q) * ln(p / q)), 6) AS psi,
           ROUND(MAX(ABS(cdf_a - cdf_b)), 6) AS ks_stat,
           CAST(ANY_VALUE(n_a) AS BIGINT) AS n_a,
           CAST(ANY_VALUE(n_b) AS BIGINT) AS n_b
    FROM terms
    GROUP BY event_type
    """,
    operators=("EXT-drift", "A1", "W4", "P9"),
)
def events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two time windows (first vs
    second half of the month), per event_type: Population Stability
    Index over fixed-width value bins (Laplace-smoothed so empty bins
    contribute finitely — the SAME smoothing on both engines keeps the
    oracle bit-equal) and the discretized Kolmogorov-Smirnov statistic
    (max CDF gap over the bin order). The standard pre-training gate
    for "did this source's distribution move since the last crawl".

    One scan, one shuffle: bin label and window flag are row-local
    expressions; the (event_type, bin) cell aggregate is map-side
    combinable; totals and CDFs are per-type window sums over the
    11-row-per-type cell frame — negligible regardless of event count.
    At 100 TB the cell frame is |types| × |bins| rows, so drift over
    any number of events reduces to one partial-aggregate pass."""
    from aws_imdb_data_pipeline_spark.extensions.drift import (
        bin_value,
        psi_ks_from_cells,
    )

    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        bin_value("value").alias("bin"),
        (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).alias("in_a"),
    ).filter(F.col("bin").isNotNull())  # same NULL policy as cell_counts
    # both windows' cells in ONE scan (the streaming plane builds the
    # same frame by delta-merging per-batch cell counts instead)
    cells = binned.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("in_a"), 1)).alias("cnt_a"),
        F.count(F.when(~F.col("in_a"), 1)).alias("cnt_b"),
    )
    return psi_ks_from_cells(cells, "event_type", n_bins=_PSI_BINS)


def gradient_png_media(
    spark: SparkSession, sf_dir: str, max_id: int | None = None
) -> DataFrame:
    """The multimodal fixture contract: every document rendered as a
    REAL PNG — 16-wide gradient image, pixel (y, x) = (c + 7y + 3x)
    mod 256 with c = the first char's CODE POINT (DuckDB ascii()
    semantics, not the first UTF-8 byte) and height = ceil(bytes/16) —
    the closed form every multimodal oracle (resize mean, aHash bits)
    re-derives in SQL. One Arrow-batched pandas UDF builds the
    payloads; shared by multimodal_image_resize and the aHash family."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from aws_imdb_data_pipeline_spark.extensions.codecs import encode_png

    @pandas_udf("binary")
    def to_png(texts: pd.Series) -> pd.Series:
        def build(t: str) -> bytes:
            data = t.encode("utf-8")
            c = ord(t[0]) if t else 0
            h = max(-(-len(data) // 16), 1)
            y = np.arange(h).reshape(-1, 1)
            x = np.arange(16).reshape(1, -1)
            v = ((c + 7 * y + 3 * x) % 256).astype(np.uint8)
            return encode_png(np.repeat(v[:, :, None], 3, axis=2))

        return texts.map(build)

    # On a 1-task scan the encode is Python-worker dwell on one task —
    # widen row-aware, with rows from the parquet footer: tiny frames
    # must not fan out (the 500-doc ahash_neardup slice regressed
    # 1.9 -> 3.4 s under a blanket 32-way widen). ``max_id`` lets sliced
    # consumers (ahash_neardup's doc_id < 500 oracle slice) apply the
    # bound BEFORE the widen so the width fits the slice.
    docs = load_table(spark, sf_dir, "documents")
    rows = table_rows(sf_dir, "documents")
    if max_id is not None:
        docs = docs.filter(F.col("doc_id") < max_id)
        rows = min(rows, max_id)
    docs = widen(docs, "doc_id", rows=rows)
    return docs.select(
        F.col("doc_id").alias("media_id"), to_png("text").alias("payload")
    )


@register(
    "multimodal_image_resize",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               ascii(substr(text, 1, 1)) AS c,
               greatest(CAST(ceil(octet_length(encode(text)) / 16.0)
                             AS INTEGER), 1) AS h
        FROM documents
    ),
    px AS (
        SELECT g.doc_id, g.h,
               (g.c + 7 * ((y.y * g.h) // 8) + 3 * (2 * x.x)) % 256 AS v
        FROM g, range(8) AS y(y), range(8) AS x(x)
    )
    SELECT doc_id,
           CAST(16 AS INTEGER) AS orig_width,
           CAST(h AS INTEGER) AS orig_height,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           AVG(v) AS mean_luma
    FROM px
    GROUP BY doc_id, h
    """,
    operators=("EXT-multimodal",),
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize verified END TO END against SQL: each document
    becomes a REAL PNG (16-wide gradient image, pixel = (c + 7y + 3x)
    mod 256 with c = first char code, height = ceil(bytes/16)),
    resized 8x8 by the nearest-neighbor kernel, re-encoded, re-decoded
    — and the decoded mean luma must equal the oracle's closed-form
    mean over the SAME (y*h)//8 index map. A wrong index map, a
    filter-byte bug in the PNG codec, or a channel mix-up all flip the
    mean, so this pins the whole decode→resize→encode→decode path,
    not just row counts. Means are exact in FP (integer sum / 64 — a
    power of two), so no rounding is needed on either side.

    Scale: one Arrow-batched mapInPandas — the only Python is the
    codec kernel itself (the legitimate UDF class); stats, grouping
    and the oracle comparison all stay JVM-side."""
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        resize_images,
    )

    resized = resize_images(gradient_png_media(spark, sf_dir), out_w=8, out_h=8)
    return resized.select(
        F.col("media_id").alias("doc_id"),
        "orig_width",
        "orig_height",
        "width",
        "height",
        "mean_luma",
    )


def gradient_fpk_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video fixture contract: every document rendered as a REAL
    FPK1 framepack of 2 + doc_id%3 gradient frames, 4x4, 40 ms apart,
    frame f's pixels = (c + 16f + 7y + 3x) mod 256 with c = the first
    char's code point — the closed form the frame-sample and video-
    signature oracles re-derive in SQL. Shared by
    multimodal_frame_sample and the video-dedup family."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from aws_imdb_data_pipeline_spark.extensions.codecs import (
        encode_framepack,
        encode_png,
    )

    @pandas_udf("binary")
    def to_fpk(doc_ids: pd.Series, texts: pd.Series) -> pd.Series:
        def build(did: int, t: str) -> bytes:
            # code POINT (DuckDB ascii() semantics); see image_resize
            c = ord(t[0]) if t else 0
            y = np.arange(4).reshape(-1, 1)
            x = np.arange(4).reshape(1, -1)
            frames = []
            for f in range(2 + did % 3):
                v = ((c + 16 * f + 7 * y + 3 * x) % 256).astype(np.uint8)
                frames.append(encode_png(np.repeat(v[:, :, None], 3, axis=2)))
            return encode_framepack(frames, 40)

        return pd.Series(
            [build(d, t) for d, t in zip(doc_ids, texts)]
        )

    # same row-aware widen as gradient_png_media: parallelize the PNG
    # encode + downstream frame-sample/hash kernels across workers
    docs = widen(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        rows=table_rows(sf_dir, "documents"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        to_fpk("doc_id", "text").alias("payload"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               ascii(substr(text, 1, 1)) AS c,
               2 + doc_id % 3 AS nf
        FROM documents
    ),
    fr AS (
        SELECT doc_id, c, CAST(unnest(range(0, nf, 2)) AS INTEGER) AS frame_idx
        FROM g
    ),
    px AS (
        SELECT fr.doc_id, fr.frame_idx,
               (fr.c + 16 * fr.frame_idx + 7 * y.y + 3 * x.x) % 256 AS v
        FROM fr, range(4) AS y(y), range(4) AS x(x)
    )
    SELECT doc_id, frame_idx,
           CAST(frame_idx * 40 AS BIGINT) AS ts_ms,
           CAST(4 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           AVG(v) AS mean_luma
    FROM px
    GROUP BY doc_id, frame_idx
    """,
    operators=("EXT-multimodal", "J4"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling verified END TO END against SQL: each
    document becomes a REAL FPK1 framepack (2 + doc_id%3 gradient
    frames, 4x4, 40 ms apart; frame f's pixels = (c + 16f + 7y + 3x)
    mod 256), the engine samples every 2nd frame by PARSING the
    container (offsets/magic/lengths — codecs.decode_framepack), PNG-
    decodes each sampled frame, and the emitted (frame_idx, ts_ms,
    dims, mean luma) must match the oracle's closed form. This is the
    multimodal 1→N explode: one video row yields one row per sampled
    frame. Exact FP again (integer sum / 16).

    Scale: sampling N frames from a container is O(sampled) decode
    work after an O(1) header parse per frame skipped; Arrow batching
    keeps peak memory at one batch of frames, and everything after
    the kernel is JVM-side."""
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        sample_frames,
    )

    frames = sample_frames(gradient_fpk_media(spark, sf_dir), every_n=2)
    return frames.select(
        F.col("media_id").alias("doc_id"),
        "frame_idx",
        "ts_ms",
        "width",
        "height",
        "mean_luma",
    )


@register(
    "corpus_weighted_sample",
    oracle=None,  # sample identity is xxhash64-specific; see the _check
    operators=("EXT-corpus", "O1", "W2"),
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 200 documents sampled WITHOUT replacement with
    inclusion probability proportional to length (n_chars) —
    Efraimidis–Spirakis exponential ranks over hash-derived uniforms
    (extensions/corpus.py::weighted_sample_without_replacement). The
    "exactly K docs, biased by quality/length" step of corpus
    assembly; deterministic from (data, seed), so retries and
    speculative tasks re-emit the identical sample. Rows-only (the
    sample identity depends on xxhash64); its contract is the pinned
    oracle of corpus_weighted_sample_check."""
    from aws_imdb_data_pipeline_spark.extensions.corpus import (
        weighted_sample_without_replacement,
    )

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_without_replacement(
        docs.select("doc_id", F.col("n_chars").cast("double").alias("w")),
        "w",
        k=200,
        seed=8,
    ).orderBy("doc_id")


@register(
    "corpus_weighted_sample_check",
    oracle="""
    SELECT CAST(200 AS BIGINT) AS k,
           true AS exact_k,
           true AS partition_invariant,
           true AS zero_weight_excluded,
           true AS heavy_item_selected,
           true AS groups_respect_quota
    """,
    operators=("EXT-corpus", "O1", "W2", "A2"),
)
def corpus_weighted_sample_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-pinned contract of the weighted sampler (same pattern as
    plans/checks.py):

    - ``exact_k``: the global form returns exactly k = 200 rows;
    - ``partition_invariant``: repartition(7) yields the IDENTICAL id
      set (hash-derived uniforms, not rand() — the determinism the
      docstring promises);
    - ``zero_weight_excluded``: docs reweighted to 0 never appear;
    - ``heavy_item_selected``: one doc reweighted to 1e12 is always in
      the sample (its E-S key is smaller than any unit-weight key with
      probability 1 - O(n/1e12) — deterministic at any shipped SF);
    - ``groups_respect_quota``: the per-group form returns
      min(k, group size) rows per lang stratum.
    """
    from aws_imdb_data_pipeline_spark.extensions.corpus import (
        weighted_sample_without_replacement,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("w")
    )
    base = weighted_sample_without_replacement(docs, "w", k=200, seed=8)
    ids = base.select("doc_id")
    ids7 = weighted_sample_without_replacement(
        docs.repartition(7), "w", k=200, seed=8
    ).select("doc_id")
    n = ids.count()
    sym_diff = (
        ids.join(ids7, "doc_id", "full_outer")
        .filter(ids["doc_id"].isNull() | ids7["doc_id"].isNull())
        .count()
    )

    zeroed = docs.withColumn(
        "w", F.when(F.col("doc_id") % 3 == 0, 0.0).otherwise(F.col("w"))
    )
    z = weighted_sample_without_replacement(zeroed, "w", k=50, seed=8)
    n_zero_in = z.filter(F.col("doc_id") % 3 == 0).count()

    heavy = docs.withColumn(
        "w", F.when(F.col("doc_id") == 7, 1e12).otherwise(F.col("w"))
    )
    n_heavy_in = (
        weighted_sample_without_replacement(heavy, "w", k=10, seed=8)
        .filter(F.col("doc_id") == 7)
        .count()
    )

    per_group = weighted_sample_without_replacement(
        docs, "w", k=5, seed=8, group_cols=["lang"]
    )
    quota_viol = (
        per_group.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("avail")),
            "lang",
        )
        .filter(F.col("n") != F.least(F.lit(5), F.col("avail")))
        .count()
    )

    return local_literal_frame(
        spark,
        [
            (
                200,
                n == 200,
                sym_diff == 0,
                n_zero_in == 0,
                n_heavy_in == 1,
                quota_viol == 0,
            )
        ],
        "k long, exact_k boolean, partition_invariant boolean, "
        "zero_weight_excluded boolean, heavy_item_selected boolean, "
        "groups_respect_quota boolean",
    )


@register(
    "bpe_train_merges",
    oracle=None,  # iterative; step 1 is SQL-pinned in bpe_train_check
    operators=("EXT-bpe", "A1", "O1", "J4"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 8 learned BPE merges over the documents corpus —
    (step, left, right, pair_count) in training order
    (extensions/bpe.py::train_bpe). Fully deterministic and
    engine-independent (weighted counts + lexicographic tie-break, no
    hashes), but ITERATIVE — each round's pair statistics depend on
    the previous round's merge, which ANSI SQL can't express without
    per-step aggregation inside recursion — so the value check is
    rows-only here; round 1 is SQL-pinned by bpe_train_check and the
    full sequence is verified against a Python reference model in
    tests/test_bpe.py."""
    from aws_imdb_data_pipeline_spark.extensions.bpe import train_bpe
    from aws_imdb_data_pipeline_spark.extensions.tokenindex import (
        token_stats,
    )

    ts = token_stats(spark, sf_dir)
    wc = ts.dfl().select("lword", "cf")  # word -> corpus frequency
    merges, _ = train_bpe(None, n_merges=8, min_count=2, word_counts=wc)
    return local_literal_frame(
        spark, merges, "step int, left string, right string, pair_count long"
    ).orderBy("step")


@register(
    "bpe_train_check",
    oracle=r"""
    WITH w AS (
        SELECT unnest(list_filter(
                   regexp_split_to_array(lower(text), '\s+'),
                   x -> x <> '')) AS word
        FROM documents
    ),
    wc AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
    ch AS (SELECT word, cnt, regexp_split_to_array(word, '') AS cs FROM wc),
    pairs AS (
        SELECT cs[i] AS l, cs[i + 1] AS r, SUM(cnt) AS total
        FROM ch, unnest(range(1, len(cs))) t(i)
        GROUP BY 1, 2
    ),
    top1 AS (
        SELECT l, r, total FROM pairs
        ORDER BY total DESC, l, r LIMIT 1
    )
    SELECT l AS step1_left, r AS step1_right,
           CAST(total AS BIGINT) AS step1_count,
           true AS deterministic,
           true AS partition_invariant,
           true AS merges_shrink_vocab
    FROM top1
    """,
    operators=("EXT-bpe", "A1", "O1"),
)
def bpe_train_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-pinned contract of the BPE trainer (checks.py pattern):
    the ROUND-1 winner (left, right, weighted count) is computed
    SQL-side by the oracle — count-weighted adjacent character pairs
    over the word vocabulary with the (count DESC, left, right)
    tie-break — and must hash-equal the engine's; plus booleans:

    - ``deterministic``: a fresh same-input rerun of the trainer (new
      dfl frame, new merge loop) emits the identical 8-merge sequence;
    - ``partition_invariant``: training straight from the
      repartition(13)'d RAW corpus (fresh tokenize, no artifact) also
      emits the identical sequence — pair counts are partitioning-free
      aggregates, the argmax tie-break has no hash dependence, and the
      artifact's vocabulary is exactly the corpus's;
    - ``merges_shrink_vocab``: total symbol count strictly decreases
      after applying the merges (each merge round collapses at least
      one adjacent pair somewhere)."""
    from aws_imdb_data_pipeline_spark.extensions.bpe import train_bpe
    from aws_imdb_data_pipeline_spark.extensions.tokenindex import (
        token_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    # artifact-served vocabulary (the shared lexical-family build)
    wc = token_stats(spark, sf_dir).dfl().select("lword", "cf")
    m1, v1 = train_bpe(None, n_merges=8, min_count=2, word_counts=wc)
    # independence check: training straight from the REPARTITIONED raw
    # corpus (fresh tokenize, no artifact) must learn the same merges
    m3, _ = train_bpe(
        docs.repartition(13), n_merges=8, min_count=2, vocab_partitions=1
    )
    # genuine same-input RERUN (fresh dfl frame, fresh merge loop) —
    # not an alias of m1, so `deterministic` can actually fail
    wc2 = token_stats(spark, sf_dir).dfl().select("lword", "cf")
    m2, _ = train_bpe(None, n_merges=8, min_count=2, word_counts=wc2)

    from aws_imdb_data_pipeline_spark.extensions.bpe import (
        word_vocabulary,
    )

    base_syms = word_vocabulary(docs).agg(
        F.sum(F.size("symbols"))
    ).collect()[0][0]
    after_syms = v1.agg(F.sum(F.size("symbols"))).collect()[0][0]

    step1 = m1[0]
    return local_literal_frame(
        spark,
        [
            (
                step1[1],
                step1[2],
                step1[3],
                m1 == m2,
                m1 == m3,
                after_syms < base_syms,
            )
        ],
        "step1_left string, step1_right string, step1_count long, "
        "deterministic boolean, partition_invariant boolean, "
        "merges_shrink_vocab boolean",
    )


@register(
    "bpe_encode_check",
    oracle=r"""
    WITH w AS (
        SELECT unnest(list_filter(
                   regexp_split_to_array(lower(text), '\s+'),
                   x -> x <> '')) AS word
        FROM documents
        WHERE doc_id < 200
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(word)) AS BIGINT) AS sum_chars,
           true AS tokens_within_bounds,
           true AS segmentation_lossless,
           true AS encode_matches_training
    FROM w
    """,
    operators=("EXT-bpe", "F1", "A1"),
)
def bpe_encode_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract of the BPE ENCODER (extensions/bpe.py::apply_bpe — all
    learned merges composed into one zero-shuffle codegen projection):

    - ``n_words`` / ``sum_chars``: oracle-computed corpus totals the
      engine must reproduce from its own tokenization;
    - ``tokens_within_bounds``: n_words <= total BPE tokens <=
      sum_chars (every merge strictly shrinks a word's token count;
      no word vanishes);
    - ``segmentation_lossless``: per document, concatenating the BPE
      tokens reproduces the concatenation of the lowercased words —
      encoding never drops or invents characters;
    - ``encode_matches_training``: encoding the corpus's DISTINCT
      WORDS with the learned merges reproduces the trainer's final
      vocabulary state symbol-for-symbol (apply ≡ replay of training,
      the property that makes the tokenizer usable on NEW text)."""
    from aws_imdb_data_pipeline_spark.extensions.bpe import (
        apply_bpe,
        train_bpe,
    )
    from aws_imdb_data_pipeline_spark.extensions.tokenindex import (
        token_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    wc = token_stats(spark, sf_dir).dfl().select("lword", "cf")
    merges, final_vocab = train_bpe(
        None, n_merges=8, min_count=2, word_counts=wc
    )

    # the per-document checks run on a FIXED slice (doc_id < 200):
    # the encoder contract is row-local (interpreted HOF folds cost
    # ~15us/word), so a bounded slice validates it identically while
    # keeping the check flat across SFs; the merges are still trained
    # on the FULL corpus vocabulary, and the encode==training check
    # below covers every distinct word
    enc = apply_bpe(docs.filter(F.col("doc_id") < 200), merges)
    words = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != ""
    )
    stats = enc.select(
        F.size(words).alias("nw"),
        F.size("bpe_tokens").alias("nt"),
        F.length(F.concat_ws("", words)).alias("nc"),
        (
            F.concat_ws("", F.col("bpe_tokens"))
            == F.concat_ws("", words)
        ).alias("lossless"),
    ).agg(
        F.sum("nw").alias("n_words"),
        F.sum("nt").alias("n_tokens"),
        F.sum("nc").alias("sum_chars"),
        F.min("lossless").alias("all_lossless"),
    ).collect()[0]

    # encode(distinct words) must equal the trainer's final state.
    # Words come from the ARTIFACT vocabulary (the exact training
    # input — no corpus re-tokenize), and both frames are
    # vocabulary-sized, so the comparison is a local dict equality,
    # not a join that would re-execute the encode subtree.
    dw = wc.select(F.col("lword").alias("word"))
    enc_words = apply_bpe(dw, merges, text_col="word", out_col="toks")
    got = {r["word"]: list(r["toks"]) for r in enc_words.collect()}
    want = {
        r["word"]: list(r["symbols"]) for r in final_vocab.collect()
    }
    mism = sum(1 for w, t in got.items() if want.get(w) != t) + len(
        set(want) - set(got)
    )

    return local_literal_frame(
        spark,
        [
            (
                stats["n_words"],
                stats["sum_chars"],
                bool(
                    stats["n_words"]
                    <= stats["n_tokens"]
                    <= stats["sum_chars"]
                ),
                bool(stats["all_lossless"]),
                mism == 0,
            )
        ],
        "n_words long, sum_chars long, tokens_within_bounds boolean, "
        "segmentation_lossless boolean, encode_matches_training boolean",
    )
