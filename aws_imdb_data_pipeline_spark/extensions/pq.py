"""Product-quantization (IVF-PQ) approximate nearest neighbor.

The missing tier between IVF (extensions/ivf.py) and brute force at
100 TB is MEMORY: raw float32 embeddings at 64 dims are 256 B/vector —
a trillion vectors don't fit anywhere warm. PQ (Jégou et al., "Product
Quantization for Nearest Neighbor Search", 2011) splits each vector
into ``m`` subspaces, k-means-quantizes each subspace independently,
and stores only the ``m`` one-byte codes: 8 B/vector here, a 32×
compression, with distances computed FROM THE CODES.

Spark mapping (all JVM-side expressions; Python appears only in the
tiny driver-side codebook):

- train: one seeded KMeans per subspace on a sample (codebooks are
  m×k×(dim/m) floats — a few KB — broadcast as literals).
- encode: argmin over k per subspace → ``__codes`` array<int>, via
  higher-order functions over a LITERAL codebook array (transform +
  zip_with/aggregate). HOFs skip whole-stage codegen but keep the
  expression tree small — the alternative (k·dim unrolled literal
  exprs) blows the janino method limit and drops the WHOLE projection
  to interpreted mode with a logged stack trace. Encode is a one-off
  build pass; trading codegen for a clean bounded plan is the right
  side of that trade.
- index artifact: the encoded corpus ``(id, vec, __list, __codes)`` is
  WRITTEN ONCE, parquet partitioned by ``__list``, with the codebooks
  + IVF centroids in a sidecar meta.json (:func:`build_pq_index`).
  Nobody retrains an ANN index per query batch at scale — queries
  read the artifact (:func:`cosine_topk_ivf_pq_from_index`), and the
  ``__list`` partitioning turns cell probing into parquet PARTITION
  PRUNING: a 4/16-cell probe reads 25% of the index files.
- query (ADC — asymmetric distance computation): per query, ONE
  m×k table of exact subspace distances (m·k·dim/m = dim·k mults);
  after that every candidate costs m ARRAY LOOKUPS + adds instead of
  a dim-length dot product — element_at chains, whole-stage codegen,
  no higher-order functions in the per-pair hot path (SCALE.md §4).
- vectors are L2-normalized before quantization, so ascending
  approximate ||q−c||² ranks identically to descending cosine; the
  final top-k is optionally REFINED with the exact cosine on raw
  vectors (touches k vectors per query, not the corpus).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.extensions.ivf import build_ivf_assignments
from aws_imdb_data_pipeline_spark.extensions.similarity import _dot, _to_double
from aws_imdb_data_pipeline_spark.lifecycle.artifacts import (
    read_json,
    write_json,
)
from aws_imdb_data_pipeline_spark.operators.localframe import local_literal_frame
from aws_imdb_data_pipeline_spark.operators.topk import top_n_per_group


def _unit(col: Column) -> Column:
    n = F.sqrt(_dot(col, col))
    return F.transform(col, lambda x: x / n)


def train_pq(
    vectors: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    fit_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Fit per-subspace codebooks on L2-normalized vectors. Returns
    ``codebooks[j][c]`` = centroid c of subspace j (driver-side, tiny:
    m·k·dim/m floats). Fit on a sample at scale (``fit_fraction``) —
    codebook quality only moves recall, never correctness."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    base = vectors.select(_unit(_to_double(vec_col)).alias("__u"))
    if fit_fraction is not None:
        base = base.sample(withReplacement=False, fraction=fit_fraction, seed=seed)
    base = base.persist()
    codebooks: list[list[list[float]]] = []
    try:
        for j in range(m):
            sl = base.select(
                array_to_vector(
                    F.slice("__u", j * sub + 1, sub)
                ).alias("features")
            )
            model = KMeans(
                k=k, seed=seed + j, maxIter=max_iter, initMode="k-means||"
            ).fit(sl)
            codebooks.append([[float(x) for x in c] for c in model.clusterCenters()])
    finally:
        base.unpersist()
    return codebooks


def _codebook_lit(codebook_j: list[list[float]]) -> Column:
    # literal array<array<double>> of the k centroids of one subspace,
    # parsed from ONE SQL string: repr() round-trips IEEE doubles
    # exactly (shortest decimal repr -> Double.parseDouble is the
    # identity), and the F.lit form cost ~k*dim py4j round-trips per
    # subspace at construction time (~1 s per PQ serve construction)
    return F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in c) + ")"
            for c in codebook_j
        )
        + ")"
    )


def _subspace_dists(sv: Column, codebook_j: list[list[float]]) -> Column:
    """array of ||sv - c||² over the k centroids of one subspace —
    HOF form: small expression tree regardless of k·dim (vs an
    unrolled-literal form that trips the janino method-size limit and
    drops the projection to interpreted mode)."""
    return F.transform(
        _codebook_lit(codebook_j),
        lambda c: F.aggregate(
            F.zip_with(sv, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    out_col: str = "__codes",
    impl: str = "pandas",
) -> DataFrame:
    """Assign every vector its m sub-codes (argmin centroid per
    subspace, ties → lowest code).

    ``impl="pandas"`` (default): Arrow-batched numpy kernel — the
    argmin over k centroids per subspace is a (batch × k) matrix
    expression, exactly the shape where a vectorized Pandas UDF beats
    SQL expressions. Measured at 200k×64-dim:
    the SQL forms are either interpreted (HOF: ~490 s build) or a
    janino-limit codegen fallback (unrolled literals); the numpy
    kernel does the same pass in a fraction of that (SCALE.md §11).
    Encode is the corpus-sized build pass, so this is the one PQ
    stage where Python-with-Arrow is the right tool.

    ``impl="sql"``: pure-JVM higher-order-function form, kept for
    Arrow-less environments and as the cross-check oracle for the
    kernel (tests assert identical codes)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if impl == "sql":
        u = _unit(_to_double(vec_col))
        codes = []
        for j in range(m):
            dists = _subspace_dists(F.slice(u, j * sub + 1, sub), codebooks[j])
            codes.append(
                (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
            )
        return df.withColumn(out_col, F.array(*codes))

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    # (k, sub) centroid matrix per subspace, broadcast via closure
    cbs = [np.asarray(codebooks[j], dtype=np.float64) for j in range(m)]

    @pandas_udf(ArrayType(IntegerType()))
    def _enc(vs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        # L2-normalize with the same scalar formula as the SQL path
        # (x / sqrt(x·x)) so both impls see identical inputs
        norms = np.sqrt((x * x).sum(axis=1, keepdims=True))
        x = x / norms
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            s = x[:, j * sub : (j + 1) * sub]  # (B, sub)
            diff = s[:, None, :] - cbs[j][None, :, :]  # (B, k, sub)
            d = (diff * diff).sum(axis=2)  # (B, k)
            codes[:, j] = d.argmin(axis=1)  # first min == lowest code
        return pd.Series(list(codes))

    return df.withColumn(out_col, _enc(_to_double(vec_col)))


# ---------------------------------------------------------------------------
# Index artifact: build once, serve many
# ---------------------------------------------------------------------------
def build_pq_index(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    path: str,
    m: int = 8,
    pq_k: int = 16,
    n_lists: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    fit_fraction: float | None = None,
    fingerprint: str | None = None,
) -> dict:
    """Train + encode ONCE and persist the index as a lake artifact:
    ``{path}/vectors`` = parquet (id, vec, __list, __codes)
    partitioned by ``__list`` (probing becomes partition pruning), and
    ``{path}/meta.json`` = codebooks + IVF centroids + params +
    an optional source ``fingerprint`` for staleness checks. Returns
    the meta dict. At 100 TB this is the one corpus-sized pass; every
    query batch after it reads codes, never raw training state."""
    codebooks = train_pq(
        candidates, vec_col, dim, m, pq_k, seed, max_iter, fit_fraction
    )
    assigned, centers = build_ivf_assignments(
        candidates, id_col, vec_col, n_lists, seed, max_iter, fit_fraction
    )
    encoded = pq_encode(assigned, "__arr", codebooks).select(
        F.col(id_col).alias("id"),
        F.col("__arr").alias("vec"),
        "__codes",
        "__list",
    )
    # compact cell dirs without capping the write at the cell count:
    # the serve path scans probed cells (each sliver file is an extra
    # scan + Python-boundary task), but a bare repartition("__list")
    # funnels the corpus through <= n_lists tasks at scale (r14
    # verdict #2) — spread_by_partition keeps both properties
    from aws_imdb_data_pipeline_spark.sources.lake import spread_by_partition

    spread_by_partition(encoded, "__list", "id", n_lists).write.mode(
        "overwrite"
    ).partitionBy("__list").parquet(os.path.join(path, "vectors"))
    assigned.unpersist()
    meta = {
        "dim": dim,
        "m": m,
        "pq_k": pq_k,
        "n_lists": n_lists,
        "seed": seed,
        "id_col": id_col,
        "codebooks": codebooks,
        "centers": centers,
        "fingerprint": fingerprint,
        # serving reads this to scale its re-rank shortlist with the
        # corpus (see cosine_topk_ivf_pq_from_index); metadata-only
        # count, free at build time
        "n_vectors": candidates.count(),
    }
    write_json(os.path.join(path, "meta.json"), meta)
    return meta


def load_pq_index(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    meta = read_pq_index_meta(path)
    if meta is None:
        raise FileNotFoundError(f"no readable PQ index meta under {path}")
    return spark.read.parquet(os.path.join(path, "vectors")), meta


def read_pq_index_meta(path: str) -> dict | None:
    """meta.json if the index at ``path`` exists and is readable
    (None otherwise) — the staleness probe for ensure-style callers."""
    return read_json(os.path.join(path, "meta.json"))


def _serve(
    queries: DataFrame,
    cand: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    centers: list[list[float]],
    dim: int,
    k: int,
    n_probe: int,
    refine: bool,
    refine_factor: int,
    round_to: int | None,
    prune_lists: bool = False,
) -> DataFrame:
    """Shared IVF-PQ serving plan. ``cand`` must carry columns
    (neighbor_id, __cv raw vec, __list, __codes).

    ``prune_lists=True`` additionally collects the ≤ n_lists DISTINCT
    probed cell ids (a plan-time decision bounded by the index's list
    count, not by data size — the same move FAISS makes) and applies
    them as an ``isin`` filter, so a ``__list``-partitioned parquet
    index scans only the probed partitions."""
    spark = cand.sparkSession
    m = len(codebooks)
    sub = dim // m

    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(vec_col).alias("__qv")
    ).withColumn("__qu", _unit(F.col("__qv")))

    if prune_lists:
        # Fully driver-side probe (r15, completing r14 verdict #9):
        # collect the QUERY BATCH once — queries rows of (id, vec,
        # unit vec), bounded by the serve contract — then rank cells
        # and build the ADC tables in plain Python. probe_cells_py /
        # _sqdist_py reproduce the HOF folds bit-exactly (same IEEE
        # binary64 ops, same left-fold order; the ADC table T[j][c] is
        # the same ||slice(qu) - c||² fold _subspace_dists evaluates),
        # pinned by test_pq_python_probe_matches_spark_probe. The
        # collected __qu carries Spark's own normalize, so no float op
        # is re-derived for it. Replaces the probe sub-job (centroid
        # literal build + cross join + window + ADC projection) with a
        # scan-and-collect of the query batch.
        from aws_imdb_data_pipeline_spark.extensions.ivf import (
            _sqdist_py,
            probe_cells_py,
        )

        qrows = [
            (r["query_id"], (r["__qv"], r["__qu"])) for r in q.collect()
        ]
        probe = probe_cells_py(
            [(qid, qv) for qid, (qv, _qu) in qrows], centers, n_probe
        )
        tables = {
            qid: [
                [
                    _sqdist_py(qu[j * sub : (j + 1) * sub], c)
                    for c in codebooks[j]
                ]
                for j in range(m)
            ]
            for qid, (_qv, qu) in qrows
        }
        rows = [
            (qid, qv, i, tables[qid])
            for qid, qv, cells in probe
            for i in cells
        ]
        lists = sorted({r[2] for r in rows})
        cand = cand.filter(F.col("__list").isin(lists))
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        # schema identical to the Spark probe frame's: query_id/__qv
        # carry q's own fields, __list is the centroids literal
        # frame's nullable bigint, __T is the F.array-of-transform
        # result (nullable, non-null containers)
        probed = local_literal_frame(
            spark,
            rows,
            StructType([
                q.schema["query_id"],
                q.schema["__qv"],
                StructField("__list", LongType(), True),
                StructField(
                    "__T",
                    ArrayType(ArrayType(DoubleType(), False), False),
                    False,
                ),
            ]),
        )
    else:
        # literal plan, not a Python-RDD scan: this frame is rebuilt
        # under a broadcast on every serve call, and createDataFrame's
        # 32-slice pickled RDD costs a Python worker round-trip per
        # slice (operators/localframe.py; measured 0.6-1.1 s -> 0.33 s
        # per build)
        centroids = local_literal_frame(
            spark,
            [(i, c) for i, c in enumerate(centers)],
            "__list bigint, __centroid array<double>",
        )
        # stage 1: probe the n_probe nearest cells per query
        qc = q.crossJoin(F.broadcast(centroids))
        cell_d = F.aggregate(
            F.zip_with("__qv", "__centroid", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        probed = top_n_per_group(
            qc.select(
                "query_id", "__qv", "__qu", "__list", cell_d.alias("__d")
            ),
            partition_by=["query_id"],
            order_by=[F.col("__d"), F.col("__list")],
            n=n_probe,
        )

        # stage 2: per-query ADC tables T[j][c] (computed ONCE per
        # query; HOF form — tiny per-query cost, bounded expression
        # tree)
        table = F.array(
            *[
                _subspace_dists(
                    F.slice("__qu", j * sub + 1, sub), codebooks[j]
                )
                for j in range(m)
            ]
        )
        probed = probed.select(
            "query_id", "__qv", "__list", table.alias("__T")
        )

    # stage 3: candidates in probed cells, scored by m lookups each
    # (element_at chains — small, stays inside whole-stage codegen)
    joined = cand.join(F.broadcast(probed), "__list").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    approx = None
    for j in range(m):
        term = F.element_at(
            F.element_at("__T", j + 1),
            F.element_at("__codes", j + 1) + 1,
        )
        approx = term if approx is None else approx + term
    scored = joined.select(
        "query_id", "__qv", "__cv", "neighbor_id", approx.alias("__ad")
    )
    shortlist = top_n_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.col("__ad"), F.col("neighbor_id")],
        n=(refine_factor * k) if refine else k,
    )

    if refine:
        qn = F.sqrt(_dot(F.col("__qv"), F.col("__qv")))
        cn = F.sqrt(_dot(F.col("__cv"), F.col("__cv")))
        cos = F.round(
            _dot(F.col("__qv"), F.col("__cv")) / (qn * cn), round_to
        ) if round_to is not None else (
            _dot(F.col("__qv"), F.col("__cv")) / (qn * cn)
        )
        rescored = shortlist.select(
            "query_id", "neighbor_id", cos.alias("cosine")
        )
        out = top_n_per_group(
            rescored,
            partition_by=["query_id"],
            order_by=[F.desc("cosine"), F.col("neighbor_id")],
            n=k,
        )
    else:
        cos = 1.0 - F.col("__ad") / 2.0
        if round_to is not None:
            cos = F.round(cos, round_to)
        out = shortlist.select("query_id", "neighbor_id", cos.alias("cosine"))
    return out


def cosine_topk_ivf_pq_from_index(
    queries: DataFrame,
    spark: SparkSession,
    path: str,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_probe: int = 4,
    refine: bool = True,
    refine_factor: int = 4,
    round_to: int | None = 4,
    auto_scale: bool = True,
    scale_baseline: int = 2000,
) -> DataFrame:
    """Serve IVF-PQ top-k from a :func:`build_pq_index` artifact — no
    training, no encoding: read codes from the probed ``__list``
    partitions, ADC-score, exact-cosine re-rank the shortlist.

    ``auto_scale`` (default on) grows the exact-re-rank shortlist
    linearly with the indexed corpus: with 4-bit-per-sub ADC noise on
    weakly-structured vectors, the number of candidates whose
    ESTIMATED score beats the true top-k grows ~linearly in N, so a
    fixed ``refine_factor*k`` shortlist that gives 0.3-0.6 recall at
    2k vectors decays below any floor by 20k (the round-11 sf1 sweep
    caught exactly this: recall_ge_floor flipped false at 10x). The
    effective factor is ``refine_factor * max(1, N / scale_baseline)``
    — identical at every shipped sf (N <= baseline), linear above.
    Re-rank cost stays negligible (shortlist*dim mults per query); at
    the scale where it wouldn't, the right knob is more code bits,
    not a wider shortlist. N comes from the index meta (older indexes
    without it: one metadata-only parquet count)."""
    index_df, meta = load_pq_index(spark, path)
    if auto_scale:
        n_vec = meta.get("n_vectors") or index_df.count()
        refine_factor = refine_factor * max(
            1, (n_vec + scale_baseline - 1) // scale_baseline
        )
    cand = index_df.select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("__cv"),
        "__list",
        "__codes",
    )
    return _serve(
        queries,
        cand,
        id_col,
        vec_col,
        meta["codebooks"],
        meta["centers"],
        meta["dim"],
        k,
        n_probe,
        refine,
        refine_factor,
        round_to,
        prune_lists=True,
    )


def cosine_topk_ivf_pq(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    seed: int = 42,
    refine: bool = True,
    refine_factor: int = 4,
    round_to: int | None = 4,
    fit_fraction: float | None = None,
) -> DataFrame:
    """IVF-PQ top-k with an IN-MEMORY build (train + encode + serve in
    one call) — the test/verification path; production serves from a
    persisted :func:`build_pq_index` artifact instead.

    IVF cells prune the corpus, PQ codes shortlist ``refine_factor``·k
    survivors per query, exact cosine re-ranks the shortlist down to k
    (the canonical re-ranking step — PQ's code distance is too coarse
    to order the final handful, but excellent at discarding the 99%
    that can't be close; raw vectors are read for only
    refine_factor·k candidates per query).

    (query_id, neighbor_id, cosine) — cosine is exact when ``refine``
    (the production setting), else the PQ-approximate 1 − d²/2 of the
    top-k by code distance alone."""
    codebooks = train_pq(
        candidates, vec_col, dim, m, pq_k, seed, fit_fraction=fit_fraction
    )
    assigned, centers = build_ivf_assignments(
        candidates, id_col, vec_col, n_lists, seed, fit_fraction=fit_fraction
    )
    cand = pq_encode(assigned, "__arr", codebooks).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__arr").alias("__cv"),
        "__list",
        "__codes",
    )
    return _serve(
        queries,
        cand,
        id_col,
        vec_col,
        codebooks,
        centers,
        dim,
        k,
        n_probe,
        refine,
        refine_factor,
        round_to,
    )
