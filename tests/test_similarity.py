"""Similarity search: brute-force cosine top-k and sign-LSH buckets."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.extensions import cosine_topk, with_norm
from aws_imdb_data_pipeline_spark.extensions.similarity import (
    random_hyperplane_buckets,
)


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.5, 0.5, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_with_norm(spark):
    out = {r.vec_id: r.norm for r in with_norm(_vecs(spark), "embedding").collect()}
    assert abs(out[0] - 1.0) < 1e-9
    assert abs(out[4] - math.sqrt(0.5)) < 1e-9


def test_cosine_topk_ordering(spark):
    vecs = _vecs(spark)
    out = cosine_topk(
        vecs.filter("vec_id = 0"), vecs, "vec_id", "embedding", k=4
    ).collect()
    order = [r.neighbor_id for r in out]
    assert order[0] == 1  # most similar
    assert order[-1] == 3  # opposite vector last
    scores = {r.neighbor_id: r.cosine for r in out}
    assert scores[3] == -1.0 and scores[2] == 0.0


def test_cosine_topk_excludes_self(spark):
    vecs = _vecs(spark)
    out = cosine_topk(vecs, vecs, "vec_id", "embedding", k=10).collect()
    assert all(r.neighbor_id != r.query_id for r in out)


def test_hyperplane_buckets_deterministic_and_similar_collide(spark):
    vecs = _vecs(spark)
    b1 = {
        r.vec_id: r.lsh_bucket
        for r in random_hyperplane_buckets(vecs, "embedding", dim=3, n_planes=8).collect()
    }
    b2 = {
        r.vec_id: r.lsh_bucket
        for r in random_hyperplane_buckets(vecs, "embedding", dim=3, n_planes=8).collect()
    }
    assert b1 == b2  # seeded planes → deterministic
    assert b1[0] == b1[1]  # near-identical vectors share a bucket
    assert b1[0] != b1[3]  # opposite vectors never share (all signs flip)


def test_embedding_near_dup_pairs(spark):
    from aws_imdb_data_pipeline_spark.extensions import embedding_near_dup_pairs

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.999, 0.01]),  # cosine ~1 with 0
            (2, [0.0, 1.0]),     # orthogonal
            (3, [0.7, 0.7]),     # cos 0.707 with both axes
        ],
        ["vec_id", "embedding"],
    )
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(vecs, "vec_id", "embedding", 0.7).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 3) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert (0, 2) not in pairs  # orthogonal below threshold


def test_embedding_near_dup_pairs_stream_width(spark):
    """``widen_stream`` widens only the STREAM leg of the cross join:
    the broadcast build leg must not pay a round-robin exchange just
    to be collected into one relation (the waste of repartitioning
    the shared input: an exchange under BOTH legs). Plan fact: one
    RoundRobinPartitioning exchange exactly, on the stream side of a
    narrow (single-partition) input; the pair set is identical to the
    unwidened form."""
    from aws_imdb_data_pipeline_spark.extensions import embedding_near_dup_pairs

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)],
        ["vec_id", "embedding"],
    ).coalesce(1)
    wide = embedding_near_dup_pairs(
        vecs, "vec_id", "embedding", 0.9, widen_stream=True
    )
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1
    plain = embedding_near_dup_pairs(vecs, "vec_id", "embedding", 0.9)
    assert "RoundRobinPartitioning" not in (
        plain._jdf.queryExecution().executedPlan().toString()
    )
    as_set = lambda df: {(r.id_a, r.id_b, r.cosine) for r in df.collect()}  # noqa: E731
    assert as_set(wide) == as_set(plain)


def test_auto_lsh_params_regimes():
    from aws_imdb_data_pipeline_spark.extensions import auto_lsh_params

    # hard regime (threshold 0.4): planes grow with corpus size,
    # saturating under the band cap
    p500 = auto_lsh_params(500, 0.4)
    p2k = auto_lsh_params(2000, 0.4)
    assert p500 == (7, 57) and p2k == (9, 145)
    # easy regime (real near-dup thresholds): far more buckets for far
    # fewer bands -> orders-of-magnitude fewer candidates
    planes_hi, bands_hi = auto_lsh_params(10**6, 0.8)
    assert planes_hi >= 15 and bands_hi <= 256


def test_lsh_band_buckets_deterministic_and_shape(spark):
    from aws_imdb_data_pipeline_spark.extensions import lsh_band_buckets

    vecs = _vecs(spark)
    rows1 = sorted(
        (r.vec_id, r.band, r.bucket)
        for r in lsh_band_buckets(vecs, "vec_id", "embedding", 3, 4, 6).collect()
    )
    rows2 = sorted(
        (r.vec_id, r.band, r.bucket)
        for r in lsh_band_buckets(vecs, "vec_id", "embedding", 3, 4, 6).collect()
    )
    assert rows1 == rows2  # seeded bank → deterministic
    assert len(rows1) == 5 * 6  # one row per (vector, band)
    buckets = {(v, b): x for v, b, x in rows1}
    # near-identical vectors agree in every band; opposite vectors never
    for b in range(6):
        assert buckets[(0, b)] == buckets[(1, b)]
        assert buckets[(0, b)] != buckets[(3, b)]


def test_cosine_topk_lsh_structural_and_recall(spark, sf_dir):
    from aws_imdb_data_pipeline_spark.extensions import cosine_topk, cosine_topk_lsh
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 20")
    truth = cosine_topk(q, emb, "vec_id", "embedding", k=5)
    approx = cosine_topk_lsh(q, emb, "vec_id", "embedding", dim=64, k=5)
    tpairs = {(r.query_id, r.neighbor_id): r.cosine for r in truth.collect()}
    apairs = {(r.query_id, r.neighbor_id): r.cosine for r in approx.collect()}
    # scores must agree exactly where both report a pair
    for pair, cos in apairs.items():
        if pair in tpairs:
            assert abs(cos - tpairs[pair]) < 1e-9
    # deterministic seeded banks + fixed corpus → recall is fixed.
    # The analytic guarantee holds at the design threshold (0.4);
    # true neighbors below it can be missed more often, so assert a
    # looser overall floor plus the at-threshold guarantee.
    recall = len(set(apairs) & set(tpairs)) / len(tpairs)
    assert recall >= 0.8
    strong = {p for p, cos in tpairs.items() if cos >= 0.4}
    strong_recall = len(strong & set(apairs)) / len(strong)
    assert strong_recall >= 0.9
    assert all(a != b for (a, b) in apairs)  # never self-matches


def test_embedding_near_dup_lsh_recall_precision_and_subquadratic(spark, sf_dir):
    """The LSH-bucketed near-dup must be a strict subset of the brute
    pairs (exact-cosine verify → no false positives) with high recall
    on the planted near-dup corpus, AND its candidate generation must
    examine far fewer pairs than the N^2/2 brute force — the property
    that makes it the scale path."""
    from aws_imdb_data_pipeline_spark.extensions import (
        auto_lsh_params,
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
        lsh_candidate_pairs_embedding,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    truth = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs_lsh(
            emb, "vec_id", "embedding", dim=64, threshold=0.4
        ).collect()
    }
    assert set(approx) <= set(truth)  # may miss, must never invent
    for pair, cos in approx.items():
        assert abs(cos - truth[pair]) < 1e-9  # same exact cosine
    # seeded banks + fixed corpus → recall is deterministic; analytic
    # target is 0.9 at cos exactly 0.4 (measured 0.95 at sf0.001)
    assert len(approx) / len(truth) >= 0.85
    # sub-quadratic candidates: the verify stage must see well under
    # half of brute force even at threshold 0.4 (the hardest regime —
    # see auto_lsh_params docstring); measured 0.38x at N=500
    planes, bands = auto_lsh_params(n, 0.4)
    n_cand = lsh_candidate_pairs_embedding(
        emb, "vec_id", "embedding", 64, planes, bands
    ).count()
    assert n_cand <= 0.45 * n * (n - 1) / 2


def test_embedding_near_dup_scale_exact_and_subquadratic(spark, sf_dir):
    """The canonical scale query (threshold 0.8 over the augmented
    corpus) must reproduce brute force EXACTLY — precision and recall
    both 1 (every planted pair at cosine ≈ 0.89+ collides in >= 1 band
    with the production seed; background tops out at 0.60) — and its
    candidate set must be a small, shrinking fraction of brute: the
    asymptotic behavior the 0.4-threshold stress query can't show."""
    from aws_imdb_data_pipeline_spark.extensions import (
        auto_lsh_params,
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
        lsh_candidate_pairs_embedding,
    )
    from aws_imdb_data_pipeline_spark.extensions.similarity import (
        augment_with_near_dups,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    aug = augment_with_near_dups(emb, "vec_id", "embedding")
    n = aug.count()
    truth = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(
            aug, "vec_id", "embedding", threshold=0.8
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs_lsh(
            aug, "vec_id", "embedding", dim=64, threshold=0.8
        ).collect()
    }
    assert approx == truth  # exact: no misses, no inventions
    assert len(truth) == emb.count() // 10  # one pair per planted dup
    # sub-quadratic: candidates under 10% of brute at this threshold
    # (measured 4.0% at N=550, 1.8% at N=2200 — ratio falls with N)
    planes, bands = auto_lsh_params(n, 0.8)
    n_cand = lsh_candidate_pairs_embedding(
        aug, "vec_id", "embedding", 64, planes, bands
    ).count()
    assert n_cand <= 0.10 * n * (n - 1) / 2


def test_cosine_topk_ivf_recall_and_scores(spark, sf_dir):
    from aws_imdb_data_pipeline_spark.extensions import cosine_topk, cosine_topk_ivf
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 20")
    truth = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(q, emb, "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk_ivf(
            q, emb, "vec_id", "embedding", k=5, n_lists=16, n_probe=4
        ).collect()
    }
    # scores agree exactly where both report a pair
    for pair, cos in approx.items():
        if pair in truth:
            assert abs(cos - truth[pair]) < 1e-9
    # seeded kmeans is deterministic per parallelism level, but the
    # centroids (and thus recall) shift with partition count —
    # observed 0.64 @ local[8], 0.77 @ local[32]; assert the floor
    recall = len(set(approx) & set(truth)) / len(truth)
    assert recall >= 0.55


def test_embedding_cluster_sizes_partition_property(spark, sf_dir):
    """k-means cell occupancy is a partition of the corpus: sizes sum
    to N, every cell non-negative, deterministic across runs."""
    from aws_imdb_data_pipeline_spark.plans import REGISTRY

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    r1 = {r.cluster_id: r.n_vectors
          for r in REGISTRY["embedding_cluster_sizes"].fn(spark, sf_dir).collect()}
    assert sum(r1.values()) == n
    assert all(v >= 0 for v in r1.values())
    r2 = {r.cluster_id: r.n_vectors
          for r in REGISTRY["embedding_cluster_sizes"].fn(spark, sf_dir).collect()}
    assert r1 == r2


def test_cosine_topk_ivf_pq_recall_and_refined_scores(spark, sf_dir):
    """IVF-PQ: refined scores are the exact cosine wherever the pair is
    also in brute-force truth, recall clears a floor, and the codes
    actually compress (m small ints per vector)."""
    from aws_imdb_data_pipeline_spark.extensions import cosine_topk
    from aws_imdb_data_pipeline_spark.extensions.pq import (
        cosine_topk_ivf_pq,
        pq_encode,
        train_pq,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 20")
    truth = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(q, emb, "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk_ivf_pq(
            q, emb, "vec_id", "embedding", dim=64,
            k=5, n_lists=16, n_probe=4, m=8, pq_k=16, refine_factor=8,
        ).collect()
    }
    for pair, cos in approx.items():
        if pair in truth:
            assert abs(cos - truth[pair]) < 1e-9
    recall = len(set(approx) & set(truth)) / len(truth)
    # PQ ranks within the probed cells; floor below plain IVF's because
    # code distances are approximate
    assert recall >= 0.45, recall

    codebooks = train_pq(emb, "embedding", dim=64, m=8, k=16)
    assert len(codebooks) == 8 and len(codebooks[0]) == 16
    assert len(codebooks[0][0]) == 8
    codes = pq_encode(emb, "embedding", codebooks).select("__codes").collect()
    assert all(len(r["__codes"]) == 8 for r in codes)
    assert all(0 <= c <= 15 for r in codes for c in r["__codes"])


def test_pq_adc_identifies_planted_twin(spark):
    """A vector's near-copy must be its PQ top-1: the ADC lookup path
    (element_at chains) returns the planted twin for every query."""
    import random

    from aws_imdb_data_pipeline_spark.extensions.pq import cosine_topk_ivf_pq

    rng = random.Random(3)
    rows = []
    for i in range(200):
        v = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, v))
        rows.append((i + 1000, [x + rng.gauss(0, 0.01) for x in v]))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = vecs.filter("vec_id < 20")
    out = cosine_topk_ivf_pq(
        q, vecs, "vec_id", "embedding", dim=16,
        k=1, n_lists=4, n_probe=2, m=4, pq_k=16,
    ).collect()
    hits = sum(1 for r in out if r.neighbor_id == r.query_id + 1000)
    assert hits >= 18, hits  # twins share a cell ~always at this noise


def test_pq_index_artifact_roundtrip(spark, sf_dir, tmp_path):
    """build_pq_index -> cosine_topk_ivf_pq_from_index returns exactly
    what the in-memory path returns for the same params (same seeds,
    same codebooks -> same shortlist, same refined cosines), and the
    artifact has the promised layout (__list-partitioned parquet +
    codebook sidecar)."""
    import os

    from aws_imdb_data_pipeline_spark.extensions.pq import (
        build_pq_index,
        cosine_topk_ivf_pq,
        cosine_topk_ivf_pq_from_index,
        load_pq_index,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 5")
    path = str(tmp_path / "pq")
    meta = build_pq_index(emb, "vec_id", "embedding", dim=64, path=path,
                          m=8, pq_k=16, n_lists=16, fingerprint="t1")
    assert len(meta["codebooks"]) == 8 and len(meta["centers"]) == 16
    # __list partitioning on disk -> probe becomes partition pruning
    parts = [d for d in os.listdir(os.path.join(path, "vectors"))
             if d.startswith("__list=")]
    assert len(parts) > 1

    served = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk_ivf_pq_from_index(
            q, spark, path, "vec_id", "embedding", k=5, n_probe=4,
            refine_factor=8,
        ).collect()
    }
    inmem = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk_ivf_pq(
            q, emb, "vec_id", "embedding", dim=64, k=5, n_lists=16,
            n_probe=4, m=8, pq_k=16, refine_factor=8,
        ).collect()
    }
    assert served == inmem

    df, meta2 = load_pq_index(spark, path)
    assert meta2["fingerprint"] == "t1"
    assert df.count() == emb.count()
    assert set(df.columns) == {"id", "vec", "__codes", "__list"}


def test_ensure_pq_index_staleness(spark, sf_dir, monkeypatch, tmp_path):
    """ensure_pq_index builds once, then fingerprint-hits without a
    rebuild; a changed fingerprint (different params/source) rebuilds."""
    from aws_imdb_data_pipeline_spark.plans import extensions as ext

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
    p1, rebuilt1 = ext.ensure_pq_index(spark, sf_dir)
    assert rebuilt1
    p2, rebuilt2 = ext.ensure_pq_index(spark, sf_dir)
    assert p1 == p2 and not rebuilt2
    # corrupt the stored fingerprint -> next ensure rebuilds
    import json
    import os

    mp = os.path.join(p1, "meta.json")
    with open(mp) as f:
        m = json.load(f)
    m["fingerprint"] = "stale"
    with open(mp, "w") as f:
        json.dump(m, f)
    _, rebuilt3 = ext.ensure_pq_index(spark, sf_dir)
    assert rebuilt3


def test_pq_encode_pandas_matches_sql(spark, sf_dir):
    """The Arrow/numpy encode kernel (build fast path) must produce
    EXACTLY the codes of the pure-JVM SQL form — same normalization
    formula, same argmin tie rule (first/lowest index)."""
    from aws_imdb_data_pipeline_spark.extensions.pq import pq_encode, train_pq
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq(emb, "embedding", 64, 8, 16)
    a = {
        r["vec_id"]: list(r["__codes"])
        for r in pq_encode(emb, "embedding", books, impl="pandas")
        .select("vec_id", "__codes").collect()
    }
    b = {
        r["vec_id"]: list(r["__codes"])
        for r in pq_encode(emb, "embedding", books, impl="sql")
        .select("vec_id", "__codes").collect()
    }
    assert a == b


def test_semantic_dedup_planted_twins(spark):
    """Planted near-copies collapse to one survivor per group (the min
    id), singletons survive labeled by themselves, components equal
    the min of their members, and the result is deterministic."""
    import random

    from aws_imdb_data_pipeline_spark.extensions.similarity import (
        semantic_dedup,
    )

    rng = random.Random(11)
    rows = []
    for i in range(150):
        v = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, v))
        rows.append((i + 1000, [x + rng.gauss(0, 0.005) for x in v]))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semantic_dedup(
        vecs, "vec_id", "embedding", threshold=0.98, n_lists=4
    )
    by_id = {r.id: (r.component, r.is_survivor) for r in out.collect()}
    assert len(by_id) == 300
    # most twins share a cell and collapse: expect >= 90% of pairs
    collapsed = sum(
        1 for i in range(150)
        if by_id[i + 1000][0] == i and by_id[i][1] and not by_id[i + 1000][1]
    )
    assert collapsed >= 135, collapsed
    # survivor invariants hold for every group
    comps = {}
    for id_, (comp, surv) in by_id.items():
        comps.setdefault(comp, []).append((id_, surv))
    for comp, members in comps.items():
        assert comp == min(m for m, _ in members)
        assert sum(1 for _, s in members if s) == 1
    # determinism
    again = {
        r.id: (r.component, r.is_survivor)
        for r in semantic_dedup(
            vecs, "vec_id", "embedding", threshold=0.98, n_lists=4
        ).collect()
    }
    assert again == by_id


def test_semantic_dedup_salt_invariant(spark, monkeypatch):
    """The per-cell self-join salt (chunked probe side, replicated
    build side) is a pure parallelism change: any chunk count yields
    the identical (id, component, is_survivor) set as the unsalted
    plan, because each (x, y) pair still meets exactly once (at x's
    chunk) and the per-pair cosine arithmetic is untouched."""
    import random

    from aws_imdb_data_pipeline_spark.extensions.similarity import (
        semantic_dedup,
    )

    rng = random.Random(7)
    rows = []
    for i in range(120):
        v = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, v))
        rows.append((i + 1000, [x + rng.gauss(0, 0.005) for x in v]))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def run(n_rows: int):
        # the chunk count is ceil((n_rows / n_lists)^2 / 2 / 20k): the
        # row estimate 240 gives 1 chunk, 1300 gives 3, 2200 gives 8
        return {
            r.id: (r.component, r.is_survivor)
            for r in semantic_dedup(
                vecs, "vec_id", "embedding", threshold=0.98, n_lists=4,
                n_rows=n_rows,
            ).collect()
        }

    unsalted = run(240)
    assert len(unsalted) == 240
    for n_rows in (1300, 2200):
        assert run(n_rows) == unsalted


def test_cluster_balanced_sample_cap_and_determinism(spark, sf_dir):
    """Every cell is capped (n_after == min(n_before, cap)), kept ids
    are a subset of the cell's members, and the sample is identical
    across runs (hash-ranked, not rand())."""
    from aws_imdb_data_pipeline_spark.extensions.ivf import (
        build_ivf_assignments,
    )
    from aws_imdb_data_pipeline_spark.extensions.similarity import (
        cluster_balanced_sample,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cap = 15
    kept1 = {
        (r["id"], r["__list"])
        for r in cluster_balanced_sample(
            emb, "vec_id", "embedding", cap, n_lists=8
        ).collect()
    }
    kept2 = {
        (r["id"], r["__list"])
        for r in cluster_balanced_sample(
            emb, "vec_id", "embedding", cap, n_lists=8
        ).collect()
    }
    assert kept1 == kept2
    assigned, _ = build_ivf_assignments(emb, "vec_id", "embedding", 8, 42)
    cells = {}
    for r in assigned.collect():
        cells.setdefault(r["__list"], set()).add(r["vec_id"])
    assigned.unpersist()
    per_cell = {}
    for id_, cell in kept1:
        per_cell.setdefault(cell, set()).add(id_)
        assert id_ in cells[cell]
    for cell, members in cells.items():
        assert len(per_cell.get(cell, set())) == min(len(members), cap)


def test_assign_to_centroids_matches_mllib_transform(spark, sf_dir):
    """Frozen-centroid argmin assignment (the incremental IVF path)
    must agree with MLlib's own transform on the same centers; any
    disagreement is only admissible on an exact distance tie (which
    array_position breaks to the lowest list id)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from aws_imdb_data_pipeline_spark.extensions.ivf import (
        assign_to_centroids,
    )
    from aws_imdb_data_pipeline_spark.extensions.similarity import _to_double

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        "vec_id", _to_double("embedding").alias("__arr")
    ).withColumn("__vec", array_to_vector("__arr"))
    model = KMeans(
        k=8, seed=7, featuresCol="__vec", maxIter=5
    ).fit(base)
    centers = [c.tolist() for c in model.clusterCenters()]

    want = {
        r.vec_id: r.prediction for r in model.transform(base).collect()
    }
    got_rows = assign_to_centroids(
        emb, "vec_id", "embedding", centers
    ).collect()
    import math

    for r in got_rows:
        if r["__list"] != want[r.vec_id]:
            d_got = math.fsum(
                (x - c) ** 2 for x, c in zip(r["__arr"], centers[r["__list"]])
            )
            d_want = math.fsum(
                (x - c) ** 2
                for x, c in zip(r["__arr"], centers[want[r.vec_id]])
            )
            assert abs(d_got - d_want) < 1e-9, (
                f"vec {r.vec_id}: {r['__list']} vs {want[r.vec_id]} "
                f"not a tie ({d_got} vs {d_want})"
            )


def test_ivf_append_roundtrip_and_serving(spark, sf_dir, tmp_path):
    """ivf_append lands the batch in the artifact's partition layout;
    the loaded union serves the appended vectors (a query AT an
    appended vector returns it as its own top hit with cosine 1.0)."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.ivf import (
        build_ivf_index,
        cosine_topk_ivf,
        ivf_append,
        load_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    path = str(tmp_path / "ivf")
    meta = build_ivf_index(base, "vec_id", "embedding", path)
    ivf_append(batch, path, meta, "vec_id", "embedding")

    union = load_ivf_index(spark, path, "vec_id")
    assert union.count() == emb.count()
    assert union.filter(F.col("__list").isNull()).count() == 0

    probe = batch.limit(3)
    hits = cosine_topk_ivf(
        probe, emb, "vec_id", "embedding", k=1,
        assignments=union, centers=meta["centers"],
    ).collect()
    # cosine_topk excludes self-pairs; instead assert every probed
    # appended vector produced a served hit from the unioned index
    assert {r.query_id for r in hits} == {
        r.vec_id for r in probe.collect()
    }


def test_ivf_append_crash_leaves_no_committed_batch(spark, sf_dir, tmp_path):
    """ivf_append commits via the atomic _appends.json marker: an
    uncommitted staging dir (= a crash mid-append) is never read, so a
    partial append is invisible rather than indistinguishable from a
    complete one (round-11 advice); a second committed append lands as
    its own batch and both serve."""
    import os

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.ivf import (
        build_ivf_index,
        ivf_append,
        load_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)
    path = str(tmp_path / "ivf")
    meta = build_ivf_index(base, "vec_id", "embedding", path)

    # simulate a crash: batch data fully landed but marker never moved
    from aws_imdb_data_pipeline_spark.extensions.ivf import (
        _read_appends_marker,
        assign_to_centroids,
    )

    assign_to_centroids(b1, "vec_id", "embedding", meta["centers"]).select(
        F.col("vec_id").alias("id"), F.col("__arr").alias("vec"), "__list"
    ).write.partitionBy("__list").parquet(os.path.join(path, "appends", "b=0"))
    assert _read_appends_marker(path) == []
    assert load_ivf_index(spark, path, "vec_id").count() == base.count()

    # a real append commits PAST the orphan (fresh batch id) and serves
    ivf_append(b1, path, meta, "vec_id", "embedding")
    ivf_append(b2, path, meta, "vec_id", "embedding")
    assert _read_appends_marker(path) == [0, 1]
    assert load_ivf_index(spark, path, "vec_id").count() == emb.count()


def test_ivf_append_lock_serializes_writers(spark, sf_dir, tmp_path):
    """Concurrent appenders raise IvfAppendLockHeld instead of
    silently dropping each other's batches (r12 ADVICE: the marker
    read-modify-write was unserialized); the lock releases on exit,
    including the error path, so the next append proceeds."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.ivf import (
        IvfAppendLockHeld,
        _read_appends_marker,
        build_ivf_index,
        ivf_append,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    path = str(tmp_path / "ivf")
    meta = build_ivf_index(base, "vec_id", "embedding", path)

    # a writer holds the lock -> a second append fails loudly
    lock = os.path.join(path, "_appends.lock")
    open(lock, "w").close()
    with pytest.raises(IvfAppendLockHeld, match="_appends.lock"):
        ivf_append(b1, path, meta, "vec_id", "embedding")
    assert _read_appends_marker(path) == []

    # lock released (operator deletes the stale file) -> append lands
    os.remove(lock)
    ivf_append(b1, path, meta, "vec_id", "embedding")
    assert _read_appends_marker(path) == [0]
    assert not os.path.exists(lock), "append must release its lock"


def test_cosine_topk_widen_stream_identical_rows_and_plan_fact(spark):
    """widen_stream=True fans the candidates leg to the session width
    (REPARTITION_BY_NUM in the plan) only when the scan is narrower
    than the session, and never changes the result (deterministic
    top-k tiebreak)."""
    import random

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.similarity import (
        cosine_topk,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).coalesce(1)
    q = emb.filter(F.col("vec_id") < 4)
    base = cosine_topk(q, emb, "vec_id", "embedding", k=3)
    wide = cosine_topk(q, emb, "vec_id", "embedding", k=3, widen_stream=True)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, wide.collect())
    )


def test_ivf_python_probe_matches_spark_probe(spark, sf_dir):
    """The r15 driver-side probe (ivf.probe_cells_py / _sqdist_py) is
    the BIT-EXACT twin of the Spark probe plan it replaced: same
    IEEE-754 doubles from the same left-fold order, same
    (__d, __list) tiebreak. Compared value-by-value via float.hex()
    (bitwise, unlike ==)."""
    from aws_imdb_data_pipeline_spark.extensions.ivf import (
        build_ivf_assignments,
        probe_cells_py,
    )
    from aws_imdb_data_pipeline_spark.extensions.similarity import _to_double
    from aws_imdb_data_pipeline_spark.operators.localframe import (
        local_literal_frame,
    )
    from aws_imdb_data_pipeline_spark.operators.topk import top_n_per_group
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    _assigned, centers = build_ivf_assignments(
        emb, "vec_id", "embedding", 16, 42, 8, None
    )
    q = emb.filter("vec_id < 7").select(
        F.col("vec_id").alias("query_id"),
        _to_double("embedding").alias("__qv"),
    )
    # the Spark probe plan (the non-prune branch of cosine_topk_ivf)
    centroids = local_literal_frame(
        spark,
        [(i, c) for i, c in enumerate(centers)],
        "__list bigint, __centroid array<double>",
    )
    dist = F.aggregate(
        F.zip_with("__qv", "__centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    spark_probe = top_n_per_group(
        q.crossJoin(F.broadcast(centroids)).select(
            "query_id", "__qv", "__list", dist.alias("__d")
        ),
        partition_by=["query_id"],
        order_by=[F.col("__d"), F.col("__list")],
        n=4,
    ).select("query_id", "__qv", "__list")
    want = {
        (r["query_id"], r["__list"], tuple(x.hex() for x in r["__qv"]))
        for r in spark_probe.collect()
    }
    qrows = [(r["query_id"], r["__qv"]) for r in q.collect()]
    got = {
        (qid, i, tuple(x.hex() for x in qv))
        for qid, qv, cells in probe_cells_py(qrows, centers, 4)
        for i in cells
    }
    assert got == want and len(want) == 7 * 4


def test_pq_python_probe_matches_spark_probe(spark, sf_dir):
    """The PQ serve's driver-side ADC tables equal the HOF-form
    _subspace_dists bitwise, per query and per (subspace, centroid)
    cell — float.hex() comparison against the Spark projection."""
    from aws_imdb_data_pipeline_spark.extensions.ivf import _sqdist_py
    from aws_imdb_data_pipeline_spark.extensions.pq import (
        _subspace_dists,
        _unit,
        train_pq,
    )
    from aws_imdb_data_pipeline_spark.extensions.similarity import _to_double
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim, m = 64, 8
    sub = dim // m
    codebooks = train_pq(emb, "embedding", dim, m=m, k=8, max_iter=4)
    q = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"),
        _to_double("embedding").alias("__qv"),
    ).withColumn("__qu", _unit(F.col("__qv")))
    table = F.array(
        *[
            _subspace_dists(F.slice("__qu", j * sub + 1, sub), codebooks[j])
            for j in range(m)
        ]
    )
    want = {
        r["query_id"]: [[x.hex() for x in row] for row in r["__T"]]
        for r in q.select("query_id", table.alias("__T")).collect()
    }
    got = {}
    for r in q.collect():
        qu = r["__qu"]
        got[r["query_id"]] = [
            [
                _sqdist_py(qu[j * sub : (j + 1) * sub], c).hex()
                for c in codebooks[j]
            ]
            for j in range(m)
        ]
    assert got == want and len(want) == 5
