"""Dedup extensions: exact, fingerprint, MinHash+LSH recall/precision."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.extensions import (
    exact_dedup,
    jaccard_on_shingles,
    minhash_dedup_pairs,
    shingle_docs,
)
from aws_imdb_data_pipeline_spark.extensions.textstats import fingerprint
from tests.driver_paths import distributed_twin


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [(1, "dup"), (3, "dup"), (2, "dup"), (9, "solo")], ["id", "text"]
    )
    out = exact_dedup(df, ["text"], [F.col("id")]).collect()
    assert {(r.text, r.id) for r in out} == {("dup", 1), ("solo", 9)}


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.fp64 for r in fingerprint(df).collect()}
    assert out[1] == out[2] != out[3]


def _corpus(spark):
    """20 distinct docs + 3 planted near-duplicates of doc 0."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [(0, base)]
    # near-dups: one word changed / appended
    rows.append((100, base.replace("kappa", "kangaroo")))
    rows.append((101, base + " extra"))
    rows.append((102, base.replace("alpha beta", "beta alpha")))
    for i in range(1, 20):
        words = " ".join(f"w{i}_{j}" for j in range(20))
        rows.append((i, words))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _as_parquet(df, tmp_path):
    """``df`` read back from parquet: a frame with file statistics, so
    the MinHash kernel may take its driver-side path."""
    path = str(tmp_path / "corpus.parquet")
    df.write.parquet(path)
    return df.sparkSession.read.parquet(path)


def test_minhash_finds_planted_near_dups(spark, tmp_path):
    docs = _as_parquet(_corpus(spark), tmp_path)
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # planted dups of doc 0 must be found (high jaccard → high LSH prob)
    assert (0, 100) in found and (0, 101) in found
    # every reported pair must truly exceed the threshold (no false pos)
    assert all(r.jaccard >= 0.5 for r in pairs)
    # unrelated docs share no 3-grams → never reported
    assert not any(a >= 1 and a < 20 and b >= 1 and b < 20 for a, b in found)


def test_lsh_no_false_positives_vs_bruteforce(spark, tmp_path):
    docs = _as_parquet(_corpus(spark), tmp_path)
    sh = shingle_docs(docs, "doc_id", "text", k=3)
    a = sh.selectExpr("doc_id as id_a", "__shingles as sh_a")
    b = sh.selectExpr("doc_id as id_b", "__shingles as sh_b")
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    truth = {(r.id_a, r.id_b) for r in brute.collect()}
    lsh = minhash_dedup_pairs(
        docs, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    )
    got = {(r.id_a, r.id_b) for r in lsh.collect()}
    assert got <= truth  # LSH may miss, must never invent
    assert len(got) >= int(0.75 * len(truth))  # decent recall on this corpus


def test_simhash_hamming_properties(spark):
    from aws_imdb_data_pipeline_spark.extensions import simhash64, simhash_near_dup_pairs
    from pyspark.sql import functions as F

    base = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                                   # identical → hamming 0
            (3, base.replace("tok5", "changed")),        # near-dup → small hamming
            (4, " ".join(f"zz{i}" for i in range(60))),  # unrelated
        ],
        ["doc_id", "text"],
    )
    fp = {r.doc_id: r.simhash for r in simhash64(docs, "text").collect()}
    assert fp[1] == fp[2]
    ham = lambda a, b: bin((fp[a] ^ fp[b]) & (2**64 - 1)).count("1")
    # a 1-token edit moves few bits relative to an unrelated doc
    assert 0 < ham(1, 3) < ham(1, 4)
    assert ham(1, 4) > 16

    # banding guarantees recall only for hamming < bands; identical
    # docs (hamming 0) must always be found, and every reported pair
    # must satisfy the hamming bound (no false positives)
    pairs = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got
    assert all(r.hamming <= 3 for r in pairs)
    assert not any(4 in p for p in got)


def test_connected_components_known_graph(spark):
    from aws_imdb_data_pipeline_spark.extensions.clusters import (
        connected_components,
    )

    # components: {1,2,3,4} via chain, {10,11}, 20 isolated-by-self-pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], ["id_a", "id_b"]
    )
    out = {r.node: r.component for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_chain_converges(spark):
    from aws_imdb_data_pipeline_spark.extensions.clusters import (
        connected_components,
    )

    # a 30-node path: diameter 29 → needs multiple label iterations
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    out = {r.node: r.component for r in connected_components(pairs, max_iterations=40).collect()}
    assert set(out.values()) == {0}
    assert len(out) == 31


def test_connected_components_nonconvergence_signals(spark):
    import warnings

    import pytest

    from aws_imdb_data_pipeline_spark.extensions.clusters import (
        connected_components,
    )

    # 12-node path with max_iterations=2: cannot converge
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], ["id_a", "id_b"])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(pairs, max_iterations=2).collect()
    assert any("did not converge" in str(w.message) for w in caught)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=2, strict=True)


def test_connected_components_converging_on_last_iteration_ok(spark):
    """A run whose FINAL allowed iteration reaches the fixpoint must not
    be flagged as non-convergent (the changed-count that iteration is
    nonzero, but a follow-up propagation check finds nothing to do)."""
    import warnings

    from aws_imdb_data_pipeline_spark.extensions.clusters import (
        connected_components,
    )

    # 3-node path: labels settle in exactly 2 min-propagation rounds
    pairs = spark.createDataFrame([(0, 1), (1, 2)], ["id_a", "id_b"])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = {
            r.node: r.component
            for r in connected_components(
                pairs, max_iterations=2, strict=True
            ).collect()
        }
    assert not any("did not converge" in str(w.message) for w in caught)
    assert set(out.values()) == {0}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    import pytest

    from aws_imdb_data_pipeline_spark.extensions.clusters import (
        connected_components,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(pairs, reliable_checkpoint=True)
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    out = {
        r.node: r.component
        for r in connected_components(pairs, reliable_checkpoint=True).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_repetition_signals_semantics(spark):
    """dup/top n-gram fractions: hand-checked values plus the
    short-document null guard (fewer tokens than the gram size)."""
    from aws_imdb_data_pipeline_spark.extensions.textstats import (
        repetition_signals,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # bigrams: ab,ba,ab,ba,ab -> dup 3/5, top 3/5
            (2, "x y z w"),       # all bigrams distinct
            (3, "q"),             # too short for bigrams
            (4, "q r"),           # one bigram, no trigram
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert rows[1].dup_bigram_frac == 0.6 and rows[1].top_bigram_frac == 0.6
    assert rows[1].dup_trigram_frac == 0.5 and rows[1].top_trigram_frac == 0.5
    assert rows[2].dup_bigram_frac == 0.0
    assert rows[2].top_bigram_frac == 1 / 3
    assert rows[3].dup_bigram_frac is None and rows[3].top_trigram_frac is None
    assert rows[4].dup_bigram_frac == 0.0 and rows[4].dup_trigram_frac is None


def test_incremental_near_dup_matches_batch_path(spark, sf_dir, tmp_path):
    """The persisted-band-index incremental path must find EXACTLY the
    cross (batch x corpus) pairs the one-shot batch pipeline finds on
    the union, at the same params — same banding kernel, same
    verification — and every re-crawled doc must surface at Jaccard
    1.0 (identical shingle sets share every band: zero false-negative
    room)."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.dedup import (
        build_minhash_band_index,
        incremental_near_dup_pairs,
        minhash_dedup_pairs,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter("doc_id % 7 = 0").select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    path = str(tmp_path / "bands")
    build_minhash_band_index(docs, "doc_id", "text", path, k=3,
                             num_hashes=64, bands=16)
    incr = {
        (r.new_id, r.corpus_id): round(r.jaccard, 6)
        for r in incremental_near_dup_pairs(
            batch, docs, path, "doc_id", "text", threshold=0.8
        ).collect()
    }
    # floor: every re-crawl found at exactly 1.0
    n_batch = batch.count()
    recrawl = {(k[0], k[1]): v for k, v in incr.items()
               if k[0] == k[1] + 100_000}
    assert len(recrawl) == n_batch
    assert all(v == 1.0 for v in recrawl.values())

    full = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b)): round(r.jaccard, 6)
        for r in minhash_dedup_pairs(
            docs.unionByName(batch), "doc_id", "text",
            k=3, num_hashes=64, bands=16, threshold=0.8,
        ).collect()
        # keep only cross pairs: one side batch (>=100k), other corpus
        if (r.id_a >= 100_000) != (r.id_b >= 100_000)
    }
    assert incr == full


def test_minhash_pairs_from_index_equals_one_shot(spark, sf_dir, tmp_path):
    """The artifact-served corpus-internal pair path must emit
    EXACTLY the one-shot pipeline's pairs at the same params — same
    bucket kernel persisted vs recomputed, same bucket-size cap, same
    exact-Jaccard verify — including identical jaccard values."""
    from aws_imdb_data_pipeline_spark.extensions.dedup import (
        build_minhash_band_index,
        minhash_dedup_pairs,
        minhash_pairs_from_index,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "bands")
    build_minhash_band_index(docs, "doc_id", "text", path, k=3,
                             num_hashes=64, bands=16)
    served = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash_pairs_from_index(
            docs, path, "doc_id", "text", threshold=0.6
        ).collect()
    }
    one_shot = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", k=3, num_hashes=64, bands=16,
            threshold=0.6,
        ).collect()
    }
    assert served == one_shot
    assert len(served) > 0  # the fixture corpus has planted near-dups


def test_simhash_served_from_artifact_equals_inline(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The artifact-served simhash near-dup query (parquet fingerprints
    + banded hamming join) must emit EXACTLY the inline pipeline's
    pairs — simhash64 is deterministic, so fingerprint-then-persist
    changes storage, never values."""
    from aws_imdb_data_pipeline_spark.extensions.dedup import (
        simhash_near_dup_pairs,
    )
    from aws_imdb_data_pipeline_spark.plans.extensions import (
        simhash_near_dup_documents,
    )
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    served = {
        (r.id_a, r.id_b)
        for r in simhash_near_dup_documents(spark, sf_dir).collect()
    }
    inline = {
        (r.id_a, r.id_b)
        for r in simhash_near_dup_pairs(
            docs, "doc_id", "text", max_hamming=3, bands=4
        ).collect()
    }
    assert served == inline


def test_short_docs_emit_no_shingles_and_never_pair(spark, tmp_path):
    """Docs with fewer than k words have an empty shingle set (standard
    w-shingling) — a pair of 2-word duplicates must NOT near-dup pair,
    matching the exact full-k-gram oracle (round-10 advice: the old
    sequence(0, greatest(n-k, 0)) emitted one PARTIAL gram)."""
    from aws_imdb_data_pipeline_spark.extensions import shingle

    docs = _as_parquet(spark.createDataFrame(
        [
            (1, "tiny doc"),
            (2, "tiny doc"),
            (3, "exactly three words"),
            (4, "exactly three words"),
        ],
        ["doc_id", "text"],
    ), tmp_path)
    sh = shingle_docs(docs, "doc_id", "text", k=3)
    ids = {r.doc_id for r in sh.collect()}
    assert ids == {3, 4}  # sub-k docs dropped entirely

    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", k=3, num_hashes=16, bands=8, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) not in found
    assert (3, 4) in found

    # the Column form agrees: empty array below k, never a partial gram
    col = docs.select(
        "doc_id", shingle("text", k=3).alias("g")
    ).collect()
    by_id = {r.doc_id: r.g for r in col}
    assert by_id[1] == [] and by_id[3] == ["exactly three words"]


def test_shingle_docs_builds_grams_once_in_optimized_plan(spark):
    """The short-doc guard filters on size(__w) >= k BEFORE the gram
    projection: a trailing size(shingles) > 0 filter gets pushed
    through the Project and re-inlines the whole gram expression
    (sequence/transform/array_distinct) into the Filter condition,
    doubling shingle compute wherever the frame is materialized
    (r15: minhash_dedup_documents 3.0 -> 1.8 s). Pin the plan fact:
    exactly one gram tree in the optimized plan."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, "p q r")], ["doc_id", "text"]
    )
    sh = shingle_docs(docs, "doc_id", "text", k=3)
    optimized = sh._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("sequence(0") == 1
    # and the filters are equivalent: sub-k docs still dropped
    assert {r.doc_id for r in sh.collect()} == {1, 3}


def test_release_pinned_shingles_releases_pipeline_pins(spark):
    """The dedup pipelines pin their shingle frames (caller-owned
    lifetime); release_pinned_shingles() must unpersist them all and
    report the count."""
    from aws_imdb_data_pipeline_spark.extensions import (
        release_pinned_shingles,
    )

    release_pinned_shingles()  # drain pins left by earlier tests
    docs = _corpus(spark)
    minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5).count()
    assert release_pinned_shingles() >= 1
    assert release_pinned_shingles() == 0


def test_band_index_deletion_equals_rebuild(spark, tmp_path):
    """Deletion propagation for the band index: per-doc MinHash
    signatures are independent, so retracting a right-to-be-forgotten
    list is a row FILTER on the persisted (band, bucket, id) rows —
    bit-identical to rebuilding the index over the surviving corpus.
    (The token-stats artifact needs arithmetic retraction —
    extensions.tokenindex.retract_dfl; the band index only needs
    this filter, which is why no dedicated operator exists.)"""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.dedup import (
        build_minhash_band_index,
    )

    docs = _corpus(spark)
    deleted = spark.createDataFrame(
        [(0,), (5,), (101,)], ["doc_id"]
    )

    full_path = str(tmp_path / "full")
    build_minhash_band_index(docs, "doc_id", "text", full_path)
    kept_path = str(tmp_path / "kept")
    build_minhash_band_index(
        docs.join(deleted, "doc_id", "left_anti"),
        "doc_id",
        "text",
        kept_path,
    )

    filtered = (
        spark.read.parquet(full_path + "/bands")
        .join(deleted.withColumnRenamed("doc_id", "id"), "id", "left_anti")
        .select("id", "bucket", "band")
    )
    rebuilt = spark.read.parquet(kept_path + "/bands").select(
        "id", "bucket", "band"
    )
    assert sorted(map(tuple, filtered.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


# The one-shot, index and incremental MinHash tests again, on the
# distributed plan (the runs above take the driver-side path).
test_minhash_finds_planted_near_dups_distributed = distributed_twin(
    test_minhash_finds_planted_near_dups
)
test_lsh_no_false_positives_vs_bruteforce_distributed = distributed_twin(
    test_lsh_no_false_positives_vs_bruteforce
)
test_short_docs_emit_no_shingles_and_never_pair_distributed = distributed_twin(
    test_short_docs_emit_no_shingles_and_never_pair
)
test_incremental_near_dup_matches_batch_path_distributed = distributed_twin(
    test_incremental_near_dup_matches_batch_path
)
test_minhash_pairs_from_index_equals_one_shot_distributed = distributed_twin(
    test_minhash_pairs_from_index_equals_one_shot
)
