"""Connected components over near-duplicate pair graphs.

Dedup pipelines emit PAIRS (a ~ b); consolidation needs GROUPS: the
transitive closure of ~, i.e. connected components, from which one
survivor per component is kept. Large-scale CC here is iterative
min-label propagation:

    label(v) := min(label(v), min over neighbors(label(u)))

repeated until fixpoint. Each iteration is one join + one aggregate
(all DataFrame ops); iteration count is the graph diameter, which for
near-dup graphs is tiny (dup clusters are cliques or near-cliques).
The loop is driver-side CONTROL only — the data never leaves
executors. Each generation is localCheckpoint()ed: persisting alone
does NOT truncate the logical plan, and the nested lineage of an
iterative algorithm grows until plan compilation itself OOMs (~30
iterations sufficed). Checkpointing resets the plan to the
materialized blocks — the same discipline GraphX applies.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
    reliable_checkpoint: bool = False,
    strict: bool = False,
    on_iteration=None,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component is the
    minimum node id reachable from the node (a canonical label).

    ``reliable_checkpoint=True`` uses ``DataFrame.checkpoint()`` against
    the SparkContext's configured checkpoint dir instead of
    ``localCheckpoint()``. localCheckpoint blocks live in executor
    memory/disk and die with a lost executor — fine on local[*], fatal
    mid-iteration on a real cluster; reliable checkpoints survive
    executor loss. Callers must ``sc.setCheckpointDir(...)`` first.

    Min-label propagation needs diameter-many iterations. If the loop
    exits after ``max_iterations`` without converging the labels are
    WRONG (components silently split); ``strict=True`` raises, else a
    RuntimeWarning is emitted.

    ``on_iteration(i, changed)`` (optional) is invoked after each
    materialized generation — probes use it to time iterations; each
    iteration is fully materialized by its checkpoint, so wall between
    callbacks is the true per-iteration cost.
    """
    if reliable_checkpoint:
        sc = pairs.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "reliable_checkpoint=True requires "
                "spark.sparkContext.setCheckpointDir(...) to be set"
            )

    def _ckpt(df: DataFrame) -> DataFrame:
        if reliable_checkpoint:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = _ckpt(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = _ckpt(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    changed = 0
    for it in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        nxt = F.least(
            F.col("label"), F.coalesce("nbr_label", F.col("label"))
        )
        # the did-this-row-change flag rides the generation itself, so
        # the convergence probe below is a count over the CHECKPOINTED
        # blocks — the previous form re-joined the new generation
        # against the old one on node, one extra shuffle job per
        # iteration for a fact the propagation join already knew
        # (same predicate: new label != old label, node sets equal
        # between generations)
        gen = _ckpt(  # truncate lineage per generation
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                nxt.alias("label"),
                (nxt != F.col("label")).alias("__chg"),
            )
        )
        changed = gen.filter(F.col("__chg")).count()
        labels = gen.select("node", "label")
        if on_iteration is not None:
            on_iteration(it, changed)
        if changed == 0:
            break

    if changed != 0:
        # the final allowed iteration changing labels does not imply
        # non-convergence — it may have BEEN the step that reached the
        # fixpoint; one more propagation check settles it
        still = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
            .join(labels, F.col("a") == labels.node)
            .filter(F.col("nbr_label") < F.col("label"))
            .count()
        )
        changed = still
    if changed != 0:
        msg = (
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing); components "
            "may be split — raise max_iterations (graph diameter bound)"
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)

    return labels.select(F.col("node"), F.col("label").alias("component"))


# ---------------------------------------------------------------------------
# Alternating-star contraction: rounds ~ O(log² n), not graph diameter
# ---------------------------------------------------------------------------


def _large_star(edges: DataFrame) -> DataFrame:
    """Attach every neighbor LARGER than u to min(Γ(u) ∪ {u}).

    The symmetrized edge list is fed to a min-aggregate without a
    distinct: duplicate (u,v) rows cannot change a MIN, so the only
    distinct paid is on the (smaller) output."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges big→small, then attach all smaller neighbors of u
    (and u itself) to min(N(u) ∪ {u})."""
    dir_e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = dir_e.groupBy("u").agg(F.min("v").alias("m"))
    nbr = dir_e.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_ = m.select("u", F.col("m").alias("v"))
    return (
        nbr.unionByName(self_).where(F.col("u") != F.col("v")).distinct()
    )


def connected_components_stars(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 16,
    reliable_checkpoint: bool = False,
    strict: bool = False,
    on_round=None,
    validate: bool = False,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", 2014) — the algorithm GraphX/GraphFrames use.

    Why it exists next to :func:`connected_components`: min-label
    propagation needs DIAMETER-many iterations, and a scale run measured
    exactly that — 24 iterations for a graph with chains of length 24,
    at every size. Star contraction
    halves path lengths every round, so rounds grow with log² of the
    component size: the same chains converge in ~5 rounds. At 100 TB an
    iteration is a full shuffle of the edge set; 5 beats 24.

    Semantics, checkpointing discipline, and the ``strict`` /
    ``reliable_checkpoint`` contract match :func:`connected_components`.
    ``validate=True`` adds one extra join over the ORIGINAL edge list
    asserting both endpoints of every input edge landed in the same
    component (raises on violation) — cheap insurance after an early
    ``max_rounds`` exit.
    """
    if reliable_checkpoint:
        sc = pairs.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "reliable_checkpoint=True requires "
                "spark.sparkContext.setCheckpointDir(...) to be set"
            )

    def _ckpt(df: DataFrame) -> DataFrame:
        if reliable_checkpoint:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges0 = _ckpt(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = _ckpt(
        pairs.select(F.col(src).alias("node"))
        .unionByName(pairs.select(F.col(dst).alias("node")))
        .distinct()
    )

    def _sig(df: DataFrame):
        # one-job cheap fingerprint of the edge set; a signature match
        # is only a CANDIDATE fixpoint — confirmed by the exact check.
        # Combiners must be EXACT and order-independent: Spark's
        # partial-aggregate merge order is nondeterministic, and FP
        # sums of ~1e18-magnitude hash terms differ in low bits across
        # orders, which would make identical sets compare unequal and
        # convergence never fire. bit_xor is exact/commutative (edges
        # are distinct, so XOR self-cancellation can't collide two
        # different multisets of the same parity), and a modular long
        # sum (terms < 2^31, so billions of edges stay < 2^62) cannot
        # overflow under ANSI mode. Colliding DIFFERENT sets is still
        # fine — the exact exceptAll check confirms.
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("hx"),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(2**31))).alias("hm"),
        ).collect()[0]
        return (row.n, row.hx, row.hm)

    edges = edges0
    sig = _sig(edges0)
    converged = False
    for r in range(max_rounds):
        new_edges = _ckpt(_small_star(_large_star(edges)))
        new_sig = _sig(new_edges)
        if on_round is not None:
            on_round(r, new_sig[0])
        # exact set equality (both sides distinct) only when the cheap
        # signature stops moving — steady-state rounds cost one agg job
        if new_sig == sig and new_edges.exceptAll(edges).limit(1).count() == 0:
            edges = new_edges
            converged = True
            break
        sig = new_sig
        edges = new_edges

    if not converged:
        msg = (
            f"connected_components_stars did not converge in {max_rounds} "
            "rounds; components may be split — raise max_rounds"
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)

    # at fixpoint the edge set is a union of stars centered at each
    # component's min id: non-centers hold exactly (node → center)
    parents = edges.groupBy("u").agg(F.min("v").alias("c"))
    labels = (
        nodes.join(parents, nodes.node == parents.u, "left")
        .select("node", F.coalesce("c", F.col("node")).alias("component"))
    )

    if validate:
        la = labels.select(
            F.col("node").alias("u"), F.col("component").alias("ca")
        )
        lb = labels.select(
            F.col("node").alias("v"), F.col("component").alias("cb")
        )
        bad = (
            edges0.join(la, "u").join(lb, "v")
            .where(F.col("ca") != F.col("cb"))
            .limit(1)
            .count()
        )
        if bad:
            raise RuntimeError(
                "connected_components_stars validation failed: an input "
                "edge spans two components (raise max_rounds)"
            )

    return labels
