"""Edit-distance (fuzzy) join with LOSSLESS q-gram prefix blocking.

The reference pipeline has no fuzzy matching; this is part of the
beyond-reference entity-resolution surface (same family as the dedup
operators in extensions/dedup.py). Semantics: all pairs (l, r) with
``levenshtein(l_str, r_str) <= max_dist`` — EXACTLY, not
approximately. The blocking only prunes pairs that provably cannot
match, so the output equals the nested-loop answer and the registered
query can be SQL-oracled against a plain cross join.

Why not a cross join at scale: N distinct strings → N² levenshtein
evaluations (each O(len²)). The classic lossless reductions used here
(Gravano et al. 2001 "Approximate String Joins in a Database (Almost)
for Free"; Xiao et al. 2008 ED-Join):

1. **Length filter**: ED(s,t) <= k ⇒ ``abs(len(s)-len(t)) <= k``.
2. **q-gram count filter**: one edit destroys at most q of a string's
   overlapping q-grams, so ED <= k ⇒ the q-gram BAGS share at least
   ``T = max(ng_s, ng_t) - k*q`` elements (ng = len - q + 1).
3. **Prefix filter**: if two bags must share >= T elements, then under
   ANY global total order of elements the first ``ng - T + 1`` elements
   of each sorted bag must intersect. With T >= ng - k*q that prefix is
   at most ``k*q + 1`` elements — so each string is indexed by only
   kq+1 (gram, occurrence) keys and candidates come from an equi-join
   on that key, never a cross join.

Pairs where BOTH strings are too short for the count filter to bite
(ng <= k*q, i.e. len <= k*q + q - 1) are generated by a length-band
equi-join instead (explode each short string to its k+1 admissible
partner lengths) — still no cross join, still lossless.

All of it is built-in expressions (substring/sort_array/slice/
posexplode/levenshtein) — JVM codegen end to end, no Python UDF.

100 TB story: the candidate key (gram, occ) is an 8-ish-byte shuffle
key; per-string index cost is O(kq+1) rows regardless of string
length; the verify step runs levenshtein only on candidates, whose
count is governed by prefix selectivity, not N². Skewed (ultra-common)
grams can be further thinned by ordering elements by global document
frequency instead of lexicographically — the order is a pluggable
argument (`order_by_rarity`) and losslessness holds for any total
order (theorem above).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _qgrams(col: str, q: int):
    """Array of overlapping q-grams of ``col`` (empty if len < q)."""
    n = F.length(F.col(col)) - (q - 1)
    return F.when(
        n >= 1,
        F.expr(
            f"transform(sequence(1, greatest(length({col}) - {q - 1}, 1)), "
            f"i -> substring({col}, i, {q}))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def _prefix_elements(df: DataFrame, id_col: str, str_col: str, *, k: int, q: int,
                     rarity: DataFrame | None = None) -> DataFrame:
    """(id, gram, occ) rows for the first ``k*q + 1`` elements of the
    string's sorted q-gram bag. ``occ`` disambiguates duplicate grams
    (bag semantics: the i-th copy of g in s can only match the i-th
    copy of g in t). Sorting is lexicographic by default; pass
    ``rarity`` (gram → global df frame) to sort rare-first, which
    shrinks candidates on skewed corpora without affecting losslessness.
    """
    prefix_len = k * q + 1
    grams = df.select(id_col, str_col, _qgrams(str_col, q).alias("__grams"))
    if rarity is None:
        # Sorted prefix → duplicates adjacent → the occurrence index is
        # a pure array expression (position - first position of that
        # gram + 1): zero shuffles to build the index side.
        sliced = grams.select(
            id_col,
            str_col,
            F.slice(F.sort_array("__grams"), 1, prefix_len).alias("__prefix"),
        )
        ex = sliced.select(
            id_col,
            str_col,
            "__prefix",
            F.posexplode("__prefix").alias("__pos", "gram"),
        )
        return ex.select(
            id_col,
            str_col,
            "gram",
            (
                F.col("__pos") + 2 - F.array_position("__prefix", F.col("gram"))
            ).cast("int").alias("occ"),
        )
    # rare-first order: explode all grams, attach df, keep the
    # prefix_len rarest per string (ties broken by gram text). The
    # occurrence index rides the SAME window pass: among selected
    # copies of one gram the rank within (id, gram) is the occ.
    ex_all = grams.select(id_col, str_col, F.explode("__grams").alias("gram"))
    ex_all = ex_all.join(F.broadcast(rarity), "gram", "left").fillna(
        {"gram_df": 0}
    )
    w = Window.partitionBy(id_col).orderBy("gram_df", "gram")
    ex = (
        ex_all.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= prefix_len)
        .drop("gram_df")
    )
    occ_w = Window.partitionBy(id_col, "gram").orderBy("__rk")
    return ex.withColumn("occ", F.row_number().over(occ_w)).drop("__rk")


def qgram_edit_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    left_str: str,
    right_id: str,
    right_str: str,
    max_dist: int,
    q: int = 2,
    rarity: DataFrame | None | str = "auto",
) -> DataFrame:
    """All pairs with ``levenshtein(left_str, right_str) <= max_dist``,
    via lossless q-gram prefix blocking (module docstring). Returns
    columns (left_id, right_id, left_str, right_str, dist).

    ``rarity`` controls the global element order the prefix filter
    sorts by. Losslessness holds for ANY total order, but selectivity
    does not: a q-gram occurring in every string (think the ``" v"``
    in "… v12" version suffixes) sorts into every lexicographic prefix
    and collapses the blocking to all-pairs — measured exactly so
    before this default. ``"auto"`` (default)
    aggregates gram frequencies over both inputs (one cheap pass — the
    gram vocabulary is at most |charset|^q) and sorts prefixes
    rare-first, the ED-Join ordering. Pass a (gram, gram_df) frame to
    reuse a precomputed/persisted vocabulary, or ``None`` for
    lexicographic (only sane for adversarial-free short-key corpora).

    ``left``/``right`` must each have unique ids. For a self-join,
    pass the same frame twice and filter ``left_id < right_id`` after.
    """
    k = max_dist
    short_ng = k * q  # ng <= k*q → count filter vacuous for the pair

    l = left.select(
        F.col(left_id).alias("__lid"), F.col(left_str).alias("__ls")
    ).withColumn("__lng", F.greatest(F.length("__ls") - (q - 1), F.lit(0)))
    r = right.select(
        F.col(right_id).alias("__rid"), F.col(right_str).alias("__rs")
    ).withColumn("__rng", F.greatest(F.length("__rs") - (q - 1), F.lit(0)))

    # self-join: both prefix frames share one subtree (Spark's exchange
    # reuse then materializes it once), and the rarity aggregate scans
    # one side only (uniform 2x scaling cannot change a frequency order)
    same_side = (
        left is right and left_id == right_id and left_str == right_str
    )

    if isinstance(rarity, str):
        if rarity != "auto":
            raise ValueError(f"rarity must be 'auto', None, or a frame: {rarity!r}")
        grams_l = l.select(F.explode(_qgrams("__ls", q)).alias("gram"))
        if same_side:
            grams = grams_l
        else:
            grams_r = r.select(F.explode(_qgrams("__rs", q)).alias("gram"))
            grams = grams_l.unionByName(grams_r)
        rarity = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("gram_df"))

    # Path 1 (the scale path): prefix-element equi-join. Covers every
    # pair where at least one side has ng > k*q (then T >= 1 and the
    # prefix theorem applies to both sides). Strings ride the prefix
    # frames, so candidates need no join back to the inputs; the
    # length filter runs BEFORE the distinct to shrink that shuffle.
    lp = _prefix_elements(l, "__lid", "__ls", k=k, q=q, rarity=rarity)
    if same_side:
        rp = lp.select(
            F.col("__lid").alias("__rid"),
            F.col("__ls").alias("__rs"),
            "gram",
            "occ",
        )
    else:
        rp = _prefix_elements(r, "__rid", "__rs", k=k, q=q, rarity=rarity)
    cand_long = (
        lp.join(rp, ["gram", "occ"])
        .filter(F.abs(F.length("__ls") - F.length("__rs")) <= k)
        .filter(
            (F.greatest(F.length("__ls") - (q - 1), F.lit(0)) > short_ng)
            | (F.greatest(F.length("__rs") - (q - 1), F.lit(0)) > short_ng)
        )
        .select("__lid", "__ls", "__rid", "__rs")
        .distinct()
    )

    # Path 2: both sides short (len <= k*q + q - 1) — the count filter
    # can't prune, so candidates come from a length-band equi-join
    # (explode left to its k+1 admissible partner lengths; bounded,
    # because the short pool is strings of <= k*q + q - 1 chars).
    ls = l.filter(F.col("__lng") <= short_ng)
    rs = r.filter(F.col("__rng") <= short_ng)
    cand_short = (
        ls.withColumn(
            "__blen",
            F.explode(
                F.sequence(
                    F.greatest(F.length("__ls") - k, F.lit(0)),
                    F.length("__ls") + k,
                )
            ),
        )
        .join(rs.withColumn("__rlen", F.length("__rs")), F.col("__blen") == F.col("__rlen"))
        .select("__lid", "__ls", "__lng", "__rid", "__rs", "__rng")
    )

    cand = cand_long.select("__lid", "__ls", "__rid", "__rs").unionByName(
        cand_short.select("__lid", "__ls", "__rid", "__rs")
    )

    out = (
        cand.filter(
            F.abs(F.length("__ls") - F.length("__rs")) <= k
        )
        .withColumn("dist", F.levenshtein("__ls", "__rs"))
        .filter(F.col("dist") <= k)
    )
    # Output naming: per side, emit the string column only when it is
    # not the id column (re-emitting would just duplicate the id);
    # any name claimed by BOTH sides gets _l/_r suffixes, so the
    # result never carries duplicate column names regardless of which
    # combination of id/str names collides across sides.
    left_cols = [("__lid", left_id)]
    if left_str != left_id:
        left_cols.append(("__ls", left_str))
    right_cols = [("__rid", right_id)]
    if right_str != right_id:
        right_cols.append(("__rs", right_str))
    clash = {n for _, n in left_cols} & {n for _, n in right_cols}
    cols = [
        F.col(src).alias(n + "_l" if n in clash else n)
        for src, n in left_cols
    ] + [
        F.col(src).alias(n + "_r" if n in clash else n)
        for src, n in right_cols
    ]
    return out.select(*cols, "dist")
