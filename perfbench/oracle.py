"""Independent computations the benchmark checks the engine against.
Nothing here runs Spark: each function reads the generated inputs (or
the lake the engine wrote) with DuckDB, or recomputes a corpus step in
plain Python from the generated documents.

The value comparison follows the float policy of the repository's
parity tool: columns sorted by name, rows sorted, exact equality for
non-floats and dtypes, 1e-9 absolute tolerance for floats.
"""

from __future__ import annotations

import math
import os
import re

import duckdb
import numpy as np
import pandas as pd

ANALYST_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)


# ---------------------------------------------------------------------------
# Analyst queries: registered DuckDB oracle vs the engine's rows.
# ---------------------------------------------------------------------------

def analyst_connection(lake: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ANALYST_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(lake, t + '.parquet')}'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problems found comparing engine rows ``got`` with oracle ``want``."""
    if len(got) != len(want):
        return [f"rowcount engine={len(got)} oracle={len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns engine={sorted(got.columns)} oracle={sorted(want.columns)}"]
    s, d = _normalize(got), _normalize(want)
    problems = [
        f"dtype {c}: engine={s[c].dtype} oracle={d[c].dtype}"
        for c in s.columns
        if str(s[c].dtype) != str(d[c].dtype)
    ]
    if problems:
        return problems
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            a, b = sv.astype(float).to_numpy(), dv.astype(float).to_numpy()
            ok = np.isclose(a, b, rtol=0, atol=1e-9, equal_nan=True)
        else:
            ok = (
                (sv.astype(object).where(pd.notna(sv), None)
                 == dv.astype(object).where(pd.notna(dv), None))
                | (pd.isna(sv) & pd.isna(dv))
            ).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            problems.append(f"{c}: row {i} engine={sv.iloc[i]!r} oracle={dv.iloc[i]!r}")
    return problems


# ---------------------------------------------------------------------------
# IMDb lake: counts and key checksums recomputed from the raw TSVs.
# ---------------------------------------------------------------------------

def _tsv_views(con: duckdb.DuckDBPyConnection, paths: dict[str, str]) -> None:
    for name, path in paths.items():
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_csv('{path}', "
            "delim='\t', header=true, all_varchar=true, nullstr='\\N', quote='')"
        )


_IMDB_EXPECTED = """
WITH movies AS (
    SELECT tconst, genres FROM title_basics
    WHERE titleType = 'movie'
      AND startYear IS NOT NULL AND length(trim(startYear)) > 0
      AND genres IS NOT NULL AND length(trim(genres)) > 0
      AND primaryTitle IS NOT NULL AND length(trim(primaryTitle)) > 0
), oscar AS (
    SELECT DISTINCT titleId FROM title_akas
    WHERE lower(title) LIKE '%oscar%' OR lower(title) LIKE '%academy award%'
), movie_rows AS (
    SELECT m.tconst, TRY_CAST(r.numVotes AS BIGINT) AS numVotes,
           (o.titleId IS NOT NULL)::INT AS oscar
    FROM movies m
    CROSS JOIN unnest(string_split(m.genres, ',')) AS g(genre)
    LEFT JOIN title_ratings r ON r.tconst = m.tconst
    LEFT JOIN oscar o ON o.titleId = m.tconst
), series AS (
    SELECT tconst AS seriesId, primaryTitle AS seriesTitle,
           (TRY_CAST(startYear AS INT) // 10) * 10 AS series_decade
    FROM title_basics WHERE titleType = 'tvSeries'
), eps AS (
    SELECT e.tconst, s.seriesId, s.seriesTitle, s.series_decade,
           TRY_CAST(e.seasonNumber AS INT) AS season,
           TRY_CAST(e.episodeNumber AS INT) AS epno,
           TRY_CAST(r.numVotes AS BIGINT) AS numVotes
    FROM title_episode e
    LEFT JOIN series s ON s.seriesId = e.parentTconst
    LEFT JOIN title_ratings r ON r.tconst = e.tconst
), flagged AS (
    SELECT *, (epno IS NOT NULL AND epno = max(epno) OVER (
                  PARTITION BY seriesId, season))::INT AS isFinale,
              (season IS NULL)::INT AS isSpecial
    FROM eps
)
SELECT
    (SELECT count(*) FROM movie_rows) AS movie_rows,
    (SELECT coalesce(sum(numVotes), 0) FROM movie_rows) AS movie_votes,
    (SELECT coalesce(sum(oscar), 0) FROM movie_rows) AS movie_oscar,
    (SELECT coalesce(sum(CAST(substr(tconst, 3) AS BIGINT)), 0) FROM movie_rows) AS movie_keys,
    (SELECT count(*) FROM flagged) AS episode_rows,
    (SELECT coalesce(sum(numVotes), 0) FROM flagged) AS episode_votes,
    (SELECT coalesce(sum(isFinale), 0) FROM flagged) AS episode_finales,
    (SELECT coalesce(sum(isSpecial), 0) FROM flagged) AS episode_specials,
    (SELECT coalesce(sum(CAST(substr(tconst, 3) AS BIGINT)), 0) FROM flagged) AS episode_keys,
    (SELECT count(*) FROM (SELECT DISTINCT seriesId, seriesTitle, series_decade,
                                  coalesce(season, -1) FROM flagged)) AS season_rows
"""

_LAKE_ACTUAL = """
WITH m AS (SELECT * FROM read_parquet('{lake}/analytics_movie_facts/**/*.parquet',
                                      hive_partitioning = true) WHERE run_date = '{run_date}'),
     e AS (SELECT * FROM read_parquet('{lake}/analytics_episode_facts/**/*.parquet',
                                      hive_partitioning = true) WHERE run_date = '{run_date}'),
     s AS (SELECT * FROM read_parquet('{lake}/series_season_summary/**/*.parquet',
                                      hive_partitioning = true) WHERE run_date = '{run_date}')
SELECT
    (SELECT count(*) FROM m) AS movie_rows,
    (SELECT coalesce(sum(numVotes), 0) FROM m) AS movie_votes,
    (SELECT coalesce(sum(oscarWinner), 0) FROM m) AS movie_oscar,
    (SELECT coalesce(sum(CAST(substr(tconst, 3) AS BIGINT)), 0) FROM m) AS movie_keys,
    (SELECT count(*) FROM e) AS episode_rows,
    (SELECT coalesce(sum(numVotes), 0) FROM e) AS episode_votes,
    (SELECT coalesce(sum(isFinale), 0) FROM e) AS episode_finales,
    (SELECT coalesce(sum(isSpecial), 0) FROM e) AS episode_specials,
    (SELECT coalesce(sum(CAST(substr(tconst, 3) AS BIGINT)), 0) FROM e) AS episode_keys,
    (SELECT count(*) FROM s) AS season_rows
"""

_QUALITY_ACTUAL = """
SELECT dataset, row_count FROM read_parquet('{lake}/analytics_quality/**/*.parquet',
                                            hive_partitioning = true)
WHERE run_date = '{run_date}' ORDER BY dataset
"""


def imdb_lake_problems(tsv_paths: dict[str, str], lake: str, run_date: str) -> list[str]:
    """Compare the lake slice ``run_date`` with DuckDB's recomputation
    from the same TSVs: row counts, vote sums, oscar/finale/special
    counts and tconst checksums of the movie, episode, season and
    quality tables."""
    con = duckdb.connect()
    try:
        _tsv_views(con, tsv_paths)
        cur = con.execute(_IMDB_EXPECTED)
        want = dict(zip([d[0] for d in cur.description], cur.fetchone()))
        cur = con.execute(_LAKE_ACTUAL.format(lake=lake, run_date=run_date))
        got = dict(zip([d[0] for d in cur.description], cur.fetchone()))
        problems = [
            f"{k}: lake={got[k]} oracle={want[k]}" for k in want if got[k] != want[k]
        ]
        quality = dict(con.execute(_QUALITY_ACTUAL.format(lake=lake, run_date=run_date)).fetchall())
        expect_q = {
            "analytics_episode_facts": want["episode_rows"],
            "analytics_movie_facts": want["movie_rows"],
            "series_season_summary": want["season_rows"],
        }
        if quality != expect_q:
            problems.append(f"quality profile {quality} != {expect_q}")
        return problems
    finally:
        con.close()


# ---------------------------------------------------------------------------
# CDC: DuckDB replay of the ratings changelog.
# ---------------------------------------------------------------------------

_REPLAY = """
WITH latest AS (
    SELECT * FROM read_parquet('{feed}/*.parquet')
    QUALIFY row_number() OVER (PARTITION BY tconst ORDER BY seq DESC) = 1
)
SELECT * FROM latest WHERE op <> 'D'
"""


def cdc_problems(feed: str, snapshot: pd.DataFrame, view: pd.DataFrame) -> list[str]:
    """The keyed snapshot and the grouped IVM view must equal a DuckDB
    replay of every changelog file under ``feed``."""
    con = duckdb.connect()
    try:
        state = con.execute(_REPLAY.format(feed=feed)).df()
        problems = []
        cols = ["tconst", "averageRating", "numVotes"]
        a = snapshot[cols].sort_values("tconst", ignore_index=True)
        b = state[cols].sort_values("tconst", ignore_index=True)
        if len(a) != len(b) or not (a.astype(str) == b.astype(str)).all().all():
            problems.append(f"snapshot differs from replay ({len(a)} vs {len(b)} keys)")
        want = (
            state.groupby("titleType")
            .agg(n_keys=("tconst", "size"), sum_value=("numVotes", "sum"))
            .reset_index()
            .sort_values("titleType", ignore_index=True)
        )
        got = view[["titleType", "n_keys", "sum_value"]].sort_values(
            "titleType", ignore_index=True
        )
        if len(got) != len(want) or not (
            (got["titleType"] == want["titleType"]).all()
            and (got["n_keys"].astype(int) == want["n_keys"].astype(int)).all()
            and (got["sum_value"].astype(int) == want["sum_value"].astype(int)).all()
        ):
            problems.append(f"ivm view {got.values.tolist()} != replay {want.values.tolist()}")
        return problems
    finally:
        con.close()


# ---------------------------------------------------------------------------
# Corpus curation: plain-Python references over the generated documents,
# each a list of (doc_id, text, ...) tuples.
# ---------------------------------------------------------------------------

def _trigrams(text: str) -> set[tuple[str, ...]]:
    w = text.split(" ")
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def near_dup_pairs(docs, threshold: float) -> dict[tuple[int, int], float]:
    """Every document pair whose word-trigram Jaccard is at least
    ``threshold``, keyed (smaller id, larger id), with its Jaccard."""
    grams = [(d[0], _trigrams(d[1])) for d in docs]
    out: dict[tuple[int, int], float] = {}
    for i, (a, ga) in enumerate(grams):
        for b, gb in grams[i + 1:]:
            # |A & B| / |A | B| <= min / max, so most pairs skip the sets
            if min(len(ga), len(gb)) < threshold * max(len(ga), len(gb)):
                continue
            inter = len(ga & gb)
            j = inter / (len(ga) + len(gb) - inter)
            if j >= threshold:
                out[(min(a, b), max(a, b))] = j
    return out


def minhash_problems(rows, docs, planted: list[tuple[int, int]], threshold: float) -> list[str]:
    """MinHash may miss a true pair but must find every planted one
    (their Jaccard lies well above ``threshold``), must report no pair
    below it, and must report each pair's exact Jaccard."""
    truth = near_dup_pairs(docs, threshold)
    found = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)): r.jaccard for r in rows}
    problems = [f"planted pair {p} not found" for p in planted if p not in found]
    for pair, j in sorted(found.items()):
        if pair not in truth:
            problems.append(f"pair {pair} reported, exact Jaccard below {threshold}")
        elif abs(j - truth[pair]) > 1e-9:
            problems.append(f"pair {pair} Jaccard engine={j} exact={truth[pair]}")
    return problems


def _words(text: str) -> list[str]:
    # Java's String.split: trailing empty strings dropped
    w = re.split(r"\s+", text)
    while w and w[-1] == "":
        w.pop()
    return w


def quality_rows(docs, stopwords: dict[str, tuple[str, ...]], min_quality: float) -> dict[int, tuple[float, str]]:
    """doc_id -> (quality, predicted language) of every document whose
    quality score is at least ``min_quality``: the length band x
    repetition x alpha-ratio score and the stopword-overlap language."""
    out: dict[int, tuple[float, str]] = {}
    for doc_id, text, *_ in docs:
        words = _words(text)
        n = len(words)
        rep = 1.0 - len(set(words)) / n
        alpha = len(re.sub(r"[^A-Za-z]", "", text)) / len(re.sub(r"\s+", "", text))
        band = 0.2 if n < 5 else 0.5 if n > 1000 else 1.0
        score = band * (1.0 - min(rep, 1.0) * 0.5) * (0.5 + alpha * 0.5)
        best = max((len(set(words) & set(sw)), lang) for lang, sw in stopwords.items())
        if score >= min_quality:
            out[doc_id] = (score, best[1] if best[0] > 0 else "unknown")
    return out


def quality_problems(rows, want: dict[int, tuple[float, str]]) -> list[str]:
    got = {r.doc_id: (r.quality, r.lang_pred) for r in rows}
    if sorted(got) != sorted(want):
        return [f"{len(got)} documents kept, expected {len(want)}: "
                f"{sorted(set(got) ^ set(want))[:5]} differ"]
    return [
        f"doc {d}: engine={got[d]} expected={want[d]}"
        for d in sorted(got)
        if got[d][1] != want[d][1] or abs(got[d][0] - want[d][0]) > 1e-9
    ]


def bm25_top(docs, queries, k: int, k1: float = 1.2, b: float = 0.75) -> dict[int, list[tuple[int, float]]]:
    """query_id -> the top ``k`` (doc_id, score) by Okapi BM25 over
    lower-cased whitespace tokens, distinct query terms, scores rounded
    to 4 places, ties by doc_id."""
    tf: dict[int, dict[str, int]] = {}
    for doc_id, text, *_ in docs:
        counts: dict[str, int] = {}
        for w in _words(text.lower()):
            if w:
                counts[w] = counts.get(w, 0) + 1
        tf[doc_id] = counts
    dl = {d: sum(c.values()) for d, c in tf.items()}
    n, avgdl = len(tf), sum(dl.values()) / len(tf)
    df: dict[str, int] = {}
    for c in tf.values():
        for w in c:
            df[w] = df.get(w, 0) + 1
    out: dict[int, list[tuple[int, float]]] = {}
    for qid, qtext in queries:
        terms = {w for w in _words(qtext.lower()) if w}
        scores = []
        for d, c in tf.items():
            hits = terms & c.keys()
            if hits:
                s = sum(
                    math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                    * (c[t] * (k1 + 1.0)) / (c[t] + k1 * ((1.0 - b) + b * dl[d] / avgdl))
                    for t in hits
                )
                scores.append((-round(s, 4), d))
        out[qid] = [(d, -s) for s, d in sorted(scores)[:k]]
    return out


def bm25_problems(rows, want: dict[int, list[tuple[int, float]]]) -> list[str]:
    got: dict[int, list[tuple[int, int, float]]] = {}
    for r in rows:
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    problems = []
    for qid, top in sorted(want.items()):
        ranked = sorted(got.get(qid, []))
        if [d for _, d, _ in ranked] != [d for d, _ in top]:
            problems.append(f"query {qid}: engine top {[d for _, d, _ in ranked]}, "
                            f"expected {[d for d, _ in top]}")
        elif any(abs(s - w) > 1e-4 for (_, _, s), (_, w) in zip(ranked, top)):
            problems.append(f"query {qid}: scores {ranked} vs {top}")
    if set(got) - set(want):
        problems.append(f"unexpected queries {sorted(set(got) - set(want))}")
    return problems
