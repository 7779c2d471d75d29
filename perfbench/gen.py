"""Seeded input generator for the benchmark.

Every input the benchmark feeds the engine is built here from a
workload seed, with numpy's PCG64 streams only, so the same seed gives
byte-identical files (gzip is written with ``mtime=0``). Nothing here
imports the engine, ``tools/sfgen.py`` or ``sources.docgen``: a later
change to those files cannot move the inputs. The analyst lake copies
the sfgen value distributions; the corpus copies the docgen shape
(Zipfian vocabulary, planted exact and near duplicates).

Three generators:

- :class:`ImdbWorld` — the seven IMDb TSV dumps (``\\N`` sentinels,
  1-3 genres, > 3 principals per title, specials with a ``\\N``
  season, oscar-bait akas) plus seeded daily deltas with a keyed
  ratings changelog.
- :func:`analyst_lake` — a TPC-H/events-shaped parquet lake.
- :func:`corpus` — documents with planted duplicates and their ground
  truth.

The row counts and byte sizes of the inputs a run uses are printed
beside its metrics.
"""

from __future__ import annotations

import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N = "\\N"

RAW_TABLES = (
    "title_basics",
    "title_ratings",
    "title_crew",
    "name_basics",
    "title_principals",
    "title_akas",
    "title_episode",
)

COLUMNS = {
    "title_basics": (
        "tconst", "titleType", "primaryTitle", "originalTitle", "isAdult",
        "startYear", "endYear", "runtimeMinutes", "genres",
    ),
    "title_ratings": ("tconst", "averageRating", "numVotes"),
    "title_crew": ("tconst", "directors", "writers"),
    "name_basics": ("nconst", "primaryName", "birthYear", "primaryProfession"),
    "title_principals": ("tconst", "ordering", "nconst", "category", "job"),
    "title_akas": ("titleId", "ordering", "title", "region"),
    "title_episode": ("tconst", "parentTconst", "seasonNumber", "episodeNumber"),
}

GENRES = (
    "Action", "Adventure", "Animation", "Biography", "Comedy", "Crime",
    "Documentary", "Drama", "Family", "Fantasy", "History", "Horror",
    "Music", "Mystery", "Romance", "Sci-Fi", "Sport", "Thriller", "War",
    "Western",
)
WORDS = (
    "night", "river", "blue", "city", "last", "king", "dark", "summer",
    "road", "house", "star", "silent", "broken", "golden", "lost", "wild",
    "secret", "winter", "garden", "storm", "iron", "glass", "paper", "moon",
)
FIRST = ("Ada", "Ben", "Cara", "Dev", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun")
LAST = ("Abe", "Berg", "Cole", "Diaz", "Endo", "Fox", "Gray", "Hale", "Ito", "Park")
REGIONS = ("US", "GB", "DE", "FR", "JP", "IN", "BR", "ES")


def gz(text: str) -> bytes:
    """Deterministic gzip: no timestamp or file name in the header."""
    return gzip.compress(text.encode(), compresslevel=6, mtime=0)


def _title(rng: np.random.Generator) -> str:
    k = int(rng.integers(1, 4))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)).title()


class ImdbWorld:
    """Mutable IMDb-shaped world: the base dumps plus daily deltas.

    Tables are dicts keyed by id so a delta can update, add and delete
    titles; :meth:`dumps` renders every table as gzipped TSV bytes in a
    fixed key order. :meth:`advance` applies one seeded day and returns
    the ratings changelog rows it implies (op I/U/D, seq = day).
    """

    def __init__(self, seed: int, n_titles: int):
        self.rng = np.random.default_rng([seed, 11])
        self.day = 0
        self.next_id = 1
        self.basics: dict[str, list[str]] = {}
        self.ratings: dict[str, list[str]] = {}
        self.crew: dict[str, list[str]] = {}
        self.principals: dict[str, list[list[str]]] = {}
        self.akas: dict[str, list[list[str]]] = {}
        self.episode: dict[str, list[str]] = {}
        self.series: list[str] = []
        self.names: dict[str, list[str]] = {}
        n_names = max(50, n_titles // 2)
        rng = self.rng
        for i in range(1, n_names + 1):
            nconst = f"nm{i:07d}"
            born = str(int(rng.integers(1920, 2005))) if rng.random() > 0.3 else N
            self.names[nconst] = [
                nconst,
                f"{FIRST[int(rng.integers(0, 10))]} {LAST[int(rng.integers(0, 10))]}",
                born,
                "actor,producer" if rng.random() < 0.5 else "actress",
            ]
        n_series = max(4, n_titles // 50)
        for _ in range(n_series):
            self._add_title("tvSeries")
        kinds = rng.choice(
            np.array(["movie", "tvEpisode", "short"]),
            n_titles - n_series,
            p=[0.4, 0.5, 0.1],
        )
        for kind in kinds:
            self._add_title(str(kind))

    # -- building blocks -------------------------------------------------
    def _new_tconst(self) -> str:
        t = f"tt{self.next_id:08d}"
        self.next_id += 1
        return t

    def _add_title(self, kind: str) -> tuple[str, list[str] | None]:
        """Add one title of ``kind``; returns (tconst, ratings row)."""
        rng = self.rng
        t = self._new_tconst()
        year = int(rng.integers(2000, 2025))
        start = str(year) if rng.random() > 0.03 else N
        runtime = str(int(rng.integers(60, 200))) if rng.random() > 0.05 else N
        if kind == "movie" and rng.random() > 0.02:
            k = int(rng.integers(1, 4))
            genres = ",".join(
                GENRES[i] for i in sorted(rng.choice(len(GENRES), k, replace=False))
            )
        elif kind == "tvSeries":
            genres = GENRES[int(rng.integers(0, len(GENRES)))]
        else:
            genres = N
        name = _title(rng)
        end = str(year + int(rng.integers(1, 12))) if kind == "tvSeries" else N
        self.basics[t] = [t, kind, name, name, "0", start, end, runtime, genres]
        if kind == "tvSeries":
            self.series.append(t)
        if kind == "tvEpisode":
            parent = self.series[int(rng.zipf(1.6) - 1) % len(self.series)]
            if rng.random() < 0.06:  # special: no season, often no number
                season, number = N, (N if rng.random() < 0.7 else "1")
            else:
                season = str(int(rng.integers(1, 9)))
                number = str(int(rng.integers(1, 25)))
            self.episode[t] = [t, parent, season, number]
        rating = None
        if kind in ("movie", "tvEpisode") and rng.random() < 0.85:
            rating = [
                t,
                f"{rng.integers(10, 101) / 10:.1f}",
                str(int(rng.lognormal(6.0, 2.0)) + 5),
            ]
            self.ratings[t] = rating
        if kind == "movie":
            names = list(self.names)
            directors = ",".join(
                names[int(i)] for i in rng.integers(0, len(names), int(rng.integers(1, 3)))
            )
            writers = N if rng.random() < 0.3 else names[int(rng.integers(0, len(names)))]
            self.crew[t] = [t, directors, writers]
            akas = [[t, "1", name, "US"]]
            for j in range(int(rng.integers(0, 3))):
                akas.append([t, str(j + 2), _title(rng), REGIONS[int(rng.integers(0, 8))]])
            if rng.random() < 0.02:
                akas.append([t, str(len(akas) + 1), f"{name}: An Oscar Story", "US"])
            if rng.random() < 0.01:
                akas.append([t, str(len(akas) + 1), f"{name} (Academy Award edition)", "GB"])
            self.akas[t] = akas
        if kind in ("movie", "tvEpisode"):
            k = int(rng.integers(2, 7))
            rows = []
            people = rng.integers(1, len(self.names) + 1, k)
            for j in range(k):
                cat = ("actor", "actress", "actor", "director", "writer")[int(rng.integers(0, 5))]
                order = str(j + 1) if rng.random() > 0.03 else N
                rows.append([t, order, f"nm{int(people[j]):07d}", cat, N])
            self.principals[t] = rows
        return t, rating

    # -- rendering -------------------------------------------------------
    def rows(self, table: str) -> list[list[str]]:
        if table == "title_basics":
            return list(self.basics.values())
        if table == "title_ratings":
            return list(self.ratings.values())
        if table == "title_crew":
            return list(self.crew.values())
        if table == "name_basics":
            return list(self.names.values())
        if table == "title_episode":
            return list(self.episode.values())
        nested = self.principals if table == "title_principals" else self.akas
        return [r for rows in nested.values() for r in rows]

    def dumps(self) -> dict[str, bytes]:
        out = {}
        for table in RAW_TABLES:
            lines = ["\t".join(COLUMNS[table])]
            lines.extend("\t".join(r) for r in self.rows(table))
            out[table] = gz("\n".join(lines) + "\n")
        return out

    def ratings_snapshot(self) -> list[dict]:
        """Current keyed ratings state as changelog-shaped rows."""
        return [self._rating_row(r, "I") for r in self.ratings.values()]

    def _rating_row(self, r: list[str], op: str) -> dict:
        return {
            "tconst": r[0],
            "titleType": self.basics[r[0]][1],
            "averageRating": float(r[1]),
            "numVotes": int(r[2]),
            "op": op,
            "seq": self.day,
        }

    # -- deltas ----------------------------------------------------------
    def advance(self, change_share: float = 0.01, adds: int = 6, deletes: int = 2) -> list[dict]:
        """One seeded day: ~``change_share`` of ratings move, ``adds``
        movies and episodes appear, ``deletes`` rated titles vanish.
        Names, crew and akas are untouched, so their dumps stay
        byte-identical and ingest change detection must skip them."""
        self.day += 1
        rng = self.rng
        log: list[dict] = []
        keys = list(self.ratings)
        n_change = max(1, int(len(keys) * change_share))
        for i in rng.choice(len(keys), n_change, replace=False):
            r = self.ratings[keys[int(i)]]
            r[2] = str(int(r[2]) + int(rng.integers(1, 500)))
            r[1] = f"{min(10.0, max(1.0, float(r[1]) + (rng.integers(-3, 4) / 10))):.1f}"
            log.append(self._rating_row(r, "U"))
        keys = [k for k in self.ratings if k not in {row["tconst"] for row in log}]
        for i in sorted(rng.choice(len(keys), deletes, replace=False), reverse=True):
            t = keys[int(i)]
            log.append(self._rating_row(self.ratings.pop(t), "D"))
            self.basics.pop(t)
            self.episode.pop(t, None)
            self.principals.pop(t, None)
            self.crew.pop(t, None)
            self.akas.pop(t, None)
        for j in range(adds):
            t, rating = self._add_title("movie" if j % 2 == 0 else "tvEpisode")
            # crew/akas of new titles would change those dumps too; keep
            # the new titles credit-less there so the skip share is real
            self.crew.pop(t, None)
            self.akas.pop(t, None)
            if rating is not None:
                log.append(self._rating_row(rating, "I"))
        return log


# ---------------------------------------------------------------------------
# Analyst lake: TPC-H + events shapes, distributions copied from sfgen.
# ---------------------------------------------------------------------------

def _ts_us(days_from: int, days_to: int, n: int, rng, base: str = "1995-01-01"):
    days = rng.integers(days_from, days_to, n)
    return np.datetime64(base, "us") + days.astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def analyst_lake(out: str, seed: int, scale: float) -> dict[str, int]:
    """Write region..events parquet files under ``out`` at ``scale``
    times the sf0.01 row counts; returns rows per table."""
    os.makedirs(out, exist_ok=True)
    s = lambda n: max(1, int(round(n * scale)))  # noqa: E731
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rng = np.random.default_rng([seed, 21])
    n_cust, n_supp, n_part, n_ord = s(1500), s(100), s(2000), s(15000)
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    adjs = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(adjs[rng.integers(0, 8, n_part)], " "),
            nouns[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 1),
    })
    okey = np.arange(n_ord, dtype=np.int64)
    tables["orders"] = pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts_us(0, 2405, n_ord, rng),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    lines = 1 + np.minimum(rng.poisson(3.0, n_ord), 16)
    lkey = np.repeat(okey, lines)
    n_li = lkey.size
    tables["lineitem"] = pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (
            np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
        ).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(1, 2500, n_li, rng),
    })
    n_ev, n_users = s(10000), s(150)
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(
            ["click", "error", "purchase", "signup", "view"]
        )[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Corpus with planted duplicates.
# ---------------------------------------------------------------------------

def corpus(seed: int, n_docs: int, vocab_size: int = 2000) -> dict:
    """Documents over a Zipfian vocabulary. Plants exact copies and
    near duplicates whose word-trigram Jaccard lies in [0.85, 0.95].

    Returns ``{"docs": [(doc_id, text, lang, source)],
    "exact_survivors": sorted ids kept by first-id exact dedup,
    "near_pairs": sorted (a, b) planted near-dup pairs}``."""
    rng = np.random.default_rng([seed, 31])
    vocab = np.array([f"w{i:04d}" for i in range(vocab_size)])
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    lens = rng.integers(40, 120, n_docs)
    words = vocab[rng.choice(vocab_size, int(lens.sum()), p=p)]
    texts = [list(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    n_exact = n_docs // 50
    n_near = n_docs // 20
    targets = rng.choice(np.arange(1, n_docs), n_exact + n_near, replace=False)
    taken = {int(t) for t in targets}
    near_pairs = []
    for i, tgt in enumerate(targets):
        tgt = int(tgt)
        # the source is an untouched earlier document
        src = int(rng.integers(0, tgt))
        while src in taken:
            src = int(rng.integers(0, tgt))
        ws = list(texts[src])
        if i >= n_exact:
            # one word replaced mid-document changes 3 of the n-2 word
            # trigrams: Jaccard (n-5)/(n+1), in [0.85, 0.95] for 40-119 words
            ws[int(rng.integers(3, len(ws) - 3))] = "zzplanted"
            near_pairs.append((src, tgt))
        texts[tgt] = ws
    langs = np.array(["en", "de", "es", "fr"])[rng.choice(4, n_docs, p=[0.7, 0.1, 0.1, 0.1])]
    docs = [
        (i, " ".join(texts[i]), str(langs[i]), f"src{i % 20}") for i in range(n_docs)
    ]
    # exact dedup keeps the smallest doc_id per distinct text
    first: dict[str, int] = {}
    for doc_id, text, _, _ in docs:
        first.setdefault(text, doc_id)
    return {
        "docs": docs,
        "exact_survivors": sorted(first.values()),
        "near_pairs": sorted(near_pairs),
    }


# ---------------------------------------------------------------------------
# The benchmark's inputs.
# ---------------------------------------------------------------------------

IMDB_TITLES = 1200
IMDB_NIGHTS = 3  # the last night is the timed one
LAKE_SCALE = 0.2  # x the sf0.01 row counts
CORPUS_DOCS = 300
BM25_QUERIES = 8


def imdb_nights(seed: int) -> tuple[list[dict[str, bytes]], list[list[dict]], ImdbWorld]:
    """Every night's gzipped dumps and ratings changelog, oldest first;
    night 0's changelog inserts the whole ratings table."""
    world = ImdbWorld(seed, IMDB_TITLES)
    logs = [world.ratings_snapshot()]
    dumps = [world.dumps()]
    for _ in range(1, IMDB_NIGHTS):
        logs.append(world.advance())
        dumps.append(world.dumps())
    return dumps, logs, world


def analyst_inputs(lake: str, seed: int) -> dict:
    """Write the analyst lake with its ``documents`` table under
    ``lake``; returns row counts, the corpus ground truth and the BM25
    query batch."""
    rows = analyst_lake(lake, seed, LAKE_SCALE)
    c = corpus(seed, CORPUS_DOCS)
    ids, texts, langs, sources = zip(*c["docs"])
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()), "text": list(texts),
            "lang": list(langs), "source": list(sources),
        }),
        os.path.join(lake, "documents.parquet"),
    )
    rows["documents"] = CORPUS_DOCS
    rng = np.random.default_rng([seed, 51])
    queries = [
        (int(i), " ".join(texts[int(i)].split(" ")[:5]))
        for i in rng.choice(CORPUS_DOCS, BM25_QUERIES, replace=False)
    ]
    return {"rows": rows, "truth": c, "queries": queries}
