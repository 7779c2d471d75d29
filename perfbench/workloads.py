"""The benchmark's workloads. Each one drives the engine only through
its public functions, from the calling thread, and wraps every call
into a layer in a tracer span named after the layer.

A workload is a class whose steps :mod:`run` calls in order:
``generate`` (build the seeded inputs; not timed), ``land(spark)`` if
the workload has one (state earlier runs left behind; once, not
timed), ``register(spark)`` (make the inputs visible to the session;
part of set-up, repeated with each session) and
``measure(spark)`` (a fixed, seeded set of timed operations, each
recorded with :meth:`Context.op`, and the untimed correctness checks).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import traceback
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from spans import Tracer


class Context:
    """Per-run state shared by :mod:`run` and a workload."""

    def __init__(self, work: str, seed: int, tracer: Tracer, cpu_clock):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.cpu_clock = cpu_clock  # () -> (CPU s, {JIT thread id: CPU s})
        self.ops: list[float] = []  # seconds per completed operation
        self.cpu: list[float] = []  # CPU seconds per completed operation, JIT excluded
        self.jit: list[float] = []  # JIT compiler CPU seconds per completed operation
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.info: dict = {}  # printed beside the metrics
        self.layer: dict[str, float] = {}  # per-layer values a workload measures itself

    @contextmanager
    def op(self, name: str, **attrs):
        """One timed operation: counted as attempted, timed as an op
        when it completes, counted as failed when it raises. Its CPU
        time is that of the whole process tree less the JIT compiler
        threads' share, which is recorded apart."""
        self.attempted += 1
        mark = self.cpu_clock()
        start = time.perf_counter()
        try:
            with self.tracer.span(name, **attrs):
                yield
        except Exception:
            self.fail(f"{name} raised:\n{traceback.format_exc(limit=4)}")
        else:
            self.ops.append(time.perf_counter() - start)
            cpu, jit = self.cpu_since(mark)
            self.cpu.append(cpu)
            self.jit.append(jit)
            self.info.setdefault("op_ms", []).append([  # name, wall, CPU, JIT CPU
                attrs.get("query", name),
                *(round(x * 1000, 1) for x in (self.ops[-1], self.cpu[-1], jit)),
            ])

    def cpu_since(self, mark) -> tuple[float, float]:
        """CPU seconds since ``mark``, a ``cpu_clock()`` reading, less
        those of the JIT compiler threads, and the latter apart."""
        total, jit = self.cpu_clock()
        compiled = sum(t - mark[1].get(tid, 0.0) for tid, t in jit.items())
        return total - mark[0] - compiled, compiled

    def check(self, what: str, problems: list[str]) -> None:
        """An untimed correctness check of an operation attempted above;
        a problem marks one more operation failed."""
        if problems:
            self.fail(f"{what}: " + "; ".join(problems[:5]))

    def fail(self, message: str) -> None:
        self.failed += 1
        self.problems.append(message)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def data_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def lake_file_stats(ctx: Context, paths: list[str]) -> None:
    """Parquet files one pass left under ``paths``, and their bytes."""
    files = [f for p in paths for f in data_files(p)]
    ctx.layer["sources.lake.files_written"] = len(files)
    ctx.layer["_lake_bytes_written"] = sum(os.path.getsize(f) for f in files)


# ---------------------------------------------------------------------------
# imdb_nightly
# ---------------------------------------------------------------------------

LAKE_TABLES = (
    "analytics_movie_facts",
    "analytics_episode_facts",
    "series_season_summary",
    "analytics_quality",
)
FEED_SCHEMA = "tconst string, titleType string, averageRating double, numVotes long, op string, seq long"
FEED_ARROW = pa.schema([
    ("tconst", pa.string()), ("titleType", pa.string()),
    ("averageRating", pa.float64()), ("numVotes", pa.int64()),
    ("op", pa.string()), ("seq", pa.int64()),
])


def run_date(night: int) -> str:
    return (np.datetime64("2024-01-01") + np.timedelta64(night, "D")).astype(str).replace("-", "")


def fetcher_for(dumps: dict[str, bytes]):
    """The ingest transport over in-memory dumps; the etag is the
    content hash, so a byte-identical dump is detected as unchanged."""
    def fetch(name: str):
        data = dumps[name]
        meta = {"etag": hashlib.md5(data).hexdigest(), "content_length": len(data)}
        return meta, lambda: iter([data])

    return fetch


def replay(logs: list[list[dict]]) -> list[dict]:
    """Keyed state after the changelogs, in the snapshot's columns."""
    state: dict[str, dict] = {}
    for log in logs:
        for row in log:
            if row["op"] == "D":
                state.pop(row["tconst"], None)
            else:
                state[row["tconst"]] = {k: v for k, v in row.items() if k != "op"}
    return [state[k] for k in sorted(state)]


def ge_validate(movies, episodes) -> int:
    """The reference's expectation gate, as the example pipeline runs
    it; raises on a violated expectation. Returns the number checked."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.quality import (
        expect_min_rows,
        expect_not_null,
        expect_unique,
        expect_values_between,
        validate,
    )

    regular = episodes.filter(F.col("seasonNumber") != -1)
    results = [
        expect_min_rows(movies, 1),
        expect_not_null(movies, "tconst"),
        expect_unique(movies, ["tconst", "genre"]),
        expect_values_between(movies, "averageRating", 0, 10, mostly=0.995),
        expect_values_between(movies, "numVotes", 0, None),
        expect_values_between(movies, "runtimeMinutes", 1, None, mostly=0.98),
        expect_min_rows(episodes, 1),
        expect_not_null(episodes, "tconst"),
        expect_values_between(regular, "averageRating", 0, 10, mostly=0.99),
        expect_values_between(regular, "seasonNumber", 1, None, mostly=0.99),
        expect_values_between(regular, "episodeNumber", 1, None, mostly=0.99),
    ]
    validate(results)
    return len(results)


class ImdbNightly:
    """Tonight's run of the reference's nightly job, cold in a fresh
    process, as a nightly job runs. (Timing it after an untimed warm-up
    job on other inputs was tried: the warm pass took 35 s against
    41-46 s cold, and the warm-up alone 68 s, which the run budget
    cannot hold.)

    Set-up lays down what earlier nights left: their dumps in the raw
    zone, last night's ratings snapshot and every night's ratings
    changelog. The timed operation is tonight's whole job, composed as
    ``examples/run_imdb_pipeline.py`` composes it and followed by the
    ratings refresh: change-detected ingest, TSV scan, ETL and
    partitioned lake write, catalog, the GE gate on tonight's slice,
    the SQL models and reports, the CDC fold of tonight's ratings
    changelog with its SCD2 history, the IVM refresh on an availableNow
    trigger (history, then tonight), retention, and one read of the
    refreshed view."""

    name = "imdb_nightly"
    KEEP_RUNS = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.night = gen.IMDB_NIGHTS - 1
        self.raw = os.path.join(ctx.work, "raw")
        self.lake = os.path.join(ctx.work, "lake")
        self.feed = os.path.join(ctx.work, "feed")
        self.snap = os.path.join(ctx.work, "ratings_snapshot")
        self.hist = os.path.join(ctx.work, "ratings_scd2")
        self.state = os.path.join(ctx.work, "ivm_state")
        self.ckpt = os.path.join(ctx.work, "ivm_ckpt")

    def generate(self) -> None:
        self.dumps, self.logs, world = gen.imdb_nights(self.ctx.seed)
        tonight = self.dumps[-1]
        rows = {t: len(world.rows(t)) for t in gen.RAW_TABLES}
        rows["ratings_changelog"] = len(self.logs[-1])
        self.ctx.info.update({
            "input_rows": rows,
            "input_bytes": sum(len(b) for b in tonight.values()),
            "unchanged_dumps": sorted(
                t for t in gen.RAW_TABLES if tonight[t] == self.dumps[-2][t]
            ),
        })

    def _land_changelog(self, night: int) -> None:
        path = os.path.join(self.feed, f"night{night:03d}.parquet")
        pq.write_table(pa.Table.from_pylist(self.logs[night], schema=FEED_ARROW), path)
        # the file stream source orders files by modification time
        stamp = 1_700_000_000 + 10 * night
        os.utime(path, (stamp, stamp))

    def land(self, spark) -> None:
        """Earlier nights' raw slices, changelogs and last snapshot."""
        from aws_imdb_data_pipeline_spark.lifecycle.ingest import ingest_datasets

        os.makedirs(self.feed)
        for night in range(self.night):
            ingest_datasets(list(gen.RAW_TABLES), fetcher_for(self.dumps[night]),
                            self.raw, run_date(night))
            self._land_changelog(night)
        snap = os.path.join(self.snap, f"run_date={run_date(self.night - 1)}")
        os.makedirs(snap)
        pq.write_table(
            pa.Table.from_pylist(replay(self.logs[:-1]), schema=FEED_ARROW.remove(4)),
            os.path.join(snap, "part-0.parquet"),
        )

    def register(self, spark) -> None:
        """Tonight's changelog lands."""
        self._land_changelog(self.night)

    def tsv_paths(self) -> dict[str, str]:
        from aws_imdb_data_pipeline_spark.lifecycle.ingest import latest_slice

        return {
            n: os.path.join(latest_slice(self.raw, n), f"{n}.tsv.gz") for n in gen.RAW_TABLES
        }

    def job(self, spark) -> dict:
        from pyspark.sql import functions as F

        from aws_imdb_data_pipeline_spark.lifecycle import register_lake_table
        from aws_imdb_data_pipeline_spark.lifecycle.cdc import apply_changelog, scd2_from_changelog
        from aws_imdb_data_pipeline_spark.lifecycle.ingest import ingest_datasets, latest_slice
        from aws_imdb_data_pipeline_spark.lifecycle.retention import expire_runs
        from aws_imdb_data_pipeline_spark.pipelines import ImdbRaw, run_etl
        from aws_imdb_data_pipeline_spark.pipelines.measures import (
            series_finale_rating,
            series_pilot_rating,
        )
        from aws_imdb_data_pipeline_spark.pipelines.models import top_genres, top_movies_by_genre
        from aws_imdb_data_pipeline_spark.pipelines.sql_models import materialize_table, run_models
        from aws_imdb_data_pipeline_spark.sources.tsv import read_imdb_tsv
        from aws_imdb_data_pipeline_spark.streaming.ivmserve import (
            current_view,
            stream_ivm_grouped_agg,
        )

        tr, night, day = self.ctx.tracer, self.night, run_date(self.night)
        dumps = self.dumps[night]
        out: dict = {}
        with tr.span("lifecycle.ingest") as s:
            res = ingest_datasets(list(gen.RAW_TABLES), fetcher_for(dumps), self.raw, day)
            fetched = [n for n, st in res.statuses.items() if st == "downloaded"]
            s["attrs"]["datasets"] = len(res.statuses)
            s["attrs"]["skipped"] = len(res.statuses) - len(fetched)
        out["ingested"] = sum(len(dumps[n]) for n in fetched)
        with tr.span("sources.tsv.scan"):
            raw = ImdbRaw(**{
                n: read_imdb_tsv(spark, latest_slice(self.raw, n)) for n in gen.RAW_TABLES
            })
        with tr.span("pipelines.etl"):
            outputs = run_etl(raw, day, out_root=self.lake)
        with tr.span("lifecycle.catalog"):
            tables = {
                t: register_lake_table(spark, t, os.path.join(self.lake, t))
                for t in LAKE_TABLES[:3]
            }
        with tr.span("quality.validate") as s:
            s["attrs"]["expectations"] = ge_validate(*[
                tables[t].filter(F.col("run_date") == day)
                for t in ("analytics_movie_facts", "analytics_episode_facts")
            ])
        with tr.span("pipelines.models"):
            models = run_models(spark)
            materialize_table(spark, "marts_top_movies_by_genre", "top_movies_table")
        with tr.span("pipelines.report"):
            top_movies_by_genre(models["marts_movie_facts_view"], n=5).collect()
            top_genres(tables["analytics_movie_facts"]).collect()
            eps = tables["analytics_episode_facts"]
            series_pilot_rating(eps).collect()
            series_finale_rating(eps).collect()
        for df in outputs.values():
            df.unpersist()
        with tr.span("lifecycle.cdc_apply") as s:
            prev = spark.read.parquet(os.path.join(self.snap, f"run_date={run_date(night - 1)}"))
            changes = spark.read.parquet(os.path.join(self.feed, f"night{night:03d}.parquet"))
            apply_changelog(prev, changes, ["tconst"], ["seq"]).write.mode("overwrite").parquet(
                os.path.join(self.snap, f"run_date={day}")
            )
            scd2_from_changelog(
                spark.read.schema(FEED_SCHEMA).parquet(self.feed), ["tconst"], ["seq"],
                ["averageRating", "numVotes"],
            ).write.mode("overwrite").parquet(self.hist)
            s["attrs"]["changed_rows"] = len(self.logs[night])
        with tr.span("streaming.ivm_trigger") as s:
            stream = (
                spark.readStream.schema(FEED_SCHEMA)
                .option("maxFilesPerTrigger", night)  # history, then tonight
                .parquet(self.feed)
            )
            q = stream_ivm_grouped_agg(
                stream, self.state, self.ckpt, keys=["tconst"], seq_cols=["seq"],
                group_cols=["titleType"], val_col="numVotes",
                trigger_available_now=True,
            )
            try:
                q.awaitTermination(120)
            finally:
                q.stop()
            s["attrs"]["batches"] = sum(p["numInputRows"] > 0 for p in q.recentProgress)
        with tr.span("lifecycle.retention") as s:
            paths = [os.path.join(self.raw, t) for t in gen.RAW_TABLES]
            paths += [os.path.join(self.lake, t) for t in LAKE_TABLES] + [self.snap]
            s["attrs"]["bytes_freed"] = sum(
                expire_runs(p, self.KEEP_RUNS)["reclaimed_bytes"] for p in paths
            )
        start = time.perf_counter()
        with tr.span("read"):
            out["view"] = current_view(spark, self.state).toPandas()
        out["read_ms"] = (time.perf_counter() - start) * 1000
        return out

    def measure(self, spark) -> None:
        ctx = self.ctx
        done: dict = {}
        with ctx.op("batch"):
            done = self.job(spark)
        if "view" not in done:
            return
        tonight = run_date(self.night)
        ctx.layer["read_p50_ms"] = done["read_ms"]
        lake_file_stats(ctx, [os.path.join(self.lake, t) for t in LAKE_TABLES])
        ctx.layer["stored_bytes_ratio"] = dir_bytes(self.lake) / done["ingested"]
        ctx.check(f"lake {tonight} vs DuckDB",
                  oracle.imdb_lake_problems(self.tsv_paths(), self.lake, tonight))
        snap = spark.read.parquet(os.path.join(self.snap, f"run_date={tonight}")).toPandas()
        ctx.check("ratings snapshot and IVM view vs DuckDB replay",
                  oracle.cdc_problems(self.feed, snap, done["view"]))


# ---------------------------------------------------------------------------

# Relational part of the analyst's session. Named here, not taken in
# registry order: the registry orders itself from the repository's
# verification history. One of the cheaper queries from six of the ten
# analyst families; relational3, relational5, partsupp and measures are
# left out to keep a run inside the time budget.
RELATIONAL = (
    "latest_day_orders",         # relational
    "customers_without_orders",  # relational2
    "orders_status_pivot",       # relational4
    "user_funnel",               # behavioral
    "dq_profile_orders",         # quality
    "events_hourly_counts",      # streaming_batch
)
CURATION = ("exact_dedup", "minhash", "textstats", "bm25_topk", "export")


class LakeAnalyst:
    """One closed-loop analyst client over a parquet lake that holds
    TPC-H/events tables and a document corpus.

    The session mixes oracled relational queries from the plans
    registry with curation steps on the corpus (exact dedup, MinHash
    near-dup search, quality/language filter, BM25 top-k served from
    the token-stats artifact, export of the curated corpus). An
    untimed pass runs every step once, which warms the JVM and checks
    each result; then two seeded permutations of the steps run, each
    step forced with the noop sink (the export writes), and the second
    is timed."""

    name = "lake_analyst"
    JACCARD = 0.8
    MIN_QUALITY = 0.3
    TOP_K = 5

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.lake = os.path.join(ctx.work, "lake")
        self.export = os.path.join(ctx.work, "curated")

    def generate(self) -> None:
        inputs = gen.analyst_inputs(self.lake, self.ctx.seed)
        self.truth, self.queries = inputs["truth"], inputs["queries"]
        self.ctx.info["input_rows"] = inputs["rows"]
        self.ctx.info["planted"] = {
            "exact": gen.CORPUS_DOCS - len(self.truth["exact_survivors"]),
            "near": len(self.truth["near_pairs"]),
        }
        self.ctx.info["input_bytes"] = dir_bytes(self.lake)

    def register(self, spark) -> None:
        from aws_imdb_data_pipeline_spark.sources.tables import load_table

        for t in (*oracle.ANALYST_TABLES, "documents"):
            load_table(spark, self.lake, t)

    # -- curation steps; each returns a frame or runs its write ---------
    def _docs(self, spark):
        from aws_imdb_data_pipeline_spark.sources.tables import load_table

        return load_table(spark, self.lake, "documents")

    def _token_stats(self, spark):
        from aws_imdb_data_pipeline_spark.extensions.tokenindex import token_stats
        from aws_imdb_data_pipeline_spark.lifecycle.artifacts import artifact_dir, read_artifact_meta

        hit = read_artifact_meta(artifact_dir("token_stats", self.lake)) is not None
        name = "lifecycle.artifacts" if hit else "extensions.tokenindex_build"
        with self.ctx.tracer.span(name, hit=int(hit)):
            return token_stats(spark, self.lake)

    def curation(self, spark, step: str, consume):
        """Run one curation step inside its span; ``consume`` forces the
        step's frame (collect in the checked pass, noop sink when timed)
        and its result is returned. The export step writes instead."""
        from pyspark.sql import functions as F

        from aws_imdb_data_pipeline_spark.extensions import dedup, retrieval, textstats
        from aws_imdb_data_pipeline_spark.extensions.dedup import release_pinned_shingles
        from aws_imdb_data_pipeline_spark.sources.lake import write_partitioned

        tr, docs = self.ctx.tracer, self._docs(spark)
        with tr.span(f"extensions.{step}" if step != "export" else "sources.lake.write"):
            if step == "exact_dedup":
                return consume(dedup.exact_dedup(docs, ["text"], [F.col("doc_id")]).select("doc_id"))
            if step == "minhash":
                try:
                    return consume(
                        dedup.minhash_dedup_pairs(docs, "doc_id", "text", threshold=self.JACCARD)
                    )
                finally:
                    release_pinned_shingles()
            filtered = (
                textstats.language_id(textstats.quality_score(docs))
                .filter(F.col("quality") >= self.MIN_QUALITY)
                .select("doc_id", "text", "lang", "source", "quality", "lang_pred")
            )
            if step == "textstats":
                return consume(filtered)
            if step == "export":
                return write_partitioned(filtered, self.export, ["lang"], mode="overwrite")
            ts = self._token_stats(spark)
            queries = spark.createDataFrame(self.queries, "query_id long, qtext string")
            tf = ts.tfl().select(
                "doc_id", F.col("lword").alias("__t"),
                F.col("tf").alias("__tf"), F.col("dl").alias("__dl"),
            )
            dfreq = ts.dfl().select(F.col("lword").alias("__t"), F.col("df").alias("__df"))
            return consume(retrieval.bm25_topk(
                docs, queries, k=self.TOP_K, corpus=(tf, dfreq, (ts.n_docs, ts.avgdl))
            ))

    def _check_curation(self, step: str, rows) -> None:
        ctx, truth = self.ctx, self.truth
        if step == "exact_dedup":
            got = sorted(r.doc_id for r in rows)
            ctx.check("exact-dedup survivors", [] if got == truth["exact_survivors"] else
                      [f"{len(got)} survivors, expected {len(truth['exact_survivors'])}"])
        elif step == "minhash":
            found = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in rows}
            planted = truth["near_pairs"]
            ctx.layer["neardup_recall"] = len(found & set(planted)) / len(planted)
            self.confirmed = len(found)
            ctx.check("minhash pairs",
                      oracle.minhash_problems(rows, truth["docs"], planted, self.JACCARD))
        elif step == "textstats":
            from aws_imdb_data_pipeline_spark.extensions.textstats import STOPWORDS

            self.curated = sorted(r.doc_id for r in rows)
            ctx.check("quality filter", oracle.quality_problems(
                rows, oracle.quality_rows(truth["docs"], STOPWORDS, self.MIN_QUALITY)))
        elif step == "bm25_topk":
            ctx.check("bm25 top-5", oracle.bm25_problems(
                rows, oracle.bm25_top(truth["docs"], self.queries, self.TOP_K)))
        else:
            got = duckdb_doc_ids(self.export)
            ctx.check("export", [] if got == self.curated else
                      [f"{len(got)} documents exported, {len(self.curated)} kept"])

    def measure(self, spark) -> None:
        from aws_imdb_data_pipeline_spark.lifecycle.artifacts import artifact_dir
        from aws_imdb_data_pipeline_spark.plans import REGISTRY

        ctx, tr = self.ctx, self.ctx.tracer
        shutil.rmtree(artifact_dir("token_stats", self.lake), ignore_errors=True)
        con = oracle.analyst_connection(self.lake)
        self.out_rows: dict[str, int] = {}
        steps = [("query", q) for q in RELATIONAL] + [("curation", c) for c in CURATION]
        # untimed pass: warms every step once and checks its result
        for kind, name in steps:
            ctx.attempted += 1
            try:
                with tr.span("warmup", query=name):
                    if kind == "query":
                        got = REGISTRY[name].fn(spark, self.lake).toPandas()
                        self.out_rows[name] = len(got)
                        ctx.check(f"query {name}",
                                  oracle.compare_frames(got, con.execute(REGISTRY[name].oracle).df()))
                    else:
                        rows = self.curation(spark, name, lambda df: df.collect())
                        self._check_curation(name, rows)
            except Exception:
                ctx.fail(f"warm-up {name} raised:\n{traceback.format_exc(limit=4)}")
        con.close()
        rng = np.random.default_rng([ctx.seed, 41])
        # an untimed round, then the timed one: right after the checked
        # pass the JIT is still speeding the steps up
        for timed in (False, True):
            for i in rng.permutation(len(steps)):
                kind, name = steps[int(i)]
                if timed:
                    with ctx.op("query", query=name):
                        self._forced(spark, kind, name)
                    continue
                ctx.attempted += 1
                try:
                    with tr.span("warmup", query=name):
                        self._forced(spark, kind, name)
                except Exception:
                    ctx.fail(f"warm-up {name} raised:\n{traceback.format_exc(limit=4)}")
        lake_file_stats(ctx, [self.export])
        ctx.layer["stored_bytes_ratio"] = dir_bytes(self.export) / os.path.getsize(
            os.path.join(self.lake, "documents.parquet"))
        shutil.rmtree(artifact_dir("token_stats", self.lake), ignore_errors=True)
        if ctx.tracer.traced:
            self._candidates(spark)

    def _forced(self, spark, kind: str, name: str) -> None:
        """One step of the session, forced with the noop sink."""
        from aws_imdb_data_pipeline_spark.plans import REGISTRY

        if kind == "query":
            with self.ctx.tracer.span("plans.build"):
                df = REGISTRY[name].fn(spark, self.lake)
            with self.ctx.tracer.span("plans.exec"):
                noop(df)
        else:
            self.curation(spark, name, noop)

    def _candidates(self, spark) -> None:
        """Traced run only: count the LSH candidate pairs the MinHash
        step verifies, rebuilt from the same public building blocks
        with minhash_dedup_pairs' defaults, so pair precision can be
        reported."""
        from aws_imdb_data_pipeline_spark.extensions.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
            shingle_docs,
        )

        with self.ctx.tracer.span("extensions.candidates"):
            sh = shingle_docs(self._docs(spark), "doc_id", "text", k=3)
            sig = minhash_signatures(sh, "doc_id", "__shingles", 64)
            n = lsh_candidate_pairs(sig, "doc_id", "__sig", 16, 4).count()
        self.ctx.layer["extensions.candidate_pairs"] = n
        self.ctx.layer["extensions.pair_precision"] = getattr(self, "confirmed", 0) / n if n else 0.0


def noop(df) -> None:
    """Force every stage of ``df`` without moving rows to Python."""
    df.write.format("noop").mode("overwrite").save()


def duckdb_doc_ids(path: str) -> list[int]:
    import duckdb

    with duckdb.connect() as con:
        return [r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true) "
            "ORDER BY doc_id"
        ).fetchall()]


WORKLOADS = {w.name: w for w in (ImdbNightly, LakeAnalyst)}
