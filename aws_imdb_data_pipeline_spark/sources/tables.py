"""Parquet table access for the engine's lake directory.

A "scale-factor directory" holds one parquet file/dir per table
(see /root/repo/TESTDATA.md). At 100 TB these would be partitioned
datasets; ``spark.read.parquet`` handles both shapes identically and
Catalyst prunes partitions/columns from the declarative plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Timestamp columns whose parquet physical type has varied across
# testdata generations: TIMESTAMP(NANOS) (surfaced as long under
# nanosAsLong) or naive TIMESTAMP(MICROS) (surfaced as TIMESTAMP_NTZ).
# Both normalize to a session-UTC TimestampType so every downstream
# operator sees one type regardless of which generation wrote the file.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


# ---------------------------------------------------------------------------
# Catalog mode (r13 verdict #3): at 100 TB the lake lives in an object
# store behind a metastore — there is no walkable local filesystem, and
# the planner facts (table footprint, row counts, column NDVs) come
# from catalog statistics. register_lake_catalog() registers a lake
# directory's tables as external catalog tables (ANALYZE'd), records
# the mapping, and from then on load_table() in that session reads
# THROUGH the catalog: scans carry the statistics, the CBO can
# estimate filtered/aggregated build sides, and maybe_broadcast's
# footprint fact comes from DESCRIBE EXTENDED instead of os.stat.
# Path mode (the default, zero registration) is unchanged.
# ---------------------------------------------------------------------------
_CATALOG_LAKES: dict[str, dict[str, str]] = {}  # abs(sf_dir) -> {table: catalog name}


def register_lake_catalog(
    spark: SparkSession,
    sf_dir: str,
    analyze_columns: dict[str, tuple[str, ...]] | None = None,
    tables=None,
) -> dict[str, str]:
    """Register every table of ``sf_dir`` as an external catalog table
    (idempotent; names are content-addressed by the lake path so two
    lakes never collide), ANALYZE each for sizeInBytes/rowCount, and
    optionally ANALYZE named columns (``{"customer": ("c_mktsegment",)}``)
    so the CBO has NDV/histograms for selectivity. Enables CBO for the
    session — the point of registering is that the ENGINE, not a
    filesystem walk, owns the planner facts. Returns {table: catalog
    name}."""
    import hashlib

    key = os.path.abspath(sf_dir)
    prefix = "lake_" + hashlib.md5(key.encode()).hexdigest()[:8]
    out: dict[str, str] = {}
    for t in tables or TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(path):
            continue
        cat = f"{prefix}_{t}"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {cat} USING PARQUET "
            f"LOCATION '{path}'"
        )
        spark.sql(f"ANALYZE TABLE {cat} COMPUTE STATISTICS")
        for col in (analyze_columns or {}).get(t, ()):
            spark.sql(
                f"ANALYZE TABLE {cat} COMPUTE STATISTICS FOR COLUMNS {col}"
            )
        out[t] = cat
    spark.conf.set("spark.sql.cbo.enabled", "true")
    # merge: a partial registration (tables= subset) must not claim the
    # lake's other tables — load_table falls back to path scans for
    # anything not actually registered
    _CATALOG_LAKES.setdefault(key, {}).update(out)
    return out


def catalog_table_name(sf_dir: str, name: str) -> str | None:
    """The catalog name for a lake table, or None when that table is
    not catalog-registered (path mode)."""
    return _CATALOG_LAKES.get(os.path.abspath(sf_dir), {}).get(name)


# Resolved-relation memo: (applicationId, lake path, table, catalog
# name) -> the lazy DataFrame. spark.read.parquet re-lists the
# directory and re-reads a footer for schema inference on EVERY call —
# pure driver-side latency paid once per table per query construction
# (~20-50 ms quiet-host, and the registry constructs each query fresh
# per evaluation). Spark's own SessionCatalog caches the resolved
# relation for catalog tables; this memo gives path-mode scans the
# same once-per-session resolution. It caches a LAZY PLAN, never data:
# every evaluation still scans parquet. Keyed by applicationId so a
# stopped/recreated context never sees another context's plans, and by
# catalog name so register_lake_catalog() naturally invalidates the
# path-mode entry. clear_table_cache() for code that rewrites a lake
# dir in place within one application (no shipped path does).
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def clear_table_cache() -> None:
    """Drop every memoized table relation (see _TABLE_CACHE)."""
    _TABLE_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one table. Column pruning + predicate
    pushdown happen automatically downstream (verify with
    ``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).
    In catalog mode (register_lake_catalog) the scan goes through the
    metastore so catalog statistics ride the plan."""
    if name in _NANOS_TS_COLS:
        # Runtime-settable; required even when the session wasn't built
        # by our factory (e.g. the correctness driver's bare session).
        # Set on every call (not just cache miss): the conf governs
        # EXECUTION of the vectorized reader, not only schema inference.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # date_trunc/window operate in session-local time; pin UTC so
        # window starts are host-timezone-independent (matches how SQL
        # engines treat these naive parquet timestamps).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    cat = catalog_table_name(sf_dir, name)
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        name,
        cat,
    )
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if cat is not None:
        df = spark.table(cat)
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANOS_TS_COLS.get(name, ()):
        if col not in df.columns:
            continue
        dtype = df.schema[col].dataType
        if isinstance(dtype, LongType):
            # integer div keeps full int64 precision (double would not)
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(dtype, TimestampNTZType):
            # naive micros: same wall time, session tz already pinned UTC
            df = df.withColumn(col, F.to_timestamp(F.col(col)))
    _TABLE_CACHE[key] = df
    return df


# (lake path, table, layout stat) -> exact row count. The layout stat
# (mtime_ns, size of the file or dir) invalidates on any rewrite.
_TABLE_ROWS_CACHE: dict[tuple, int] = {}


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of one lake table from parquet FOOTER metadata —
    num_rows is exact by format contract (it is what COUNT(*) over the
    scan returns), so driver-side "how big is this table" decisions
    (verification strata moduli, synthetic-key domains) cost a footer
    read instead of a full-scan Spark count job per query
    construction. Handles both single-file tables and partitioned
    dirs. Raises OSError when the table is absent (same failure the
    scan would hit)."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    key = (os.path.abspath(sf_dir), name, st.st_mtime_ns, st.st_size)
    hit = _TABLE_ROWS_CACHE.get(key)
    if hit is not None:
        return hit
    if os.path.isfile(path):
        total = pq.ParquetFile(path).metadata.num_rows
    else:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.endswith(".parquet") or f.startswith((".", "_")):
                    continue
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    _TABLE_ROWS_CACHE[key] = total
    return total


def table_col_max(sf_dir: str, name: str, col: str):
    """Exact MAX of one column from parquet row-group statistics —
    integer min/max stats are exact (format truncation applies only to
    long binary/string values, which this helper refuses), and MAX()
    ignores NULLs exactly as the stats do. Returns None when any
    row group lacks statistics for the column (callers fall back to
    the scan aggregate) or when the table is all-NULL/empty on it."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        files = [path]
    else:
        files = [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    best = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        try:
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
        except KeyError:
            return None
        if md.schema.column(idx).physical_type not in ("INT32", "INT64"):
            return None  # only exact-stat types
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            if st.num_values == 0:
                continue
            if best is None or st.max > best:
                best = st.max
    return best


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view so ``spark.sql`` text queries
    (the reference's SQL dialect surface) run against the same data."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Size-gated broadcast for SF-SCALED dimensions (r12 verdict #1).
#
# nation/region are bounded forever (25/5 rows) — hint them
# unconditionally. customer/supplier/part GROW with scale factor: at a
# 100 TB design point part is billions of rows, and a hard-coded
# F.broadcast is a guaranteed executor OOM plus an N-fold network ship
# of the build side. The sf100 decade sweep measured exactly that cost
# curve (SCALE §53: 11.8-14.2x per decade on the three broadcast-hint
# headline queries vs 6-7x scan-bound). The gate mirrors the
# reference's own framing (SURVEY §2.3/§4.3: dimension sides are
# broadcast CANDIDATES; at scale leave the decision to the engine) and
# this engine's bm25 plan-time candidate gate: decide from a fact the
# planner can know for free — the dimension's on-disk footprint, one
# os.stat, no Spark job.
#
# Threshold: 32 MB of parquet (~3-5x that decompressed in the
# broadcast hash relation, comfortably inside a 4 GB executor). On the
# shipped lakes every gated dimension is far under it, so bench plans
# are unchanged; on the generated decades the gate flips customer
# (233 MB) and part (154 MB) to AQE at sf100 while supplier (16 MB)
# keeps the hint.
# ---------------------------------------------------------------------------
DEFAULT_DIM_BROADCAST_BYTES = 32 << 20


def table_bytes(
    sf_dir: str, name: str, spark: SparkSession | None = None
) -> int:
    """Footprint in bytes of one table. In catalog mode the fact comes
    from the metastore's ANALYZE'd statistics (the portable source —
    an object-store lake has no walkable filesystem); in path mode
    it's an os.stat walk of the file or partitioned dir."""
    if spark is not None:
        cat = catalog_table_name(sf_dir, name)
        if cat is not None:
            stats = _catalog_stats_bytes(spark, cat)
            if stats is not None:
                return stats
    from aws_imdb_data_pipeline_spark.lifecycle.artifacts import dir_bytes

    return dir_bytes(os.path.join(sf_dir, f"{name}.parquet"))


def _catalog_stats_bytes(spark: SparkSession, cat: str) -> int | None:
    """sizeInBytes from DESCRIBE TABLE EXTENDED's Statistics row
    (written by ANALYZE TABLE COMPUTE STATISTICS), None if absent."""
    try:
        for row in spark.sql(f"DESCRIBE TABLE EXTENDED {cat}").collect():
            if row[0] == "Statistics":
                return int(row[1].split(" ")[0])
    except Exception:
        pass
    return None


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own size estimate of THIS frame's optimized plan —
    the same statistic autoBroadcastJoinThreshold consults. In path
    mode it is file bytes scaled by column pruning (no selectivity —
    a sound compressed-footprint bound); with catalog statistics and
    CBO it sharpens to filtered/aggregated build-side estimates."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None


def maybe_broadcast(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """``df`` (the named base table or any projection/filter/aggregate
    of it at up-to-table grain — those only shrink, so the base
    table's footprint is a sound upper bound) with a broadcast hint
    only when it fits the broadcast budget; above it, the join
    strategy is left to AQE's runtime statistics.

    Two planner facts, either one suffices (r13 verdict #3):

    1. the BASE table's footprint (catalog statistics in catalog
       mode, os.stat in path mode) — one lookup, no Spark job.
       Compared against the COMPRESSED-bytes budget (32 MB default);
    2. when that conservative bound fails, Catalyst's size estimate
       of the actual build-side plan — column pruning always narrows
       it, and catalog column stats + CBO add filter selectivity.
       This estimate is in UNCOMPRESSED relation bytes (rowCount x
       logical row width — the unit autoBroadcastJoinThreshold
       consults), so it is compared against the budget's documented
       relation-size meaning: 4x the on-disk budget, the midpoint of
       the "~3-5x that decompressed" calibration in the gate
       rationale above. A filtered/projected dimension slice that is
       genuinely small therefore keeps its hint even when the base
       table is far over budget (SCALE §55/§63: shipping_priority
       keys-only side, 57 MB relation est, hints again at sf100;
       order_part_names' 66 MB name projection likewise; the full
       part frame at ~150 MB+ stays with AQE — exactly the §55
       measured win/loss split). Both facts scale with the one
       DEFAULT_DIM_BROADCAST_BYTES budget."""
    budget = DEFAULT_DIM_BROADCAST_BYTES
    if table_bytes(sf_dir, name, spark=df.sparkSession) <= budget:
        return F.broadcast(df)
    est = _plan_size_bytes(df)
    if est is not None and est <= 4 * budget:
        return F.broadcast(df)
    return df
