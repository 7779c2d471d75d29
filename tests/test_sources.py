r"""Sources: IMDb TSV reading (\N sentinel), partitioned lake writes,
idempotent partition replacement."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from aws_imdb_data_pipeline_spark.sources import (
    read_imdb_tsv,
    replace_run_partition,
    write_partitioned,
)

TSV = "tconst\tstartYear\ttitleType\nt1\t1994\tmovie\nt2\t\\N\tmovie\nt3\t2001\t\\N\n"


def test_read_imdb_tsv_gzip_and_sentinel(spark, tmp_path):
    p = tmp_path / "basics.tsv.gz"
    with gzip.open(p, "wt") as f:
        f.write(TSV)
    df = read_imdb_tsv(spark, str(p))
    rows = {r.tconst: (r.startYear, r.titleType) for r in df.collect()}
    assert rows == {"t1": ("1994", "movie"), "t2": (None, "movie"), "t3": ("2001", None)}
    # all-string typing, reference behavior (glue.py:53-60)
    assert all(f.dataType == StringType() for f in df.schema.fields)


def test_read_imdb_tsv_typed_schema(spark, tmp_path):
    p = tmp_path / "typed.tsv"
    p.write_text(TSV)
    schema = StructType(
        [
            StructField("tconst", StringType()),
            StructField("startYear", IntegerType()),
            StructField("titleType", StringType()),
        ]
    )
    df = read_imdb_tsv(spark, str(p), schema=schema)
    got = {r.tconst: r.startYear for r in df.collect()}
    assert got == {"t1": 1994, "t2": None, "t3": 2001}


def test_write_partitioned_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [("20240101", "a", 1), ("20240101", "b", 2)], ["run_date", "g", "v"]
    )
    out = str(tmp_path / "lake")
    write_partitioned(df, out, ["run_date", "g"])
    assert os.path.isdir(os.path.join(out, "run_date=20240101", "g=a"))
    back = spark.read.parquet(out)
    assert back.count() == 2 and set(back.columns) == {"run_date", "g", "v"}


def test_replace_run_partition_idempotent(spark, tmp_path):
    out = str(tmp_path / "lake2")
    d1 = spark.createDataFrame([("d1", 1), ("d2", 2)], ["run_date", "v"])
    write_partitioned(d1, out, ["run_date"])
    # re-load d1 with a new value; d2 must survive, d1 must not duplicate
    d1b = spark.createDataFrame([("d1", 99)], ["run_date", "v"])
    replace_run_partition(d1b, out, ["run_date"])
    back = spark.read.parquet(out)
    got = {(r.run_date, r.v) for r in back.collect()}
    assert got == {("d1", 99), ("d2", 2)}


def test_merge_upsert_partitioned_touches_only_affected(spark, tmp_path):
    from aws_imdb_data_pipeline_spark.sources.lake import merge_upsert

    out = str(tmp_path / "lake3")
    base = spark.createDataFrame(
        [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 3, "c"), ("d3", 4, "d")],
        ["run_date", "id", "val"],
    )
    write_partitioned(base, out, ["run_date"])
    d3_files = sorted(os.listdir(os.path.join(out, "run_date=d3")))
    # update id=1 (existing) and insert id=9, both in d1; d2/d3 untouched
    updates = spark.createDataFrame(
        [("d1", 1, "A2"), ("d1", 9, "new")], ["run_date", "id", "val"]
    )
    merge_upsert(spark, out, updates, key_cols=["id"], partition_cols=["run_date"])
    back = spark.read.parquet(out)
    got = {(r.run_date, r.id, r.val) for r in back.collect()}
    assert got == {
        ("d1", 1, "A2"), ("d1", 2, "b"), ("d1", 9, "new"),
        ("d2", 3, "c"), ("d3", 4, "d"),
    }
    # untouched partition's files were not rewritten
    assert sorted(os.listdir(os.path.join(out, "run_date=d3"))) == d3_files


def test_merge_upsert_unpartitioned_full_rewrite(spark, tmp_path):
    from aws_imdb_data_pipeline_spark.sources.lake import merge_upsert

    out = str(tmp_path / "lake4")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"]).write.parquet(out)
    updates = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "val"])
    merge_upsert(spark, out, updates, key_cols=["id"])
    got = {(r.id, r.val) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_lake_schema_evolution_additive(spark, tmp_path):
    """Later runs may ADD columns: read_lake(mergeSchema) surfaces the
    union schema, pre-existing rows read NULL in the new column, and
    run_date partition pruning still prunes."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.sources.lake import (
        read_lake,
        replace_run_partition,
    )

    path = str(tmp_path / "evolving")
    r1 = spark.createDataFrame(
        [(1, 10.0, "r1"), (2, 20.0, "r1")], "id long, amount double, run_date string"
    )
    replace_run_partition(r1, path, ["run_date"])
    r2 = spark.createDataFrame(
        [(3, 30.0, "EUR", "r2")],
        "id long, amount double, currency string, run_date string",
    )
    replace_run_partition(r2, path, ["run_date"])

    lake = read_lake(spark, path)
    assert set(lake.columns) == {"id", "amount", "currency", "run_date"}
    rows = {r.id: r.currency for r in lake.collect()}
    assert rows == {1: None, 2: None, 3: "EUR"}
    # pruning: a run_date filter reads only that partition
    plan = lake.filter(F.col("run_date") == "r2")._jdf.queryExecution().executedPlan().toString()
    assert "run_date" in plan
    assert lake.filter(F.col("run_date") == "r2").count() == 1
    # idempotent replace still holds on the evolved table
    replace_run_partition(r2, path, ["run_date"])
    assert read_lake(spark, path).count() == 3


def test_bloom_filter_write_option(spark, tmp_path):
    """bloom_filter_cols must actually reach the parquet writer: on a
    high-cardinality (non-dictionary-encodable) key the bloom adds
    observable bytes per column chunk, and the data reads back
    identically (point lookups consult the bloom transparently).

    Note: parquet-mr correctly SKIPS the bloom for fully
    dictionary-encoded chunks — the dictionary already is an exact
    filter — so low-cardinality columns show no size delta; that
    behavior is part of the contract, not a failure of the option."""
    import glob
    import os

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.sources.lake import write_partitioned

    df = spark.range(200_000).selectExpr("id AS user_key", "id % 7 AS v").coalesce(1)
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    write_partitioned(df, plain, [], mode="overwrite")
    write_partitioned(
        df, bloomed, [], mode="overwrite", bloom_filter_cols=["user_key"]
    )
    size = lambda p: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(p + "/*.parquet")
    )
    assert size(bloomed) > size(plain) + 100_000
    # identical content; the equality lookup goes through the bloom
    got = spark.read.parquet(bloomed).filter(F.col("user_key") == 123_456).count()
    assert got == 1 and spark.read.parquet(bloomed).count() == 200_000


def test_lake_schema_evolution_destructive_fails_loudly(spark, tmp_path):
    """Retyping a column across runs must FAIL the merged read (the
    additive-only contract), not silently coerce."""
    import pytest

    from aws_imdb_data_pipeline_spark.sources.lake import (
        read_lake,
        replace_run_partition,
    )

    path = str(tmp_path / "retyped")
    r1 = spark.createDataFrame([(1, 10, "r1")], "id long, amount long, run_date string")
    r2 = spark.createDataFrame(
        [(2, "ten", "r2")], "id long, amount string, run_date string"
    )
    replace_run_partition(r1, path, ["run_date"])
    replace_run_partition(r2, path, ["run_date"])
    with pytest.raises(Exception, match="(?i)merge|incompatible|failed"):
        read_lake(spark, path).collect()


def test_tsv_quarantine_splits_malformed_rows(spark, tmp_path):
    """read_imdb_tsv_with_quarantine: unparseable rows land raw in the
    quarantine lake; clean rows come back typed and complete."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from aws_imdb_data_pipeline_spark.sources.tsv import (
        read_imdb_tsv_with_quarantine,
    )

    src = tmp_path / "raw.tsv"
    src.write_text(
        "tconst\tyear\n"
        "tt1\t1999\n"
        "tt2\tnot_a_year\n"   # malformed int -> quarantine
        "tt3\t2005\n"
        "tt4\t\\N\n"          # sentinel null -> clean, year NULL
    )
    schema = StructType(
        [StructField("tconst", StringType()), StructField("year", IntegerType())]
    )
    qdir = str(tmp_path / "quarantine")
    good = read_imdb_tsv_with_quarantine(spark, str(src), schema, qdir)
    rows = {r.tconst: r.year for r in good.collect()}
    assert rows == {"tt1": 1999, "tt3": 2005, "tt4": None}
    bad = spark.read.parquet(qdir)
    assert bad.count() == 1
    raw = bad.collect()[0]
    assert "not_a_year" in raw.raw_line and raw.quarantined_at is not None
    assert raw.header_like is False


def test_tsv_quarantine_tags_drifted_headers(spark, tmp_path):
    """A file whose header differs from the schema's canonical layout
    (reordered / re-cased columns) is not silently skipped: the header
    quarantines with header_like=true — the layout-drift signal — and
    ordinary malformed rows stay header_like=false."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from aws_imdb_data_pipeline_spark.sources.tsv import (
        read_imdb_tsv_with_quarantine,
    )

    src = tmp_path / "drifted.tsv"
    src.write_text(
        "Year\tTconst\n"      # reordered + re-cased header -> tagged
        "tt1\t1999\n"
        "tt2\tbogus\n"        # plain malformed row -> untagged
    )
    schema = StructType(
        [StructField("tconst", StringType()), StructField("year", IntegerType())]
    )
    qdir = str(tmp_path / "quarantine")
    good = read_imdb_tsv_with_quarantine(spark, str(src), schema, qdir)
    assert {r.tconst for r in good.collect()} == {"tt1"}
    tagged = {
        r.raw_line: r.header_like for r in spark.read.parquet(qdir).collect()
    }
    assert tagged == {"Year\tTconst": True, "tt2\tbogus": False}


def test_cluster_by_zone_map_row_group_stats(spark, tmp_path):
    """cluster_by must produce parquet files whose row-group min/max
    stats actually segment the sorted column: for a narrow range
    predicate, the overlapping row groups are a small fraction of the
    file (zone-map pruning has something to prune), while the
    unsorted twin's row groups all span ~the whole domain (nothing
    prunable). Verified from the parquet FOOTERS via pyarrow — the
    physical layout contract, not a timing."""
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.sources.lake import write_partitioned

    # shuffled event times over [0, 10M); small row groups so one file
    # still holds many zones
    df = (
        spark.range(2_000_000)
        .select(F.xxhash64("id").alias("h"), (F.pmod(F.xxhash64("id"), 10_000_000)).alias("ts_s"))
        .coalesce(1)
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(256 * 1024))
    try:
        plain, clustered = str(tmp_path / "plain"), str(tmp_path / "clust")
        write_partitioned(df, plain, [], mode="overwrite")
        write_partitioned(df, clustered, [], mode="overwrite", cluster_by=["ts_s"])
    finally:
        if prev is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", prev)

    def overlap_fraction(path: str, lo: int, hi: int) -> float:
        files = glob.glob(path + "/*.parquet")
        assert files
        total = hit = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["ts_s"]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                total += 1
                if st.min <= hi and st.max >= lo:
                    hit += 1
        assert total >= 8, f"only {total} row groups — file too coarse to test"
        return hit / total

    lo, hi = 4_000_000, 4_100_000  # 1% of the domain
    assert overlap_fraction(plain, lo, hi) == 1.0          # every zone spans everything
    assert overlap_fraction(clustered, lo, hi) <= 0.25     # sorted: few zones overlap
    # identical content either way
    n = spark.read.parquet(clustered).filter(
        (F.col("ts_s") >= lo) & (F.col("ts_s") < hi)
    ).count()
    m = spark.read.parquet(plain).filter(
        (F.col("ts_s") >= lo) & (F.col("ts_s") < hi)
    ).count()
    assert n == m > 0


def test_load_table_memoizes_relation_per_application(spark, sf_dir):
    """load_table resolves a lake table once per (application, lake,
    table): the second call returns the SAME lazy DataFrame (no
    re-listing / footer re-read at construction), clear_table_cache()
    forces a fresh resolution, and the memoized plan evaluates to the
    same rows as a bare spark.read.parquet of the file."""
    import os

    from aws_imdb_data_pipeline_spark.sources.tables import (
        clear_table_cache,
        load_table,
    )

    clear_table_cache()
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    assert a is b  # memo hit: identical object, zero re-resolution
    clear_table_cache()
    c = load_table(spark, sf_dir, "nation")
    assert c is not a  # cleared: fresh relation
    fresh = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, fresh.collect()))
    # events carries the nanos->timestamp normalization; the memoized
    # frame must keep the normalized schema on the hit path too
    e1 = load_table(spark, sf_dir, "events")
    e2 = load_table(spark, sf_dir, "events")
    assert e1 is e2
    assert dict(e1.dtypes)["ts"] == "timestamp"


def test_load_table_reads_a_table_rewritten_in_place(spark, tmp_path):
    """A table overwritten within one application is read afresh: the
    memoized scan of the old files is not reused."""
    from aws_imdb_data_pipeline_spark.sources.tables import load_table

    sf = str(tmp_path)
    path = os.path.join(sf, "nation.parquet")
    spark.range(3).coalesce(1).write.parquet(path)
    assert sorted(r.id for r in load_table(spark, sf, "nation").collect()) == [0, 1, 2]
    spark.range(10, 14).coalesce(1).write.mode("overwrite").parquet(path)
    rows = load_table(spark, sf, "nation").collect()
    assert sorted(r.id for r in rows) == [10, 11, 12, 13]


def test_table_rows_matches_count(spark, sf_dir):
    """table_rows reads parquet footer metadata — exact by format
    contract, so it must equal COUNT(*) over the scan for every lake
    table (single-file and partitioned layouts alike)."""
    from aws_imdb_data_pipeline_spark.sources.tables import (
        TABLES,
        load_table,
        table_rows,
    )

    for t in TABLES:
        assert table_rows(sf_dir, t) == load_table(spark, sf_dir, t).count()


def test_table_col_max_matches_scan_max(spark, sf_dir):
    """table_col_max reads exact integer row-group statistics; it must
    equal MAX() over the scan, and return None (fall back to the scan
    aggregate) for unsupported types or absent columns."""
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.sources.tables import (
        load_table,
        table_col_max,
    )

    got = table_col_max(sf_dir, "documents", "doc_id")
    want = load_table(spark, sf_dir, "documents").agg(
        F.max("doc_id")
    ).first()[0]
    assert got == want
    assert table_col_max(sf_dir, "documents", "text") is None  # BYTE_ARRAY
    assert table_col_max(sf_dir, "documents", "no_such_col") is None


def test_spread_by_partition_write_layout(spark, tmp_path):
    """spread_by_partition (r15): a partitionBy write must not funnel
    each partition VALUE through one task (r14 verdict #2 — the
    band/cell artifact writes capped write parallelism at the value
    count). Contract: write width >= session parallelism, <= k =
    ceil(parallelism / n_values) files per partition dir, rows
    identical to the unsalted write, and a value count already >= the
    session width keeps the compact ~1-file-per-dir layout."""
    import glob

    from aws_imdb_data_pipeline_spark.sources.lake import spread_by_partition

    width = spark.sparkContext.defaultParallelism
    df = spark.range(2000).selectExpr("id", "CAST(id % 4 AS INT) AS band")

    out = spread_by_partition(df, "band", "id", 4)
    assert out.rdd.getNumPartitions() == max(width, 4)

    path = str(tmp_path / "bands")
    out.write.partitionBy("band").parquet(path)
    k = -(-width // 4)
    dirs = glob.glob(os.path.join(path, "band=*"))
    assert len(dirs) == 4
    for d in dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert 1 <= len(files) <= k
    back = spark.read.parquet(path).select("id", "band")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )

    # value count >= width: salt degenerates (k == 1), hash on the
    # partition column alone — compact layout preserved
    wide_vals = spread_by_partition(df, "band", "id", width * 2)
    assert wide_vals.rdd.getNumPartitions() == width * 2
