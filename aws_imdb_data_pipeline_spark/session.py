"""SparkSession factory with the engine's scale-oriented defaults.

The reference tunes its Glue session with
``spark.sql.shuffle.partitions=96`` and
``spark.sql.files.maxRecordsPerFile=5_000_000``
(reference: glue_jobs/etl_movies_episodes_analytics_advanced.py:34-35).
We keep the intent (bounded shuffle width, bounded output files) but let
AQE coalesce shuffle partitions at runtime, which is the idiomatic
Spark >= 3.2 approach and the one that survives a 1000-executor scale-up.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffles, split skewed joins,
    # switch to broadcast when runtime stats allow. This is the main
    # lever that makes one set of settings work from sf0.001 to 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing minPartitionSize stays at Spark's 1 MB default: a
    # lower floor fans every tiny-shuffle stage (global aggregates,
    # rollups, final top-k exchanges) out to ~core-count tasks, whose
    # per-task fixed cost made wall time grow with core count. Operators
    # that need width ask for it with ``widen`` below.

    # Bounded output files (reference: glue.py:35).
    "spark.sql.files.maxRecordsPerFile": "5000000",
    # Idempotent run_date replacement (replaces the reference's
    # Snowflake DELETE+INSERT, batch.py:211-299).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Arrow for the (rare) pandas-UDF paths and fast toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics regardless of host TZ — keeps
    # results comparable with external oracles.
    "spark.sql.session.timeZone": "UTC",
    # Partition discovery/pruning over the parquet lake.
    "spark.sql.parquet.filterPushdown": "true",
    # Let Python DataSources (sources.docgen) absorb pushed filters.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Cost-based join reordering: inert without table stats, effective
    # once lifecycle.catalog.register_lake_table(analyze=True) has
    # recorded rowCount/size (the Spark-side ANALYZE TABLE step).
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # Spill-merge memory is proportional to SPILL COUNT, not data:
    # HashAggregate's finishAggregate opens one reader per spill file
    # simultaneously, each with a >= 1 MB buffer (the conf floor) PLUS
    # a read-ahead double-buffer — a memory-pressured partial
    # aggregate that spilled a few hundred small files needs
    # numSpills x 2 MB x concurrent-tasks of pure heap just to merge.
    # The round-12 local-cluster sweep OOMed 4 GB executors on exactly
    # this signature (stack = UnsafeSorterSpillReader ->
    # ReadAheadInputStream ByteBuffer.allocate; SCALE.md §49), which
    # single-JVM local[*] never sees (the 16 GB driver heap absorbs
    # the buffers). Disabling read-ahead halves the per-reader cost
    # (spill merge is sequential IO the OS already read-ahead-caches);
    # the structural fix — keeping spill counts low in the first place
    # — is the adaptive pre-aggregate shuffle in
    # extensions.retrieval.bm25_scores.
    "spark.unsafe.sorter.spill.read.ahead.enabled": "false",
    # Parquet TIMESTAMP(NANOS) columns surface as long (ns since epoch);
    # sources.tables converts them to microsecond timestamps by
    # truncation, matching how SQL engines (e.g. DuckDB) read the same
    # files. Without this flag Spark refuses nanos parquet outright.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated classes are cached by source code in one JVM-wide LRU,
    # 100 entries by default. One round of a warm analyst session (six
    # registry queries and five corpus steps) generates 138 distinct
    # classes, so the default evicts them in a cycle and every repeated
    # step recompiles through Janino (32 classes a round); with room
    # for 1000 a repeated round compiles none. An entry is one loaded
    # class, a few KB of metaspace.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def _session_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus <= 0:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return cpus


def _mem_total_bytes(meminfo: str = "/proc/meminfo") -> int | None:
    """``MemTotal`` of a ``/proc/meminfo``-format file, in bytes."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else the smaller of 16g and 3/4 of
    the host's memory."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is not None:
        return mem
    total = _mem_total_bytes()
    mb = 16 << 10 if total is None else min(16 << 10, total * 3 // 4 >> 20)
    return f"{mb}m"


def get_spark(
    app_name: str = "aws-imdb-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``$SPARK_GRAFT_MASTER`` if set (e.g.
    ``local-cluster[2,8,4096]`` — the multi-process substrate the
    round-11 verdict asked for: real Netty shuffle transport, remote
    broadcast, task/closure serialization), else
    ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may
    run on) for the test rig; on a real cluster pass ``None`` master
    via spark-submit and this builder leaves it untouched. A local
    driver heap defaults to ``$SPARK_GRAFT_DRIVER_MEM``, else the
    smaller of 16g and 3/4 of the host's memory.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        master = f"local[{_session_cpus()}]"
    if master.startswith("local-cluster"):
        # executor JVMs spawn their own python workers; pin them to
        # this interpreter (local[*] inherits it implicitly)
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        # Cross-process python workers deserialize pandas-UDF closures
        # by MODULE REFERENCE — the package must be importable on the
        # executor side, which single-JVM local[*] masks (its workers
        # inherit the driver's sys.path). Found by the round-12
        # local-cluster sweep: ModuleNotFoundError on the first
        # mapInPandas stage. The package parent rides the executor
        # PYTHONPATH (below); a real cluster deploy uses --py-files or a
        # pip-installed wheel on the workers (SCALE.md §49).
    if shuffle_partitions is None:
        # Local rig: match core count. Partition-count A/B tests at
        # sf0.1 were dominated by JIT warmth and co-tenant host load
        # (same setting varied 20s..28s); with no clean signal, core
        # count is the principled default and AQE coalesces below it
        # at runtime. On a real cluster, ~2-3x total cores.
        shuffle_partitions = _session_cpus()

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if master.startswith("local"):
        # Python workers start from pyworker, which drops Spark's
        # pyspark.zip (and the py4j zip and core jar) from their path when
        # this interpreter holds the same pyspark: otherwise every task's
        # importlib.invalidate_caches() re-reads the zip's directory once
        # per package, most of a small Python task's CPU. Spark's default
        # daemon comes back with
        # extra_conf={"spark.python.daemon.module": "pyspark.daemon"}.
        conf.setdefault(
            "spark.python.daemon.module", "aws_imdb_data_pipeline_spark.pyworker"
        )
        # The daemon module, and pandas-UDF closures pickled by module
        # reference, must import from the package parent wherever the
        # worker starts.
        pkg_parent = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        prior = os.environ.get("PYTHONPATH", "")
        conf.setdefault(
            "spark.executorEnv.PYTHONPATH",
            pkg_parent + (os.pathsep + prior if prior else ""),
        )
        # Local mode runs every executor thread inside the driver JVM,
        # whose default 1g heap OOMs 32 concurrent tasks long before
        # the host's RAM is touched (measured: pair-explode at N=16k
        # embeddings). On a real cluster spark-submit owns this knob.
        conf.setdefault("spark.driver.memory", _driver_memory())
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def widen(df: DataFrame, *keys: str, rows: int | None = None) -> DataFrame:
    """Repartition a frame that scans narrower than the session.

    A single-file lake table scans as one or two tasks, and every
    shingle, explode or Python-UDF pass downstream then runs on them.
    The target is the session width, or ``clamp(rows // 128, 1, width)``
    when ``rows`` is given: each Python task has a fixed worker
    round-trip cost, so a few hundred rows are not worth fanning out.
    The frame is hash-partitioned on ``keys`` (round-robin without
    keys) only when the target exceeds 1 and its partition count. A
    frame that already scans at least that wide comes back unchanged,
    so the rule disables itself at scale.
    """
    width = df.sparkSession.sparkContext.defaultParallelism
    parts = width if rows is None else max(1, min(width, rows // 128))
    if parts > 1 and df.rdd.getNumPartitions() < parts:
        return df.repartition(parts, *keys)
    return df
