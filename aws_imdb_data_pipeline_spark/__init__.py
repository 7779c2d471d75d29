"""aws_imdb_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference pipeline (anuragkasula/aws-imdb-data-pipeline)
as an idiomatic, self-contained PySpark engine:

- ``session``    — SparkSession factory with the engine's tuning defaults
- ``pyworker``   — the Python worker daemon of local sessions
- ``sources``    — TSV/Parquet readers, partitioned lake writer, catalog
- ``functions``  — scalar-function library (null sentinels, banding, decades)
- ``operators``  — relational operator library (top-k, latest-run, agg patterns)
- ``pipelines``  — IMDb-shaped domain pipelines (movies/episodes/seasons)
- ``quality``    — DQ profiling + expectation (``mostly``) assertions
- ``lifecycle``  — run_date stamping, idempotent partition replace, latest-run
- ``extensions`` — dedup (exact/MinHash/SimHash), similarity search, text stats
- ``streaming``  — Structured Streaming over event streams
- ``plans``      — the query registry binding every operator to a DuckDB oracle
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # get_spark is imported on first use: importing the package must not
    # import pyspark, because the worker daemon (pyworker) is a submodule
    # that chooses where pyspark is imported from.
    if name == "get_spark":
        from aws_imdb_data_pipeline_spark.session import get_spark

        globals()["get_spark"] = get_spark
        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
