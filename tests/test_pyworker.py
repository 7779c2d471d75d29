"""Python workers of a local session import the driver's pyspark.

``pyworker.worker_path`` drops Spark's pyspark zip, py4j zip and core
jar from a worker's path only when the rest of the path imports the
same pyspark version and a py4j; the package itself imports no pyspark,
so the daemon module can make that choice first."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pyspark
import pytest
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.pyworker import worker_path

VERSION = "__version__: str = '9.9.9'\n"


def _zip(path, files: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root, version: str = VERSION, py4j: bool = True) -> str:
    (root / "pyspark").mkdir(parents=True)
    (root / "pyspark" / "__init__.py").write_text("")
    (root / "pyspark" / "version.py").write_text(version)
    if py4j:
        (root / "py4j").mkdir()
        (root / "py4j" / "__init__.py").write_text("")
    return str(root)


@pytest.fixture
def spark_entries(tmp_path):
    """A Spark worker's path head: pyspark zip, py4j zip, core jar."""
    lib = tmp_path / "spark" / "python" / "lib"
    return [
        _zip(
            lib / "pyspark.zip",
            {"pyspark/__init__.py": "", "pyspark/version.py": VERSION},
        ),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(
            tmp_path / "spark" / "jars" / "spark-core_2.13-9.9.9.jar",
            {"META-INF/MANIFEST.MF": ""},
        ),
    ]


def test_spark_zips_and_jar_are_dropped(tmp_path, spark_entries):
    site = _tree(tmp_path / "site")
    assert worker_path([str(tmp_path), *spark_entries, site]) == [str(tmp_path), site]


def test_user_zip_is_kept(tmp_path, spark_entries):
    site = _tree(tmp_path / "site")
    user = _zip(tmp_path / "deps.zip", {"deps/__init__.py": ""})
    assert worker_path([*spark_entries, user, site]) == [user, site]


def test_version_mismatch_keeps_path(tmp_path, spark_entries):
    older = "__version__: str = '9.9.8'\n"
    path = [*spark_entries, _tree(tmp_path / "site", version=older)]
    assert worker_path(path) == path


def test_tree_without_py4j_keeps_path(tmp_path, spark_entries):
    path = [*spark_entries, _tree(tmp_path / "site", py4j=False)]
    assert worker_path(path) == path


def test_package_import_leaves_pyspark_unloaded():
    code = (
        "import sys, aws_imdb_data_pipeline_spark as pkg\n"
        "assert 'pyspark' not in sys.modules, sorted(sys.modules)\n"
        "from aws_imdb_data_pipeline_spark import get_spark\n"
        "from aws_imdb_data_pipeline_spark.session import get_spark as direct\n"
        "assert get_spark is direct is pkg.get_spark\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True)


def test_python_workers_import_the_drivers_pyspark(spark):
    @F.udf("struct<file:string,zipimporters:int>")
    def probe(_):
        import sys
        import zipimport

        import pyspark

        cache = sys.path_importer_cache.values()
        zips = sum(isinstance(v, zipimport.zipimporter) for v in cache)
        return pyspark.__file__, zips

    got = spark.range(1).select(probe("id").alias("p")).first().p
    assert (got.file, got.zipimporters) == (pyspark.__file__, 0)
