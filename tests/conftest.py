from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_imdb_data_pipeline_spark.session import get_spark  # noqa: E402
from aws_imdb_data_pipeline_spark.sources.tables import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(autouse=True)
def _restore_session_conf(request):
    """Undo the runtime SQL conf a test leaves on the shared session, so
    each test sees the session built above, as when run alone. A test
    that calls get_spark() again (bench.main does) re-applies that
    call's defaults, e.g. spark.sql.shuffle.partitions."""
    if "spark" not in request.fixturenames:
        yield
        return
    conf = request.getfixturevalue("spark").conf
    before = conf.getAll
    yield
    after = conf.getAll
    for key in after.keys() - before.keys():
        if conf.isModifiable(key):
            conf.unset(key)
    for key, value in before.items():
        if after.get(key) != value and conf.isModifiable(key):
            conf.set(key, value)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()
