import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from codecdb_queryengine_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests", **{"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def both_meta_paths(monkeypatch):
    """`run(fn)` calls `fn()` on the pyarrow metadata path, then again with
    every metadata read and write forced onto the Spark path that serves
    schemed storage (only the metadata helpers consult
    io._local_fs_path), asserts both results are identical and returns
    the result."""
    from codecdb_queryengine_spark.sources import io as IO

    def run(fn):
        local = fn()
        with monkeypatch.context() as m:
            m.setattr(IO, "_local_fs_path", lambda p: None)
            forced = fn()
        assert forced == local
        return local

    return run
