from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm2gtfs_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session("tests", master="local[4]", shuffle_partitions="8")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture()
def reliable_checkpoints(spark, tmp_path):
    """``with reliable_checkpoints() as path:`` gives the SparkContext a
    checkpoint dir, so every materialization in the engine is a reliable
    checkpoint, and restores the previous (normally unset) state on
    exit. ``setCheckpointDir`` cannot unset it, so the restore writes
    the context's field directly."""
    jsc = spark.sparkContext._jsc.sc()
    path = str(tmp_path / "checkpoints")

    @contextlib.contextmanager
    def checkpoint_dir():
        prev = jsc.getCheckpointDir()
        spark.sparkContext.setCheckpointDir(path)
        try:
            yield path
        finally:
            getattr(jsc, "checkpointDir_$eq")(prev)

    return checkpoint_dir
