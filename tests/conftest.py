from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jibaro_spark.session import build_session  # noqa: E402
from jibaro_spark.streaming.windows import enable_tws_runtime  # noqa: E402
from jibaro_spark.testing import duckdb_connection  # noqa: E402

# Must run at import time, BEFORE the session fixture builds the JVM:
# Python workers inherit $PYTHONPATH from the driver environment, so a
# later call could enable transformWithStateInPandas on the driver but
# not on workers.  No-op where google.protobuf is already installed.
enable_tws_runtime()

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("JIBARO_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="jibaro_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb_connection(SF_ORACLE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_ORACLE


@pytest.fixture
def chunked_route(monkeypatch):
    """``with chunked_route():`` forces every carry / row-number
    ``size_route`` probe in the block onto the chunked route: no
    non-empty group fits under a negative floor or a zero partition
    share.  ``chunked_route(False)`` leaves the bounds alone."""
    from jibaro_spark.operators import relational as rel

    @contextlib.contextmanager
    def forced(on: bool = True):
        with monkeypatch.context() as m:
            if on:
                m.setattr(rel, "_CARRY_PLAIN_MAX_ABS", -1)
                m.setattr(rel, "_CARRY_PLAIN_SHARE", 0)
            yield

    return forced


@pytest.fixture(scope="session")
def hot_sides(spark):
    """Edit-distance-join block sides: 400 rows/side, 200 of them in
    one hot block, the rest over 50 blocks."""
    lrows = [
        (i, f"s{i % 7}", "hot" if i < 200 else f"b{i % 50}")
        for i in range(400)
    ]
    rrows = [
        (10_000 + i, f"s{(i + 1) % 7}", "hot" if i < 200 else f"b{i % 50}")
        for i in range(400)
    ]
    l = spark.createDataFrame(lrows, "lid long, __ls string, __blk string")
    r = spark.createDataFrame(rrows, "rid long, __rs string, __blk string")
    return l, r
