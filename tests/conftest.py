from __future__ import annotations

import os

import pytest

from spark_lever_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="spark_lever_spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    """One DuckDB connection over ``sf_dir`` for the whole oracle sweep,
    closed when the session ends."""
    from tests.oracle import duckdb_con

    con = duckdb_con(sf_dir)
    yield con
    con.close()
