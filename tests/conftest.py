from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from spark_lever_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


# The session's own temp directory, for Python (``tempfile``, and
# through TMPDIR the Python workers) and for the JVM (java.io.tmpdir):
# the leftover audit in test_queries_oracle.py lists it, and no other
# process on the host writes into it.
TMP = tempfile.mkdtemp(prefix="spark_lever_spark-tests-")
os.environ["TMPDIR"] = tempfile.tempdir = TMP


def pytest_unconfigure(config):
    shutil.rmtree(TMP, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="spark_lever_spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}"},
    )
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
