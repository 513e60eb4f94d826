from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid
from types import SimpleNamespace

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


@pytest.fixture
def count_round_trips(spark):
    """``with count_round_trips() as trips: ...`` leaves in ``trips.n``
    the number of py4j commands the driver sent to the JVM inside the
    block: every JVM method call, field read and object release."""
    client = spark.sparkContext._gateway._gateway_client

    @contextlib.contextmanager
    def counting():
        trips = SimpleNamespace(n=0)
        send = client.send_command

        def counted(*args, **kwargs):
            trips.n += 1
            return send(*args, **kwargs)

        client.send_command = counted
        try:
            yield trips
        finally:
            client.send_command = send

    return counting


@pytest.fixture
def jobs_run_by(spark):
    """``jobs_run_by(build)`` calls ``build()`` and returns the ids of
    the Spark jobs it ran."""
    sc = spark.sparkContext

    def jobs(build):
        group = f"jobs-run-by-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return jobs


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
