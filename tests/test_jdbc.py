"""JDBC e2e (reference JDBCRDD.scala: stride-partitioned reads +
WHERE-clause pushdown) on Spark's own `spark.read.jdbc`, runnable
in-container against the embedded Derby engine that ships with Spark's
own jars — no external server.

Pins the two properties that matter at scale:
- predicate pushdown reaches the JDBC scan (`PushedFilters` in the
  physical plan), so the database filters before shipping rows;
- a partition column stride-parallelizes the read into numPartitions
  concurrent JDBC cursors (JDBCRDD's core trick).
"""

from __future__ import annotations

import pytest
from pyspark.errors import IllegalArgumentException

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@pytest.fixture(scope="module")
def jdbc_url(spark, tmp_path_factory):
    db = tmp_path_factory.mktemp("jdbc") / "derby_db"
    url = f"jdbc:derby:{db};create=true"
    df = spark.range(0, 1000).selectExpr(
        "id", "id % 7 AS grp", "CAST(id AS DOUBLE) * 1.5 AS val"
    )
    df.write.jdbc(url, "METRICS", mode="overwrite", properties=DERBY_PROPS)
    return url


def test_jdbc_roundtrip_and_pushdown(spark, jdbc_url):
    got = spark.read.jdbc(jdbc_url, "METRICS", properties=DERBY_PROPS)
    filtered = got.filter("val > 750.0").select("id", "val")
    assert filtered.count() == 499  # ids 501..999
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan" in plan, plan


def test_jdbc_stride_partitioned_read(spark, jdbc_url):
    got = spark.read.jdbc(
        jdbc_url,
        "METRICS",
        column="ID",
        lowerBound=0,
        upperBound=1000,
        numPartitions=4,
        properties=DERBY_PROPS,
    )
    assert got.rdd.getNumPartitions() == 4
    assert got.count() == 1000
    # stride partitioning must not drop or duplicate boundary rows
    assert got.selectExpr("SUM(id)").first()[0] == 999 * 1000 // 2


def test_jdbc_explicit_predicates(spark, jdbc_url):
    got = spark.read.jdbc(
        jdbc_url,
        "METRICS",
        # predicates are passed to the database verbatim — quote the
        # identifiers because Spark's JDBC writer created them quoted
        # (case-sensitive in Derby)
        predicates=['"grp" < 3', '"grp" >= 3'],
        properties=DERBY_PROPS,
    )
    # one partition per predicate, disjoint + exhaustive
    assert got.rdd.getNumPartitions() == 2
    assert got.count() == 1000


def test_jdbc_partition_args_validated(spark):
    # a stride-partitioned read names the column, both bounds and the
    # partition count, or none of them: Spark rejects a bare partition
    # column before it opens a connection
    with pytest.raises(IllegalArgumentException, match="all or none"):
        spark.read.format("jdbc").options(
            url="jdbc:derby:memory:x",
            dbtable="T",
            partitionColumn="id",
            **DERBY_PROPS,
        ).load()


def test_jdbc_append_mode(spark, jdbc_url):
    """insertIntoJDBC parity (reference DataFrame.scala
    `insertIntoJDBC` — append rows into an existing JDBC table, vs the
    fixture's overwrite write = `createJDBCTable`): appended batch
    lands alongside the original 1000 rows, and a subsequent pushdown
    read sees both generations."""
    extra = spark.range(10_000, 10_050).selectExpr(
        "id", "id % 7 AS grp", "CAST(id AS DOUBLE) * 1.5 AS val"
    )
    extra.write.jdbc(jdbc_url, "METRICS_APPEND", mode="overwrite",
                     properties=DERBY_PROPS)
    extra.write.jdbc(jdbc_url, "METRICS_APPEND", mode="append",
                     properties=DERBY_PROPS)
    got = spark.read.jdbc(jdbc_url, "METRICS_APPEND", properties=DERBY_PROPS)
    assert got.count() == 100
    assert got.filter("id >= 10000").count() == 100
