"""Bucketed tables: shuffle-free co-located joins and aggregations.

The 100 TB join strategy (SURVEY.md 'Partitioning & shuffle'): bucket
both fact tables on the join key at write time; every subsequent join
or aggregation on that key skips its Exchange entirely. The reference
had no bucketing (Spark 1.3); this is the modern mechanism for the
co-location its Lever runtime tried to create dynamically."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.plans import exchange_count, shuffle_join_count


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # spark.sql.warehouse.dir is a static conf; tables land in the
    # default ./spark-warehouse (gitignored) and are dropped on teardown
    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("b")
    )
    left.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(
        "bkt_left"
    )
    right.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(
        "bkt_right"
    )
    # disable broadcast so the join strategy under test is the
    # co-located sort-merge join, not a small-table broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield "bkt_left", "bkt_right"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_bucketed_join_no_shuffle(spark, bucketed_tables):
    lt, rt = bucketed_tables
    joined = spark.table(lt).join(spark.table(rt), "k")
    # co-located buckets: the join needs NO exchange on either side
    assert exchange_count(joined) == 0
    assert shuffle_join_count(joined) >= 1  # SMJ over pre-sorted buckets
    assert joined.count() == 10_000


def test_bucketed_aggregation_no_shuffle(spark, bucketed_tables):
    lt, _ = bucketed_tables
    agg = spark.table(lt).groupBy("k").agg(F.sum("a").alias("s"))
    assert exchange_count(agg) == 0
    assert agg.count() == 10_000


def test_unbucketed_baseline_shuffles(spark):
    """Control: the same join over plain DataFrames pays exchanges."""
    left = spark.range(0, 10_000).select(F.col("id").alias("k"))
    right = spark.range(0, 10_000).select(F.col("id").alias("k"))
    with_shuffle = left.repartition(13, "k").join(
        right.repartition(11, "k"), "k"
    )
    assert exchange_count(with_shuffle) >= 2
