"""Kafka capability contract (reference KafkaUtils.scala:339,
createDirectStream) on Spark's own kafka source, broker-less.

Without a kafka connector jar or broker, e2e kafka is
environment-blocked. What IS testable — and what a real deployment
relies on — is that the query graph downstream of the source is
source-agnostic: the same `from_json(value) -> agg` graph runs
unchanged over any DataFrame with the kafka wire schema. The harness
feeds wire-shaped records through the file source (one micro-batch per
input batch) and checks golden output; a second test pins the exact
deploy-time failure mode of the real kafka reader so the environment
block is documented, not silent.
"""

from __future__ import annotations

import base64
import json

import pytest

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_lever_spark.streaming.harness import run_file_batches

# the record shape Spark's kafka source produces
KAFKA_WIRE_DDL = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)
VALUE_SCHEMA = "user string, amount long"


def _wire(user: str, amount: int, offset: int) -> dict:
    # the JSON file source decodes base64 into the binary wire columns
    payload = json.dumps({"user": user, "amount": amount}).encode()
    return {
        "key": base64.b64encode(user.encode()).decode(),
        "value": base64.b64encode(payload).decode(),
        "topic": "payments",
        "partition": 0,
        "offset": offset,
        "timestamp": "2025-06-01T00:00:00.000Z",
        "timestampType": 0,
    }


def _graph(wire: DataFrame) -> DataFrame:
    """The query graph under contract — built once, run on any source."""
    return (
        wire.select(F.from_json(F.col("value").cast("string"), VALUE_SCHEMA).alias("v"))
        .select("v.*")
        .groupBy("user")
        .agg(F.sum("amount").alias("total"))
    )


def test_kafka_graph_runs_on_swapped_source(spark):
    batches = [
        [_wire("alice", 5, 0), _wire("bob", 3, 1)],
        [_wire("alice", 2, 2)],
    ]
    got = run_file_batches(
        spark, batches, KAFKA_WIRE_DDL, transform=_graph, output_mode="complete"
    )
    # complete mode: the final batch carries the full aggregate state
    assert got.rows_per_batch[-1] == [("alice", 7), ("bob", 3)]


def test_kafka_reader_environment_block_is_loud(spark):
    # the reader must reach Spark's DataSource lookup for 'kafka' and
    # fail with the standard deploy-guidance error — not silently
    # degrade — when the connector jar is absent
    with pytest.raises(Exception, match="(?i)kafka"):
        (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", "localhost:9092")
            .option("subscribe", "payments")
            .load()
        )
