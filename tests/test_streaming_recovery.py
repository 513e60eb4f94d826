"""Fault tolerance: checkpoint recovery (reference CheckpointSuite /
DStreamCheckpointData — SURVEY.md §5.2) on Structured Streaming: a
stopped stateful query restarted on the same checkpoint resumes its
state and source offsets exactly; no input is lost or double-counted."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from spark_lever_spark.streaming.harness import BatchCollector
from tests.golden_stream import one_file_per_batch


def _write_batch(input_dir: str, i: int, records: list[dict]) -> None:
    path = os.path.join(input_dir, f"batch_{i:05d}.json")
    with open(path, "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    ts = time.time() - 100 + i * 5
    os.utime(path, (ts, ts))


def _run_until_drained(spark, input_dir, ckpt, collector):
    sdf = one_file_per_batch(spark, input_dir, "k string, v long")
    out = sdf.groupBy("k").agg(F.sum("v").alias("s"))
    q = (
        out.writeStream.foreachBatch(collector)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()


def test_stateful_recovery_from_checkpoint(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    os.makedirs(input_dir)

    # phase 1: two batches, then the query stops (drained)
    _write_batch(input_dir, 0, [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    _write_batch(input_dir, 1, [{"k": "a", "v": 3}])
    col1 = BatchCollector()
    _run_until_drained(spark, input_dir, ckpt, col1)
    assert col1.rows_per_batch == [[("a", 1), ("b", 2)], [("a", 4)]]

    # phase 2: new input arrives while "down"; restart on the SAME
    # checkpoint — running sums continue from recovered state, and the
    # already-processed batches are NOT re-emitted
    _write_batch(input_dir, 2, [{"k": "a", "v": 10}, {"k": "c", "v": 7}])
    col2 = BatchCollector()
    _run_until_drained(spark, input_dir, ckpt, col2)
    assert col2.rows_per_batch == [[("a", 14), ("c", 7)]]


def test_recovery_is_exactly_once_per_file(spark, tmp_path):
    """Restarting with no new input produces no batches at all (source
    offsets are durable — the WAL guarantee of the reference's
    ReceivedBlockTracker, free in Structured Streaming)."""
    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    os.makedirs(input_dir)
    _write_batch(input_dir, 0, [{"k": "x", "v": 5}])
    col1 = BatchCollector()
    _run_until_drained(spark, input_dir, ckpt, col1)
    assert col1.rows_per_batch == [[("x", 5)]]

    col2 = BatchCollector()
    _run_until_drained(spark, input_dir, ckpt, col2)
    assert col2.rows_per_batch == []
