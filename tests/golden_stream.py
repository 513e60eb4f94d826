"""Golden-output harness of the streaming tests.

It re-creates the reference's test pattern (TestSuiteBase.scala:
TestInputStream feeds a queue of per-batch Seqs under a manual clock;
TestOutputStream collects per-batch output; verifyOutput compares to
golden expected batches) on Structured Streaming:

- each logical input batch is written as ONE file with a strictly
  increasing mtime;
- the file source reads with maxFilesPerTrigger=1, so micro-batch i
  consumes exactly input batch i (files are ordered by mtime);
- Trigger.AvailableNow drains all batches then stops — the manual-clock
  equivalent;
- a foreachBatch ``BatchCollector`` plays TestOutputStream.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from spark_lever_spark.streaming.harness import (
    BatchCollector,
    StreamDrain,
    _ascending_mtimes,
)


def one_file_per_batch(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSON file source over ``path`` whose micro-batch i reads exactly
    the i-th file in mtime order."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(path)


def run_file_batches(
    spark: SparkSession,
    batches: Sequence[Sequence[dict[str, Any]]],
    schema: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    output_mode: str = "append",
    batch_transform: Callable[[DataFrame], DataFrame] | None = None,
) -> BatchCollector:
    """Drive the pipeline over the batch sequence, one JSONL file per
    logical batch; returns the collector with per-batch
    golden-comparable output. ``transform`` builds the streaming plan
    (stateful, incremental); ``batch_transform`` runs per-batch inside
    foreachBatch (stateless, recomputed — the reference's
    transform/foreachRDD semantics, DStream.scala:516-606)."""
    collector = BatchCollector()

    def sink(df: DataFrame, epoch_id: int) -> None:
        collector(batch_transform(df) if batch_transform else df, epoch_id)

    with StreamDrain(spark) as drain:
        input_dir = os.path.join(drain.dir, "in")
        os.makedirs(input_dir)
        paths = []
        for i, batch in enumerate(batches):
            paths.append(os.path.join(input_dir, f"batch_{i:05d}.json"))
            with open(paths[-1], "w") as f:
                f.writelines(json.dumps(rec) + "\n" for rec in batch)
        _ascending_mtimes(paths)
        sdf = one_file_per_batch(spark, input_dir, schema)
        out = transform(sdf) if transform is not None else sdf
        drain.run(out, output_mode, sink)
    return collector
