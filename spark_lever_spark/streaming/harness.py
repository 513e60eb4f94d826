"""The one streaming drain, and the golden-output harness built on it.

``StreamDrain`` runs every streaming query in the package: it stages the
inputs, drains the plan with ``Trigger.AvailableNow`` into a memory or
foreachBatch sink, and deletes everything it wrote on exit.

The harness re-creates the reference's test pattern (TestSuiteBase.scala:
TestInputStream feeds a queue of per-batch Seqs under a manual clock;
TestOutputStream collects per-batch output; verifyOutput compares to
golden expected batches) on Structured Streaming:

- each logical input batch is written as ONE file with a strictly
  increasing mtime;
- the file source reads with maxFilesPerTrigger=1, so micro-batch i
  consumes exactly input batch i (files are ordered by mtime);
- Trigger.AvailableNow drains all batches then stops — the manual-clock
  equivalent;
- a foreachBatch collector plays TestOutputStream.

This is how every §2.B/§2.C operator parity test drives its pipeline.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from spark_lever_spark.catalog import (
    _ensure_parity_confs,
    data_files,
    normalize_timestamps,
    parquet_schema,
)
from spark_lever_spark.streaming.core import file_stream

# Stateful streaming disables AQE coalescing, so every shuffle partition
# is a state-store task in every micro-batch. A drain caps the session's
# partition count here: a vanilla session's 200 becomes 32, a smaller
# session keeps its own. (State partitioning is fixed per checkpoint, and
# each drain starts a fresh one.)
STATE_PARTITIONS_CAP = 32


def _ascending_mtimes(paths: Sequence[str]) -> None:
    """The file source reads files in mtime order: stamp strictly
    increasing mtimes so that file i is micro-batch i."""
    base = time.time() - len(paths) * 10
    for i, path in enumerate(paths):
        os.utime(path, (base + i * 10, base + i * 10))


class StreamDrain:
    """One streaming query, from staged input to drained result.

    Everything the query writes lives in one work directory: the staged
    inputs (``table``, ``batches``), whatever a foreachBatch sink writes
    under ``dir``, and the checkpoint. ``run`` drains a plan to
    exhaustion. On exit the directory is deleted, so a result that reads
    from it must be pinned first (``localCheckpoint(eager=True)``);
    ``run``'s memory-sink result already is, and its temp view is gone.
    """

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._staged: dict[str, tuple[str, StructType]] = {}

    def __enter__(self) -> StreamDrain:
        self._tmp = tempfile.TemporaryDirectory(prefix="stream_")
        self.dir = self._tmp.name
        return self

    def __exit__(self, *exc: object) -> None:
        self._tmp.cleanup()

    def table(self, sf_dir: str, name: str) -> DataFrame:
        """Streaming scan of one driver table, one source file per
        micro-batch. The table is staged once per drain, so a plan that
        reads it twice (a stream-stream self-join) gets two sources over
        one staging directory.

        The file source needs a directory and does not recurse into
        subdirectories (a symlinked table directory silently yields an
        EMPTY stream), so the table's data files (``data_files``) are
        symlinked flat, in sorted name order."""
        if name not in self._staged:
            _ensure_parity_confs(self.spark)
            files = data_files(sf_dir, name)
            staged = os.path.join(self.dir, name)
            os.makedirs(staged)
            for i, f in enumerate(files):
                os.symlink(f, os.path.join(staged, f"{name}_{i:05d}.parquet"))
            self._staged[name] = (staged, parquet_schema(self.spark, files[0]))
        staged, schema = self._staged[name]
        sdf = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged)
        )
        # the same single timestamp type as the batch side, so
        # stream-static joins and epoch math never meet mixed types
        return normalize_timestamps(sdf, name)

    def batches(self, frames: Sequence[DataFrame]) -> DataFrame:
        """Streaming scan in which micro-batch i reads exactly
        ``frames[i]``: each frame is written as one parquet file."""
        in_dir = os.path.join(self.dir, "in")
        os.makedirs(in_dir)
        paths = []
        for i, frame in enumerate(frames):
            out = os.path.join(self.dir, f"write_{i}")
            frame.coalesce(1).write.parquet(out)
            (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
            paths.append(os.path.join(in_dir, f"batch_{i:05d}.parquet"))
            os.rename(os.path.join(out, part), paths[-1])
        _ascending_mtimes(paths)
        return (
            self.spark.readStream.schema(frames[0].schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )

    def run(
        self,
        plan: DataFrame,
        mode: str,
        sink: Callable[[DataFrame, int], None] | None = None,
    ) -> DataFrame | None:
        """Drain ``plan`` in output ``mode`` into the foreachBatch
        ``sink`` (returns None) or, without one, into a memory sink
        whose table is returned pinned: the final state for complete
        mode, every emission for append."""
        spark = self.spark
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(min(int(prev), STATE_PARTITIONS_CAP)),
        )
        view = f"drain_{uuid.uuid4().hex}"
        writer = (
            plan.writeStream.outputMode(mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(self.dir, "checkpoint"))
        )
        if sink is None:
            writer = writer.format("memory").queryName(view)
        else:
            writer = writer.foreachBatch(sink)
        try:
            writer.start().awaitTermination()
            if sink is not None:
                return None
            return spark.table(view).localCheckpoint(eager=True)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            spark.catalog.dropTempView(view)


class BatchCollector:
    """foreachBatch sink collecting (batch_id, sorted row tuples).

    ``batch_transform`` runs *inside* foreachBatch on the micro-batch
    DataFrame — the exact semantics of the reference's per-batch
    ``transform``/``foreachRDD`` (DStream.scala:516-606): recomputed
    from scratch every batch, no cross-batch state."""

    def __init__(
        self, batch_transform: Callable[[DataFrame], DataFrame] | None = None
    ) -> None:
        self.batches: list[tuple[int, list[tuple]]] = []
        self._batch_transform = batch_transform

    def __call__(self, df: DataFrame, epoch_id: int) -> None:
        if self._batch_transform is not None:
            df = self._batch_transform(df)
        rows = sorted(tuple(r) for r in df.collect())
        self.batches.append((int(epoch_id), rows))

    @property
    def rows_per_batch(self) -> list[list[tuple]]:
        return [rows for _, rows in sorted(self.batches)]

    @property
    def all_rows(self) -> list[tuple]:
        return sorted(t for _, rows in self.batches for t in rows)


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
    foreachBatch (stateless, recomputed — reference
    transform/foreachRDD semantics)."""
    collector = BatchCollector(batch_transform)
    with StreamDrain(spark) as drain:
        input_dir = os.path.join(drain.dir, "in")
        os.makedirs(input_dir)
        paths = []
        for i, batch in enumerate(batches):
            paths.append(os.path.join(input_dir, f"batch_{i:05d}.json"))
            with open(paths[-1], "w") as f:
                f.writelines(json.dumps(rec) + "\n" for rec in batch)
        _ascending_mtimes(paths)
        sdf = file_stream(
            spark, input_dir, schema, fmt="json", max_files_per_trigger=1
        )
        out = transform(sdf) if transform is not None else sdf
        drain.run(out, output_mode, collector)
    return collector
