"""The one streaming drain.

``StreamDrain`` runs every streaming query in the package: it stages the
inputs, drains the plan with ``Trigger.AvailableNow`` into a memory or
foreachBatch sink (``BatchCollector`` collects per-batch rows), and
deletes everything it wrote on exit. Staged inputs are read one file
per micro-batch (``maxFilesPerTrigger=1``). The streaming tests'
golden-output harness (tests/golden_stream.py) drives the same drain.
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from spark_lever_spark.catalog import (
    _ensure_parity_confs,
    checkpoint,
    data_files,
    normalize_timestamps,
    parquet_schema,
)

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
    from it must be pinned first (``catalog.checkpoint``);
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
            return checkpoint(spark.table(view))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            spark.catalog.dropTempView(view)


class BatchCollector:
    """foreachBatch sink collecting (batch_id, sorted row tuples)."""

    def __init__(self) -> None:
        self.batches: list[tuple[int, list[tuple]]] = []

    def __call__(self, df: DataFrame, epoch_id: int) -> None:
        rows = sorted(tuple(r) for r in df.collect())
        self.batches.append((int(epoch_id), rows))

    @property
    def rows_per_batch(self) -> list[list[tuple]]:
        return [rows for _, rows in sorted(self.batches)]

    @property
    def all_rows(self) -> list[tuple]:
        return sorted(t for _, rows in self.batches for t in rows)

