"""Streaming file source + windowed aggregations.

Source parity (reference StreamingContext.scala:245-454, §2.D):
- textFileStream / fileStream -> `file_stream` (any DataSource format,
  schema required — streams are schematized DataFrames from day one,
  unlike the reference's ArrayBuffer[Any] blocks)
- queueStream (test input) -> one staged file per micro-batch
  (harness.StreamDrain.batches, and the tests' golden harness)
- socketTextStream and the Kafka direct stream are Spark's own
  `spark.readStream.format("socket" | "kafka")`; no wrapper adds to them.

Window parity (reference DStream.scala:640-651, WindowedDStream.scala):
the reference windows are unions of recent batch RDDs keyed by arrival
time. `window()` over an arrival-time column reproduces that; the same
helpers accept any event-time column as the modern superset. Session
windows and stream-stream joins are written directly in the registry
queries (`F.session_window`, `withWatermark(...).join(...)`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "json",
) -> DataFrame:
    """Directory-monitoring source (reference FileInputDStream.scala)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
) -> DataFrame:
    """DStream.window(winDur) with slide == winDur (DStream.scala:640):
    tumbling window aggregation. `watermark` bounds state for append
    sinks — the modern superset the reference lacked."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    group = [F.window(F.col(ts_col), window_duration), *[F.col(k) for k in keys]]
    return df.groupBy(*group).agg(*aggs)


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    slide_duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """DStream.window(winDur, slideDur) (DStream.scala:651) /
    reduceByKeyAndWindow (PairDStreamFunctions.scala:198-347). The
    reference maintained the window incrementally with an inverse
    reduce (ReducedWindowedDStream.scala:123-167); Structured
    Streaming's stateful window aggregation does that bookkeeping
    natively — no invReduceFunc needed."""
    group = [
        F.window(F.col(ts_col), window_duration, slide_duration),
        *[F.col(k) for k in keys],
    ]
    return df.groupBy(*group).agg(*aggs)
